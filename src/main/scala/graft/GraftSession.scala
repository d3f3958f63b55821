package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants}
import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the graft engine.
  *
  * Settings are chosen for correctness parity with the DuckDB oracle
  * (UTC session time zone) and for scale-sane defaults (AQE on, shuffle
  * partitions sized to the local core count rather than the 200 default;
  * on a real cluster this would be set to ~2-3x total cores, or left to
  * AQE coalescing).
  */
object GraftSession {
  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // the driver's events.parquet is currently micros-NTZ (readable with
      // no special conf); earlier generations carried TIMESTAMP(NANOS),
      // which Spark's vectorized reader only accepts under nanosAsLong
      // (read as epoch-nanos Long). Kept on so either generation reads;
      // FlowAdapter.flows dispatches on the resulting ts type and fails
      // loudly on anything else (r10 advisory). Owned HERE, not mutated on
      // the read path (r7 advisory: conf mutation as a read-path side
      // effect surprises a shared session)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.shuffle.partitions", "32")
      // r18: the default whole-stage-codegen class cache (100 entries) is
      // sized for a handful of long-running queries; a query-DIVERSE
      // workload (the 211-query registry, any multi-tenant serving
      // session) evicts and re-Janino-compiles stages continuously —
      // measured 0.5-0.9x per query on the bench tail after raising it.
      // COSTS (ADVICE r18): each entry pins a Janino classloader + its
      // GeneratedClass — METASPACE, not just heap — so 5000 entries can
      // hold ~50x the default's class memory; size down via
      // SPARK_GRAFT_CODEGEN_CACHE on metaspace-tight deployments. It is
      // also a STATIC conf: if the application already has a
      // SparkSession, getOrCreate silently ignores this value (the
      // existing session's cache size wins) — the getOrCreate warning
      // below covers the extensions half of that caveat; the cache half
      // is inherently silent, so library users embedding graft into an
      // existing session should set the conf in their own builder.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      // list files on the driver, whatever the path count: past the
      // default 32 paths Spark stats them in a separate job, one task per
      // path. Every graft master is local[N], so that job only moves the
      // getFileStatus calls onto the task slots the queries need and adds
      // a Hadoop-conf deserialization per task — about 50 extra tasks on
      // every 5 s live micro-batch of 50 landed files
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // `file:` without shell subprocesses (see GraftRawLocalFileSystem):
      // one FileSystem for parquet writes and manifests, one FileContext
      // file system for the streaming checkpoint
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    // getOrCreate returns any PRE-EXISTING session, whose static configs
    // (extensions, warehouse) our builder could not apply. GraftExtensions
    // is the only way graft enters a session, so such a session has no
    // graft SQL functions and no GroupTopKStrategy. Surface it loudly
    // instead of failing later at analysis or planning.
    if (!spark.conf.get("spark.sql.extensions", "").contains("GraftExtensions"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "GraftSession.getOrCreate reused a session built elsewhere: " +
        "graft.plans.GraftExtensions is NOT active, so the session has no " +
        "graft SQL functions (ip4_ntoa, heavy_hitters, theta_sketch, ...) " +
        "and queries using GroupTopK fail to plan GroupTopKNode. Build the " +
        "session via GraftSession first, or add the extension to your own " +
        "builder.")
    // Hadoop caches one `file:` FileSystem per JVM: one created before
    // this session (or a reused session's conf) keeps the stock file
    // system, which forks chmod/readlink on every write and checkpoint
    if (!localFsInstalled(spark.sparkContext.hadoopConfiguration))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "GraftSession.getOrCreate: the session's file: file system is not " +
        "graft.GraftLocalFileSystem/GraftLocalFs (a stock one was created " +
        "or cached first), so local writes and checkpoints fork chmod and " +
        "readlink processes. Build the session via GraftSession before any " +
        "other Hadoop file system use.")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Whether both Hadoop APIs resolve `file:` to the graft local file
    * system under `conf`. */
  def localFsInstalled(conf: Configuration): Boolean =
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[GraftLocalFileSystem] &&
      FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs]
}
