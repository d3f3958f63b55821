package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal snapshot-manifest table layout: the transactional commit
  * protocol that lets compaction run ONLINE, concurrent with streaming
  * appends — ClickHouse merges parts while inserting
  * (the reference's `README.md:164-172`); a plain parquet directory has no
  * atomic multi-file swap, so compacting one means stopping the stream.
  * This layout adds one:
  *
  * {{{
  * table/
  *   event_date=…/b<batchId>-<uuid>.parquet    data files (never mutated)
  *   _graft_manifest/v<version>.manifest       committed snapshots
  * }}}
  *
  * Readers resolve the HIGHEST committed version (O(1) via the
  * `_latest.hint` pointer + forward probe; full listing only as fallback)
  * and read exactly the files it names — uncommitted/orphaned data files
  * are invisible. Superseded manifests are garbage-collected by [[vacuum]]
  * (retain-last-N), so metadata cost stays flat over an always-on table's
  * lifetime: each commit writes one manifest of O(live files) — bounded by
  * compaction — not O(commits ever made). A commit stages the new file
  * list and atomically publishes it at `v<latest+1>.manifest` iff that
  * name is free; publish-if-absent doubles as compare-and-swap, so a loser
  * re-reads the latest snapshot,
  * re-applies its delta (add files / replace files), and retries. Writers
  * in the same JVM (the normal driver topology: stream thread + compactor
  * thread) additionally serialize on an intern'd path lock, making the
  * CAS race-free locally; across JVMs the storage layer's publish-if-absent
  * primitive gives the same guarantee. That primitive is PLUGGABLE
  * ([[CasPrimitive]]): `link(2)` create-if-absent on POSIX — the same
  * shape as an object store's conditional PUT — is the default
  * ([[ConditionalPutCas]]); [[RenameCas]] serves HDFS-like stores whose
  * rename natively fails on an existing destination. The whole protocol
  * needs exactly one storage guarantee, "make this fully-formed object
  * appear at this name iff nothing is there", and everything else is
  * ordinary immutable-file I/O — which since r8 ALSO flows through a seam
  * ([[FileIO]]: GET/PUT/LIST/DELETE/promote, [[PosixFileIO]] default), so
  * an object-store build supplies two small implementations and no
  * protocol code changes. ManifestTableSpec proves it by re-running the
  * crash matrix on an emulation that has no rename and no hard links.
  *
  * Why this beats the r2 protocol at scale: the folded output of a
  * compaction is written as REAL parquet in the table directory before the
  * swap — durable on disk, not `localCheckpoint` executor-memory blocks
  * backing an overwrite of their own inputs (r2 verdict: an executor loss
  * mid-OPTIMIZE could lose the table). A crash before the manifest commit
  * leaves only invisible orphan files (removed by [[vacuum]]); a crash
  * after is a completed compaction. Readers at any instant see exactly one
  * committed snapshot: no loss, no duplication.
  */
object ManifestTable {

  /** The ONE storage primitive the commit protocol needs: atomically
    * publish a fully-formed object at `target` iff nothing exists there.
    * Returns false (and publishes nothing) when the name is taken — the
    * CAS loss signal that drives optimistic retry. Open for extension on
    * purpose: an object-store build implements it over the store's
    * conditional PUT, and fault-injection specs wrap it to crash a
    * publisher at chosen points (the protocol must recover from any). */
  trait CasPrimitive {
    def publish(target: Path, bytes: Array[Byte]): Boolean
  }

  /** Every OTHER storage operation the manifest layer performs — ordinary
    * immutable-object I/O, deliberately restricted to what an object store
    * offers: GET, whole-object PUT, conditional-free DELETE, LIST. Nothing
    * here requires atomic rename, hard links, or directories as
    * first-class objects; together with [[CasPrimitive]] this is the
    * COMPLETE storage contract (r7: ~44 direct `java.nio.Files` calls had
    * no seam, so "swap the SDK call and nothing else changes" was a
    * comment — now it is this trait). The crash matrix in
    * ManifestTableSpec runs against an emulation that implements this with
    * no rename/link at all, proving the protocol needs only the documented
    * primitives. Paths are used as store KEYS; the data plane (parquet
    * file contents) is still read/written by Spark through its Hadoop
    * filesystem for the table's scheme — this seam carries the manifest
    * layer's own control I/O and file placement. */
  trait FileIO {
    def exists(path: Path): Boolean
    def read(path: Path): Array[Byte]
    /** Whole-object PUT, overwrite allowed. Must be atomic at the object
      * level (stores are natively; the POSIX impl hides a tmp+rename as an
      * implementation detail — the PROTOCOL never asks for rename). */
    def write(path: Path, bytes: Array[Byte]): Unit
    /** Idempotent delete. */
    def delete(path: Path): Unit
    /** Immediate children of `dir`; empty when absent. */
    def list(dir: Path): Seq[Path]
    /** Regular files anywhere under `dir`; empty when absent. */
    def listRecursive(dir: Path): Seq[Path]
    /** Remove everything under the prefix (POSIX: the directory tree). */
    def deletePrefix(dir: Path): Unit
    def lastModifiedMillis(path: Path): Long
    /** Byte length of a stored object (an object store's HEAD). */
    def size(path: Path): Long
    /** Publish a finished staging file at its final name and drop the
      * staged copy. NO atomicity required: a data file is invisible until
      * a manifest commit names it, so a half-copied object is just one
      * more orphan for [[vacuum]]. POSIX moves; object stores upload (or
      * server-side-copy) + delete source. */
    def promote(src: Path, target: Path): Unit
    /** Ensure a container exists for children (POSIX mkdir -p; stores have
      * no directories — default no-op). */
    def mkdirs(dir: Path): Unit = ()
  }

  /** Local-filesystem [[FileIO]] (default). The tmp+ATOMIC_MOVE inside
    * [[write]] exists so a crashed hint write can't leave a truncated
    * object — the equivalent of the atomicity an object store's PUT gives
    * for free; no caller depends on rename semantics. */
  object PosixFileIO extends FileIO {
    def exists(path: Path): Boolean = Files.exists(path)
    def read(path: Path): Array[Byte] = Files.readAllBytes(path)
    def write(path: Path, bytes: Array[Byte]): Unit = {
      Files.createDirectories(path.getParent)
      val tmp = path.getParent.resolve(s".hint-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bytes)
      Files.move(tmp, path,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    def delete(path: Path): Unit = Files.deleteIfExists(path)
    def list(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else listed(Files.list(dir))(_.toList)
    def listRecursive(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else listed(Files.walk(dir))(_.filter(Files.isRegularFile(_)).toList)
    def deletePrefix(dir: Path): Unit = graft.Storage.deleteTree(dir)
    def lastModifiedMillis(path: Path): Long =
      Files.getLastModifiedTime(path).toMillis
    def size(path: Path): Long = Files.size(path)
    def promote(src: Path, target: Path): Unit =
      promoteImpl(src, target, p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())))

    /** Promotion with the mtime INVARIANT enforced, not hoped for: vacuum's
      * grace counts file age from PROMOTION, so the published file must
      * carry a fresh mtime — a rename that preserved the parquet-write
      * mtime let a long compaction's early parts age past the cutoff
      * before their commit (r8 review). The stamp lands on the SOURCE
      * before the rename; if the filesystem refuses it (no settable
      * mtime, permissions), fall back to copy+delete — a newly created
      * file carries a fresh mtime by construction. A swallowed stamp
      * failure here silently revived that data-loss race (r9 advisory),
      * so the final state is VERIFIED: if the published file's mtime is
      * still stale, promote throws and the stage fails loudly (the
      * promoted file is at worst an invisible orphan — no manifest names
      * it) — the operator learns grace-based reaping is unreliable on
      * that filesystem instead of losing a table to it.
      * (`stamp` is injectable so the fallback path is testable on a
      * filesystem whose real stamp works.) */
    private[graft] def promoteImpl(src: Path, target: Path,
        stamp: Path => Unit): Unit = {
      val begun = System.currentTimeMillis()
      Files.createDirectories(target.getParent)
      try {
        stamp(src)
        Files.move(src, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.io.IOException if Files.exists(src) =>
          Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
          Files.delete(src)
      }
      val published = Files.getLastModifiedTime(target).toMillis
      if (published < begun - 1000L)
        throw new java.io.IOException(
          s"promotion could not refresh the mtime of $target " +
            s"(stamped $published, promotion began $begun): grace-based " +
            "vacuum counts age from promotion and would race in-flight " +
            "stages on this filesystem — fix the store or vacuum only " +
            "with writers stopped")
    }
    override def mkdirs(dir: Path): Unit = { Files.createDirectories(dir); () }
  }

  /** Publish-if-absent via `link(2)` (DEFAULT): the complete bytes land in
    * a temp file, and hard-link creation atomically binds them to `target`
    * — failing with EEXIST if the name is taken. This is the operation
    * POSIX actually guarantees to FAIL on an existing destination;
    * `rename(2)` silently REPLACES one, so the r3 protocol's
    * `Files.move(…, ATOMIC_MOVE)` "rename-no-overwrite CAS" was not a CAS
    * across JVMs on a local/POSIX filesystem (the in-JVM table lock masked
    * it; the raw-primitive race test caught 16/16 racers "winning").
    * Deployment mapping: this shape IS the object-store conditional PUT —
    * S3 `If-None-Match: *`, GCS `ifGenerationMatch(0)`, ABFS conditional
    * create — publish a fully-formed object iff the name is free; an
    * object-store build swaps the body for the store SDK call and nothing
    * else in the protocol changes. */
  case object ConditionalPutCas extends CasPrimitive {
    def publish(target: Path, bytes: Array[Byte]): Boolean = {
      val tmp = target.getParent.resolve(s".put-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    }
  }

  /** HDFS-posture CAS: temp file + rename onto the final name, relying on
    * the STORE's no-overwrite rename contract. HDFS `rename` natively
    * fails when the destination exists, making this a true CAS there — but
    * local/POSIX `rename(2)` replaces silently, so on a local filesystem
    * this primitive is only safe under the in-JVM table lock (single-driver
    * topology). Cross-JVM local deployments must use [[ConditionalPutCas]];
    * this one exists for HDFS-like stores where rename-no-overwrite is the
    * cheapest native primitive. */
  case object RenameCas extends CasPrimitive {
    def publish(target: Path, bytes: Array[Byte]): Boolean = {
      if (Files.exists(target)) return false // advisory; HDFS makes the move itself fail
      val tmp = target.getParent.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bytes)
      try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); false
      }
    }
  }

  /** Commit primitive selection: per-table override (tests, mixed-store
    * deployments) over the JVM-wide default (`graft.manifest.cas` system
    * property: `put` (default) | `rename`). */
  private val casOverrides = new java.util.concurrent.ConcurrentHashMap[String, CasPrimitive]()
  def setCasPrimitive(table: String, p: CasPrimitive): Unit =
    casOverrides.put(Paths.get(table).toAbsolutePath.normalize.toString, p)
  def clearCasPrimitive(table: String): Unit =
    casOverrides.remove(Paths.get(table).toAbsolutePath.normalize.toString)
  private def casFor(table: String): CasPrimitive =
    Option(casOverrides.get(Paths.get(table).toAbsolutePath.normalize.toString))
      .getOrElse(sys.props.get("graft.manifest.cas") match {
        case Some("rename") => RenameCas
        case _ => ConditionalPutCas
      })

  /** Ordinary-I/O selection, same shape as the CAS override: per-table for
    * tests/mixed deployments, [[PosixFileIO]] default. */
  private val ioOverrides = new java.util.concurrent.ConcurrentHashMap[String, FileIO]()
  def setFileIO(table: String, io: FileIO): Unit =
    ioOverrides.put(Paths.get(table).toAbsolutePath.normalize.toString, io)
  def clearFileIO(table: String): Unit =
    ioOverrides.remove(Paths.get(table).toAbsolutePath.normalize.toString)
  private def ioFor(table: String): FileIO =
    Option(ioOverrides.get(Paths.get(table).toAbsolutePath.normalize.toString))
      .getOrElse(PosixFileIO)

  /** The [[FileIO]] bound to `table` — for sibling control-plane
    * artifacts (e.g. the IVF drift telemetry) that must ride the same
    * storage seam as the table they describe. */
  private[graft] def io(table: String): FileIO = ioFor(table)

  private val manifestDirName = "_graft_manifest"
  private val hintName = "_latest.hint"

  /** Per-path in-JVM commit lock (stream + compactor share the driver). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    locks.computeIfAbsent(Paths.get(table).toAbsolutePath.normalize.toString, _ => new Object)

  private def manifestDir(table: String): Path = Paths.get(table, manifestDirName)

  private def listed[A](s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  private def versionOf(p: Path): Long = {
    val n = p.getFileName.toString
    n.stripPrefix("v").stripSuffix(".manifest").toLong
  }

  private def manifestPath(dir: Path, v: Long): Path = dir.resolve(f"v$v%020d.manifest")

  /** Advisory pointer to the latest version, rewritten after every commit.
    * Correctness never depends on it: a stale-low hint is fixed by the
    * forward probe, a missing/corrupt one falls back to a full listing, and
    * the rename-no-overwrite CAS still rejects commits built on a stale
    * read. It exists so latest-version lookup — paid on every read AND
    * inside the commit lock on every append/swap — is O(1), not
    * O(all manifests ever committed): an always-on table at a 5-second
    * trigger accumulates ~17k manifests/day, and without the hint every
    * commit re-lists all of them. */
  private def readHint(io: FileIO, dir: Path): Option[Long] = {
    val h = dir.resolve(hintName)
    if (!io.exists(h)) None
    else try Some(new String(io.read(h), "UTF-8").trim.toLong)
    catch {
      case _: NumberFormatException => None
      case _: java.io.IOException => None // vanished mid-read: fall back
    }
  }

  private def writeHint(io: FileIO, dir: Path, v: Long): Unit =
    try io.write(dir.resolve(hintName), v.toString.getBytes("UTF-8"))
    catch { case _: java.io.IOException => () } // best-effort: readers fall back

  /** O(1) latest-manifest lookup: hint + forward probe (covers commits by
    * other JVMs since the hint was written); full listing only when the
    * hint is absent or points at a vanished file. */
  private def latestManifest(io: FileIO, dir: Path): Option[Path] = {
    val hinted = readHint(io, dir)
      .filter(v => v > 0 && io.exists(manifestPath(dir, v)))
      .map { h =>
        var v = h
        while (io.exists(manifestPath(dir, v + 1))) v += 1
        manifestPath(dir, v)
      }
    hinted.orElse(io.list(dir)
      .filter(_.getFileName.toString.matches("v\\d+\\.manifest"))
      .maxByOption(versionOf))
  }

  /** One committed file with its optional column statistics and byte
    * size. A manifest line is tab-separated:
    *  - `path` — a bare relative path (legacy);
    *  - `path<TAB>size` — a sized file without stats;
    *  - `path<TAB>statsCol<TAB>min<TAB>max` — the (min,max) of one
    *    LONG/INT column, recorded by [[stage]] from the parquet footer the
    *    writer just produced (legacy, unsized);
    *  - `path<TAB>statsCol<TAB>min<TAB>max<TAB>size` — both.
    * Stats ride the manifest so range queries skip files at the
    * MANIFEST, before any footer read — the ClickHouse
    * `ORDER BY TimeReceived` intra-partition range-scan parity for managed
    * tables (create.sh:62); at ~10^5 files/day of always-on ingest the
    * difference is a string compare per file vs a footer fetch per file.
    * The size lets a reader plan the file without a stat (see [[read]]). */
  final case class FileEntry(path: String, stats: Option[(String, Long, Long)],
      size: Option[Long] = None) {
    def line: String =
      (Seq(path) ++ stats.toSeq.flatMap { case (c, mn, mx) => Seq(c, mn.toString, mx.toString) } ++
        size.map(_.toString)).mkString("\t")
  }

  private[graft] def parseEntry(line: String): FileEntry = {
    def num(s: String): Option[Long] = s.toLongOption
    def stats(c: String, mn: String, mx: String) =
      for (lo <- num(mn); hi <- num(mx)) yield (c, lo, hi)
    line.split('\t') match {
      case Array(p) => FileEntry(p, None)
      case Array(p, sz) => FileEntry(p, None, num(sz))
      case Array(p, c, mn, mx) => FileEntry(p, stats(c, mn, mx))
      case Array(p, c, mn, mx, sz) => FileEntry(p, stats(c, mn, mx), num(sz))
      case _ => FileEntry(pathOf(line), None)
    }
  }

  private def pathOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** One committed manifest: the highest absorbed batch id (`#maxBatch:`
    * header, -1 if none), the schema of the table's rows (`#schema:`
    * header, Spark's JSON form; None in manifests written before it
    * existed) and the file lines. Header lines start with `#`; a file
    * line never does. */
  private[graft] final case class Manifest(maxBatch: Long,
      schema: Option[org.apache.spark.sql.types.StructType], lines: Seq[String]) {
    def render: String =
      (s"#maxBatch:$maxBatch" +: (schema.map(s => s"#schema:${s.json}").toSeq ++ lines))
        .mkString("\n")
  }

  private[graft] def parseManifest(text: String, source: String): Manifest = {
    val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
    def header(tag: String) = lines.find(_.startsWith(tag)).map(_.stripPrefix(tag))
    val maxBatch = header("#maxBatch:").fold(-1L) { h =>
      // fail LOUDLY with context on a corrupt header — silently
      // degrading to -1 would disarm the replay guard and
      // double-append on the next checkpoint replay (r8 review:
      // descriptive beats a bare NumberFormatException, but this
      // must not be a silent fallback)
      h.toLongOption.getOrElse(throw new IllegalStateException(
        s"corrupt manifest header '#maxBatch:$h' in $source — the table's replay " +
          "guard cannot be trusted; restore the manifest from the " +
          "previous version (vacuum retains history)"))
    }
    // an unreadable schema only costs the inference a header spares
    val schema = header("#schema:").flatMap(j =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)).toOption.collect {
        case s: org.apache.spark.sql.types.StructType => s
      })
    Manifest(maxBatch, schema, lines.filterNot(_.startsWith("#")))
  }

  /** Latest committed (version, relative file list); (0, empty) if none. */
  def snapshot(table: String): (Long, Seq[String]) =
    readLatest(table) match { case (v, m) => (v, m.lines.map(pathOf)) }

  /** [[snapshot]] with per-file statistics preserved. */
  def snapshotEntries(table: String): (Long, Seq[FileEntry]) =
    readLatest(table) match { case (v, m) => (v, m.lines.map(parseEntry)) }

  /** Highest batch id any committed snapshot has absorbed; -1 if none. */
  def maxBatchId(table: String): Long = readLatest(table)._2.maxBatch

  private def readLatest(table: String): (Long, Manifest) = {
    val io = ioFor(table)
    latestManifest(io, manifestDir(table)) match {
      case None => (0L, Manifest(-1L, None, Nil))
      case Some(m) => (versionOf(m), parseManifest(new String(io.read(m), "UTF-8"), m.toString))
    }
  }

  /** Read the table at its latest committed snapshot. `basePath` keeps
    * partition-directory columns (event_date=…) in the schema even though
    * we hand Spark an explicit file list. A committed-but-empty table (all
    * batches so far produced zero rows) composes as an empty DataFrame when
    * the caller supplies the table schema; without one there is nothing to
    * infer from, so it stays an error.
    *
    * A manifest with a `#schema:` header is read from the manifest alone:
    * the header replaces Spark's schema-inference job and each entry's
    * recorded size stands in for a file stat, so opening the snapshot runs
    * no Spark job and touches no data file. A manifest without the header
    * (written before it existed) reads through inference, as it always
    * did. */
  def read(spark: SparkSession, table: String,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val m = readLatest(table)._2
    readFiles(spark, table, m.lines.map(parseEntry), m.schema, emptySchema,
      s"empty manifest table: $table (pass emptySchema to read it as an empty DataFrame)")
  }

  /** The one "read this committed file list" step every read shares. A
    * MIXED layout (flat legacy appends + later partitioned appends in one
    * table) is read as two groups and unioned by name — handing Spark both
    * leaf shapes under one basePath would fail partition discovery
    * ("conflicting directory structures"); flat files surface the
    * partition column as null. */
  private def readFiles(spark: SparkSession, table: String, files: Seq[FileEntry],
      schema: Option[org.apache.spark.sql.types.StructType],
      emptySchema: Option[org.apache.spark.sql.types.StructType],
      emptyMsg: String): DataFrame = {
    if (files.isEmpty) emptySchema match {
      case Some(s) =>
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
      case None => throw new IllegalArgumentException(emptyMsg)
    }
    else {
      val (part, flat) = files.partition(e => isPartitioned(e.path))
      def group(es: Seq[FileEntry], basePath: Option[String]): Option[DataFrame] =
        if (es.isEmpty) None
        else Some(schema match {
          case Some(s) =>
            val root = new org.apache.hadoop.fs.Path(table)
            org.apache.spark.sql.graftbridge.KnownFiles.parquet(spark,
              es.map(e => (new org.apache.hadoop.fs.Path(root, e.path), e.size)),
              basePath.map(new org.apache.hadoop.fs.Path(_)), s)
          case None =>
            val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
            reader.parquet(es.map(e => s"$table/${e.path}"): _*)
        })
      Seq(group(part, Some(table)), group(flat, None)).flatten
        .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
    }
  }

  private def isPartitioned(path: String): Boolean =
    path.contains('/') && path.contains('=')

  /** Read an explicit committed-file subset (compaction inputs) with the
    * same mixed-layout handling as [[read]] — a single basePath read over
    * flat + partitioned leaves fails partition discovery. */
  private[graft] def readSelected(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame = {
    val m = readLatest(table)._2
    val sized = m.lines.map(parseEntry).map(e => e.path -> e).toMap
    readEntries(spark, table, files.map(f => sized.getOrElse(f, FileEntry(f, None))), m.schema)
  }

  private def readEntries(spark: SparkSession, table: String, files: Seq[FileEntry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    readFiles(spark, table, files, schema, None, s"no files to read in manifest table: $table")

  /** The partition directory a committed file lives in (`event_date=…`,
    * nested dirs included); "" for an unpartitioned file. */
  def partitionDir(path: String): String =
    path.lastIndexOf('/') match { case -1 => ""; case i => path.substring(0, i) }

  /** Group a committed file list by partition directory — the groups
    * [[compact]] judges (layout inspection for callers and specs). */
  def filesByPartition(files: Seq[String]): Map[String, Seq[String]] =
    files.groupBy(partitionDir)

  /** Last [[readPruned]] selectivity per table — (files selected, files in
    * snapshot). Test seam: specs assert a probe read a bounded subset. */
  private[graft] val pruneStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Read only the snapshot files under the partition directories named by
    * `keep` — manifest-level file pruning, the same shape as a lakehouse
    * table skipping files by partition stats. The manifest records each
    * file's partition directory (`partitionCol=value/…`), so a reader that
    * knows its probe keys hands Spark ONLY the matching files: a probe of
    * a corpus-sized index costs O(files in probed buckets), not O(table).
    * Files outside any `partitionCol=` directory (a legacy unpartitioned
    * append) are conservatively kept — correctness never depends on the
    * layout. `range` = (statsCol, lo, hi) additionally drops files whose
    * recorded (min,max) does not overlap [lo, hi), as [[readRangePruned]]:
    * bucket and range pruning compose (the streaming near-dup probe
    * horizon skips beyond-horizon index files this way). */
  def readPruned(spark: SparkSession, table: String, partitionCol: String,
      keep: Set[String], emptySchema: Option[org.apache.spark.sql.types.StructType] = None,
      range: Option[(String, Long, Long)] = None): DataFrame = {
    val dirs = keep.map(v => s"$partitionCol=$v/")
    // anchored at the path start: an unanchored contains() misclassified a
    // probed column whose name is a SUFFIX of the real partition column
    // ("date" vs "event_date") and silently dropped committed files
    // (r8 review); a file not partitioned by this column is kept
    readSelection(spark, table, emptySchema) { e =>
      (!e.path.startsWith(s"$partitionCol=") || dirs.exists(e.path.startsWith)) &&
        range.forall { case (c, lo, hi) => overlaps(e, c, lo, hi) }
    }
  }

  private[graft] def lastPruneStats(table: String): Option[(Int, Int)] =
    Option(pruneStats.get(Paths.get(table).toAbsolutePath.normalize.toString))

  /** Read only the snapshot files whose recorded `statsCol` (min,max)
    * OVERLAPS `[lo, hi)` — manifest-level range skipping, the managed-table
    * analog of ClickHouse's `ORDER BY TimeReceived` range scan
    * (`create.sh:62`): a 1-hour dashboard query on a multi-day always-on
    * table selects files by a long compare per manifest entry, paying zero
    * footer reads for the files it skips. Files without recorded stats
    * (legacy appends, writers that passed no statsCol, non-integral
    * columns) are conservatively KEPT — skipping is an optimization,
    * correctness never depends on it. File overlap ≠ row membership: the
    * caller applies its own residual `statsCol` predicate, exactly as with
    * partition pruning. */
  def readRangePruned(spark: SparkSession, table: String, statsCol: String,
      lo: Long, hi: Long,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readSelection(spark, table, emptySchema)(overlaps(_, statsCol, lo, hi))

  /** True unless `e` records `statsCol` bounds wholly outside `[lo, hi)`. */
  private def overlaps(e: FileEntry, statsCol: String, lo: Long, hi: Long): Boolean =
    e.stats match {
      case Some((c, mn, mx)) if c == statsCol => mx >= lo && mn < hi
      case _ => true
    }

  /** The one file selection every pruned read shares: the snapshot
    * entries `keep` accepts, with the selectivity recorded in
    * [[pruneStats]]. Returns (selected, every snapshot entry, the
    * manifest's schema header). */
  private def selectFiles(table: String)(keep: FileEntry => Boolean)
      : (Seq[FileEntry], Seq[FileEntry], Option[org.apache.spark.sql.types.StructType]) = {
    val m = readLatest(table)._2
    val entries = m.lines.map(parseEntry)
    val selected = entries.filter(keep)
    pruneStats.put(Paths.get(table).toAbsolutePath.normalize.toString,
      (selected.size, entries.size))
    (selected, entries, m.schema)
  }

  /** Read a [[selectFiles]] selection. A selection with NO file is a
    * legitimate empty result (a quiet hour, a future window, unprobed
    * buckets): without `emptySchema` its schema is the table's — planned
    * over one committed file of EACH layout group and cut to zero rows,
    * since on a mixed flat+partitioned table a single flat file would omit
    * the partition column the non-empty result carries via unionByName
    * (r8 review). The zero-row limit plans as an empty local relation, so
    * no file is read; with a `#schema:` header not even a footer is. */
  private def readSelection(spark: SparkSession, table: String,
      emptySchema: Option[org.apache.spark.sql.types.StructType])
      (keep: FileEntry => Boolean): DataFrame = {
    val (selected, all, schema) = selectFiles(table)(keep)
    if (selected.isEmpty && emptySchema.isEmpty && all.nonEmpty)
      readEntries(spark, table,
        (all.find(e => isPartitioned(e.path)) ++ all.find(e => !isPartitioned(e.path))).toSeq,
        schema).limit(0)
    else readFiles(spark, table, selected, schema, emptySchema,
      s"no files selected in manifest table: $table (pass emptySchema)")
  }

  /** True if this batch is already absorbed — the replay guard that makes
    * foreachBatch appends exactly-once. Keyed on the MANIFEST-RECORDED max
    * batch id, not filenames: compaction renames data files, and Spark's
    * checkpoint guarantees batch ids commit in order per query, so a
    * replayed id is always ≤ the recorded max (the same max-batchId
    * contract Spark documents for idempotent batch sinks). A table is
    * paired with one checkpoint lineage; re-pointing a FRESH checkpoint at
    * an existing table restarts ids at 0 and must use a new table dir. */
  def hasBatch(table: String, batchId: Long): Boolean =
    batchId <= maxBatchId(table)

  /** Optimistic commit: transform the latest committed file list and
    * atomically publish it as the next version. Retries on CAS loss with
    * the delta re-applied to the fresh snapshot. `delta` returning None
    * aborts without publishing (used by [[swap]] when its snapshot went
    * stale — re-applying a swap on top of someone else's swap would
    * DUPLICATE the staged copy; the 50M scale run caught exactly that). */
  def tryCommit(table: String, absorbBatch: Option[Long] = None)
      (delta: Seq[String] => Option[Seq[String]]): Option[Long] =
    tryCommitCore(table, None)((files, maxB) =>
      delta(files).map(next => (next, math.max(maxB, absorbBatch.getOrElse(-1L)))))

  /** The CAS loop itself: `delta` sees the snapshot's (files, maxBatch)
    * and returns the next (files, maxBatch) — re-evaluated per attempt, so
    * anything derived from the snapshot (an allocated batch id, a
    * membership check) is decided ATOMICALLY with the commit that uses
    * it. The `#schema:` header is carried over from the snapshot; a
    * snapshot without one takes `schema` (the committing writer's). */
  private def tryCommitCore(table: String, schema: Option[org.apache.spark.sql.types.StructType])
      (delta: (Seq[String], Long) => Option[(Seq[String], Long)]): Option[Long] =
    lockFor(table).synchronized {
      val io = ioFor(table)
      val dir = manifestDir(table)
      io.mkdirs(dir)
      var attempts = 0
      while (attempts < 100) {
        attempts += 1
        val (v, m) = readLatest(table)
        delta(m.lines, m.maxBatch) match {
          case None => return None
          case Some((next, newMax)) =>
            val bytes = Manifest(newMax, m.schema.orElse(schema), next).render.getBytes("UTF-8")
            val target = manifestPath(dir, v + 1)
            // publish-if-absent IS the CAS — a loser retries its delta on
            // the new snapshot
            if (casFor(table).publish(target, bytes)) {
              writeHint(io, dir, v + 1)
              return Some(v + 1)
            }
        }
      }
      throw new IllegalStateException(s"manifest commit contention on $table")
    }

  /** Append with an ATOMICALLY allocated batch id — for writers OUTSIDE
    * Spark's checkpointed-batch contract (incremental index appends,
    * ad-hoc loads). [[append]]'s replay guard assumes ids come from one
    * checkpoint lineage; deriving one as `maxBatchId+1` outside the
    * commit would let two concurrent appenders read the same max and have
    * the loser silently no-op as a "replay" (r8 review). Here the id is
    * `maxBatch+1` of the snapshot each CAS attempt commits against, so
    * every caller's files land exactly once. Returns the absorbed id. */
  def appendAllocate(df: DataFrame, table: String, partitionCol: Option[String],
      statsCol: Option[String] = None): Long = {
    val (staged, schema) = stage(df, table, partitionCol, s"a${System.nanoTime()}", statsCol)
    var allocated = -1L
    tryCommitCore(table, Some(schema)) { (files, maxB) =>
      allocated = maxB + 1
      Some((files ++ staged.map(_.line), maxB + 1))
    }
    allocated
  }

  def commit(table: String, absorbBatch: Option[Long] = None)
      (delta: Seq[String] => Seq[String]): Long =
    tryCommit(table, absorbBatch)(files => Some(delta(files))).get

  /** Stage `df` into the table directory and commit it as an APPEND.
    * Data files land under their partition dirs named `b<batchId>-<uuid>`;
    * a replay of an already-committed batch is a no-op (exactly-once on
    * top of Spark's checkpointed offsets). `statsCol` (a LONG/INT column)
    * records each file's (min,max) in the manifest entry for
    * [[readRangePruned]] file skipping. */
  def append(df: DataFrame, table: String, partitionCol: Option[String],
      batchId: Long, statsCol: Option[String] = None): Unit = {
    if (hasBatch(table, batchId)) return
    val (staged, schema) = stage(df, table, partitionCol, s"b$batchId", statsCol)
    // commit even when the batch produced no files: the id must be
    // absorbed into the manifest header or a replay would re-run it
    tryCommitCore(table, Some(schema))((files, maxB) =>
      Some((files ++ staged.map(_.line), math.max(maxB, batchId))))
  }

  /** [[append]] of a plan carrying an [[org.apache.spark.sql.Observation]],
    * followed by `record` of the observed metrics — the per-commit line
    * (an index's drift line, a quality leg's score line) written AFTER
    * the commit as advisory telemetry. The replay guard runs first: on an
    * absorbed `batch` no append job runs, so `Observation.get` would block
    * forever. A replay whose commit is durable but whose line at
    * `linePath` is missing (a crash landed between the commit and
    * `record`) re-derives the observation from the re-delivered rows —
    * one `noop` write, no second manifest commit — so lines stay exactly
    * one per batch. */
  def appendObserved(table: String, partitionCol: Option[String], batch: Long,
      linePath: Path)(plan: org.apache.spark.sql.Observation => DataFrame)
      (record: org.apache.spark.sql.Observation => Unit): Unit = {
    val obs = org.apache.spark.sql.Observation()
    if (!hasBatch(table, batch)) append(plan(obs), table, partitionCol, batch)
    else if (ioFor(table).exists(linePath)) return
    else plan(obs).write.mode("overwrite").format("noop").save()
    record(obs)
  }

  /** Replace `replaced` files with the staged contents of `df` in one
    * commit — the compaction swap. Files appended concurrently (present in
    * the latest snapshot but not in `replaced`) survive untouched.
    *
    * Returns false (and deletes its staged files) if ANY `replaced` file
    * has already left the manifest — i.e. another swap won the race. A
    * stale swap must ABORT, never re-apply: its staged output is a copy of
    * data the winning swap already re-staged, so applying both doubles the
    * table. Appends never conflict with this check (they only add files). */
  def swap(df: DataFrame, table: String, partitionCol: Option[String],
      replaced: Seq[String], statsCol: Option[String] = None): Boolean =
    swapPrefixed(df, table, partitionCol, replaced, s"c${System.nanoTime()}", statsCol)

  /** [[swap]] whose staged files carry an APPEND-STYLE batch identity
    * (`b<batchId>-` prefix): batch-bounded readers ([[readBatchSince]] /
    * [[batchSinceFiles]]) then treat the fold as belonging to `batchId`
    * instead of conservatively re-reading it in every future window. Used
    * by the escapee-sweep purge, whose fold of window `[since, upTo)` is
    * fully adjudicated — tagging it with the window's max batch keeps the
    * NEXT sweep's left side O(its own window), never O(everything ever
    * swept). */
  def swapAsBatch(df: DataFrame, table: String, partitionCol: Option[String],
      replaced: Seq[String], batchId: Long, statsCol: Option[String] = None): Boolean =
    swapPrefixed(df, table, partitionCol, replaced, s"b$batchId", statsCol)

  private def swapPrefixed(df: DataFrame, table: String, partitionCol: Option[String],
      replaced: Seq[String], prefix: String, statsCol: Option[String]): Boolean = {
    val (staged, schema) = stage(df, table, partitionCol, prefix, statsCol)
    val dead = replaced.toSet // PATHS; manifest lines may carry stats
    val committed = tryCommitCore(table, Some(schema)) { (lines, maxB) =>
      // Set membership both ways: replaced.forall(files.contains) was a
      // quadratic Seq scan held under the per-table commit lock on every
      // CAS attempt — ~10^8 comparisons for a 10k-file swap (r7 review)
      val livePaths = lines.map(pathOf).toSet
      if (dead.subsetOf(livePaths))
        Some((lines.filterNot(l => dead(pathOf(l))) ++ staged.map(_.line), maxB))
      else None
    }
    if (committed.isEmpty)
      staged.foreach(e => ioFor(table).delete(Paths.get(table).resolve(e.path)))
    committed.nonEmpty
  }

  /** ONLINE compaction — the one every always-on table here runs
    * (ClickHouse's background part merge, `README.md:164-172`): rewrite
    * each fragmented group of the current snapshot and [[swap]] it in,
    * while appends keep landing. The decisions are all made here; a
    * caller states only `rewrite`, which receives the group's committed
    * rows and the number of partition directories they span, and returns
    * what to stage in their place (its partitioning decides the output
    * files per directory).
    *  - A group is one partition directory's files (an unpartitioned
    *    table is one group); it is fragmented when it holds more than
    *    `threshold` files. Only fragmented groups are read or rewritten,
    *    so a cycle costs ∝ fresh fragmentation, not table size. Flat
    *    files in a table partitioned by `partitionCol` (legacy appends)
    *    are never rewritten: a partitioned rewrite would misfile them.
    *  - `eraSpan` > 0 also splits groups by ERA — min `statsCol` /
    *    eraSpan, from the manifest stats; files without stats share one
    *    era — and swaps once per era, so a folded file spans at most one
    *    era and range pruning and [[expireByStats]] keep skipping it.
    *  - Each swap re-records `statsCol`, so range skipping survives.
    *  - Safe beside the running stream: files appended after the snapshot
    *    are not in the replaced set and survive; readers see exactly one
    *    committed snapshot; the rewrite is durable parquet before the
    *    swap. A swap whose snapshot went stale (another compaction won)
    *    aborts cleanly and the call returns false; the next call retries.
    * Returns true when every era committed (or nothing was fragmented). */
  def compact(spark: SparkSession, table: String, partitionCol: Option[String],
      statsCol: Option[String], threshold: Int = 1, eraSpan: Long = 0L)
      (rewrite: (DataFrame, Int) => DataFrame): Boolean = {
    def eraOf(e: FileEntry): Long = e.stats match {
      case Some((c, mn, _)) if eraSpan > 0L && statsCol.contains(c) => mn / eraSpan
      case _ => -1L
    }
    val m = readLatest(table)._2
    val fragmented = m.lines.map(parseEntry)
      .groupBy(e => (partitionDir(e.path), eraOf(e)))
      .filter { case ((dir, _), files) =>
        files.size > threshold && (dir.nonEmpty || partitionCol.isEmpty) }
    fragmented.groupBy(_._1._2).forall { case (_, groups) =>
      val replaced = groups.values.flatten.toSeq
      swap(rewrite(readEntries(spark, table, replaced, m.schema), groups.size),
        table, partitionCol, replaced.map(_.path), statsCol)
    }
  }

  /** Batch id encoded in an append's file name (`b<id>-<uuid>.parquet`,
    * the [[append]] prefix); None for allocate (`a…`) / compaction (`c…`)
    * files, which carry no batch identity. */
  private[graft] def batchOfPath(path: String): Option[Long] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    if (!base.startsWith("b")) None
    else base.drop(1).takeWhile(_ != '-').toLongOption
  }

  /** Read only the snapshot files appended at batch ≥ `sinceBatch` — the
    * manifest-level BOUND for incremental re-processing of an append-only
    * table's recent window (an O(window) left side, never O(table)).
    * Batch identity comes from the append file-name prefix; files without
    * one (allocate/compaction outputs) are conservatively KEPT, same
    * contract as every other prune here — skipping is an optimization,
    * correctness never depends on it. Selectivity lands in
    * [[lastPruneStats]] so callers can prove the bound. */
  def readBatchSince(spark: SparkSession, table: String, sinceBatch: Long,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readSelection(spark, table, emptySchema)(batchSince(_, sinceBatch))

  /** The since-bounded file list itself (paths with batch ≥ `sinceBatch`)
    * — for callers that rewrite the window via [[swapAsBatch]]. */
  private[graft] def batchSinceFiles(table: String, sinceBatch: Long): Seq[String] =
    selectFiles(table)(batchSince(_, sinceBatch))._1.map(_.path)

  private def batchSince(e: FileEntry, sinceBatch: Long): Boolean =
    batchOfPath(e.path).forall(_ >= sinceBatch)

  /** RETIRE committed files whose recorded `statsCol` maximum is below
    * `beforeMax` — the storage-side horizon bound for append-forever
    * tables (a probe that range-prunes on `statsCol` never selects them
    * again, so they are dead weight): one manifest commit drops them from
    * the snapshot, [[vacuum]] later reclaims the bytes. Files WITHOUT
    * recorded stats are never expired (their content is unknowable from
    * the manifest — conservative, like every stats path here). Returns
    * the number of files retired. Concurrent appends/swaps are safe: the
    * delta re-applies per CAS attempt against the fresh snapshot, and it
    * only ever REMOVES entries it re-judged against that snapshot. */
  def expireByStats(table: String, statsCol: String, beforeMax: Long): Long = {
    var removed = 0L
    tryCommit(table) { lines =>
      val (dead, live) = lines.partition(l => parseEntry(l).stats match {
        case Some((c, _, mx)) if c == statsCol => mx < beforeMax
        case _ => false
      })
      removed = dead.size.toLong
      if (dead.isEmpty) None else Some(live)
    }
    removed
  }

  /** Write `df` as parquet into a scratch dir, then move the data files to
    * their final partition-aware names inside the table. Returns the
    * entries (relative path, stats, byte size) and the schema a reader of
    * these files sees: the file columns, then the partition column, which
    * lives in the directory names. The files are durable and complete
    * BEFORE any manifest references them. */
  private def stage(df: DataFrame, table: String, partitionCol: Option[String],
      prefix: String, statsCol: Option[String])
      : (Seq[FileEntry], org.apache.spark.sql.types.StructType) = {
    val io = ioFor(table)
    val scratch = Paths.get(table, s".stage-${java.util.UUID.randomUUID()}")
    val writer = df.write.mode("overwrite")
    partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(scratch.toString)
    val moved = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    io.listRecursive(scratch)
      .filter(_.toString.endsWith(".parquet"))
      .foreach { p =>
        val rel = scratch.relativize(p) // e.g. event_date=2024-01-01/part-….parquet
        val partDir = Option(rel.getParent).map(_.toString).getOrElse("")
        val name = s"$prefix-${java.util.UUID.randomUUID()}.parquet"
        val relOut = if (partDir.isEmpty) name else s"$partDir/$name"
        // stats come from the footer the writer JUST produced, read while
        // the file is still in scratch — a one-time writer-side cost that
        // every later range query avoids paying per file
        val stats = statsCol.flatMap(c => footerStats(p, c).map(mm => (c, mm._1, mm._2)))
        val size = io.size(p)
        // promotion needs no atomicity: the file stays invisible until the
        // manifest commit that names it
        io.promote(p, Paths.get(table, relOut))
        moved += FileEntry(relOut, stats, Some(size))
      }
    // scratch now holds only _SUCCESS/metadata droppings
    io.deletePrefix(scratch)
    val (parts, cols) = df.schema.partition(f => partitionCol.contains(f.name))
    (moved.toSeq, org.apache.spark.sql.types.StructType(cols ++ parts))
  }

  /** One read-only Hadoop conf for all footer reads — constructing one per
    * staged file re-parses the XML defaults O(files) times per stage
    * (r8 review). */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Reader options over [[footerConf]]: the one-argument
    * `ParquetFileReader.open` builds default options, and with them a
    * fresh Hadoop conf, for every file. */
  private lazy val footerOptions =
    org.apache.parquet.HadoopReadOptions.builder(footerConf).build()

  /** (min,max) of a LONG/INT column from a parquet footer, folded across
    * row groups. None when the column is absent, non-integral, has null
    * rows unaccounted stats, or anything fails — stats are an
    * optimization; a file without them is read conservatively, never
    * skipped. Data-plane access (the scratch file the writer just
    * produced), like the Spark read/write path itself. */
  private def footerStats(file: Path, statsCol: String): Option[(Long, Long)] =
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, footerOptions)
      try {
        val cols = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == statsCol)
          .toList
        val bounds = cols.map(_.getStatistics).map {
          case s: LongStatistics if s.hasNonNullValue => Some((s.getMin, s.getMax))
          case s: IntStatistics if s.hasNonNullValue => Some((s.getMin.toLong, s.getMax.toLong))
          case _ => None
        }
        if (bounds.isEmpty || bounds.contains(None)) None
        else Some((bounds.flatten.map(_._1).min, bounds.flatten.map(_._2).max))
      } finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------- vacuum ownership lease

  private val leaseRe = "vacuum-(\\d+)\\.lease".r

  /** Cross-JVM vacuum OWNERSHIP, built from the primitives already here:
    * a lease object published via the table's [[CasPrimitive]] (so it is
    * atomic on every supported store) at a MONOTONICALLY VERSIONED name —
    * `vacuum-<n>.lease`, payload `owner\nexpiryMillis`. Acquire = read
    * the highest version; if held and unexpired, defer; otherwise CAS the
    * next version (create-if-absent — two racing takeovers publish the
    * same name, exactly one wins). Versioned names make expired-lease
    * takeover safe WITHOUT conditional delete: deleting the old lease
    * before re-publishing would let racer A delete the lease racer B just
    * acquired. Release deletes the holder's own file; a crashed holder's
    * lease simply expires (TTL) and the next caller takes over at n+1.
    * Standard lease caveats apply and are the deployment contract: expiry
    * compares the payload clock against the caller's clock, so TTL must
    * dwarf plausible clock skew, and a vacuum pass must finish within the
    * TTL (pick leaseTtlSeconds ≫ worst-case pass; the default is 30 min
    * for a maintenance pass that normally takes seconds). */
  private[graft] def acquireVacuumLease(table: String, ttlMillis: Long,
      owner: String = s"${java.net.InetAddress.getLocalHost.getHostName}-${java.util.UUID.randomUUID()}")
      : Option[Path] = {
    val io = ioFor(table)
    val dir = manifestDir(table)
    io.mkdirs(dir)
    val held = io.list(dir).flatMap(p => p.getFileName.toString match {
      case leaseRe(n) => Some((n.toLong, p))
      case _ => None
    }).sortBy(_._1)
    val now = System.currentTimeMillis()
    val expiredTop = held.lastOption.forall { case (_, p) =>
      // a vanished (concurrently released) lease reads as expired; a
      // malformed payload cannot result from the atomic publish, but if
      // one ever appears treat it as expired rather than wedging vacuum
      // forever
      try {
        val expiry = new String(io.read(p), "UTF-8").split("\n", -1)
          .lift(1).flatMap(_.trim.toLongOption).getOrElse(0L)
        expiry <= now
      } catch { case scala.util.control.NonFatal(_) => true }
    }
    if (!expiredTop) return None
    val next = held.lastOption.map(_._1).getOrElse(0L) + 1L
    val target = dir.resolve(s"vacuum-$next.lease")
    val payload = s"$owner\n${now + ttlMillis}".getBytes("UTF-8")
    if (!casFor(table).publish(target, payload)) return None // lost the takeover race
    // the new lease supersedes every older version; tidy them (the loser
    // of a takeover race never reaches here, so only the owner deletes)
    held.foreach { case (_, p) => io.delete(p) }
    Some(target)
  }

  private[graft] def releaseVacuumLease(table: String, lease: Path): Unit =
    ioFor(table).delete(lease)

  /** Delete data files no committed snapshot references (crash leftovers,
    * compacted-away inputs).
    *
    * Online safety: files are STAGED into the table directory before
    * their manifest commit, so an unreferenced file may simply be an
    * in-flight append/swap that has not committed yet — deleting it would
    * commit a manifest over missing data. Guards: `graceSeconds` spares
    * unreferenced files younger than the grace, where age counts from
    * PROMOTION ([[FileIO.promote]] stamps a fresh mtime — a rename that
    * preserved the parquet-write mtime let a long compaction's early
    * parts age past the cutoff before their commit, r8 review);
    * in-flight `.stage-*` scratch is skipped as a unit until its newest
    * file predates the grace, then reaped whole; and the per-table commit
    * lock excludes same-JVM commits during the delete-set computation
    * (the normal driver topology). Across JVMs, ownership is now
    * ENFORCED, not advised (r9): the pass runs only under the CAS
    * vacuum lease ([[acquireVacuumLease]]) — a second driver's vacuum
    * returns -1 (deferred) instead of computing a delete set under its
    * own process-local lock; a crashed holder's lease expires after
    * `leaseTtlSeconds` and the next caller takes over. promote→commit is
    * the only window the grace must cover. Pass `graceSeconds = 0` only
    * when no writer is active.
    *
    * Also garbage-collects manifest metadata (see [[gcManifests]]) so an
    * always-on table's commit/read cost stays flat instead of growing
    * O(commits) with uptime.
    *
    * @return files reclaimed, or -1 when DEFERRED to another process's
    *         live lease. */
  def vacuum(table: String, graceSeconds: Long = 600L,
      retainManifests: Int = 100, leaseTtlSeconds: Long = 1800L): Long =
    lockFor(table).synchronized {
      val lease = acquireVacuumLease(table, leaseTtlSeconds * 1000L) match {
        case None => return -1L
        case Some(p) => p
      }
      try vacuumOwned(table, graceSeconds, retainManifests)
      finally releaseVacuumLease(table, lease)
    }

  private def vacuumOwned(table: String, graceSeconds: Long,
      retainManifests: Int): Long = {
      val io = ioFor(table)
      val root = Paths.get(table)
      val cutoff = System.currentTimeMillis() - graceSeconds * 1000L
      // a maintenance pass over a LIVE table races writers: files vanish
      // between listing and stat. A vanished unreferenced file is already
      // collected — never a reason to crash the pass (r8 review).
      def mtimeOpt(p: Path): Option[Long] =
        try Some(io.lastModifiedMillis(p))
        catch { case scala.util.control.NonFatal(_) => None }
      val listing =
        try io.listRecursive(root)
        catch { case scala.util.control.NonFatal(_) =>
          try io.listRecursive(root) // one retry over writer churn
          catch { case scala.util.control.NonFatal(_) => return 0L }
        }
      // in-flight staging scratch (hidden .stage-* dirs) is handled as a
      // UNIT: young dirs are a writer mid-stage — untouchable; dirs whose
      // newest file predates the grace are crash orphans, reaped WHOLE
      // (including _SUCCESS/.crc droppings a parquet-only sweep left
      // behind forever, r8 review)
      val (staged, normal) = listing.partition(p =>
        root.relativize(p).toString.startsWith(".stage-"))
      var reaped = 0L
      staged.groupBy(p => root.relativize(p).getName(0).toString).foreach {
        case (d, files) =>
          val ages = files.flatMap(mtimeOpt(_))
          if (ages.nonEmpty && ages.max <= cutoff) {
            io.deletePrefix(root.resolve(d))
            reaped += files.size
          }
      }
      val all = normal
        .filter(_.toString.endsWith(".parquet"))
        .filterNot(_.startsWith(manifestDir(table)))
        .filter(p => mtimeOpt(p).exists(_ <= cutoff))
        .map(p => root.relativize(p).toString).toSet
      val live = snapshot(table)._2.toSet
      val dead = all -- live
      dead.foreach(f => io.delete(root.resolve(f)))
      // crash leftovers in the manifest dir: partial uploads (.put-*) and
      // hint temps (.hint-*) — a publisher killed between temp write and
      // publish orphans one; same grace as data files
      val mdir = manifestDir(table)
      val temps = io.list(mdir)
        .filter(p => p.getFileName.toString.startsWith("."))
        .filter(p => mtimeOpt(p).exists(_ <= cutoff))
      temps.foreach(io.delete)
      gcManifests(table, retainManifests)
      dead.size.toLong + temps.size + reaped
    }

  /** Drop committed manifests older than the newest `retain` versions.
    * Only superseded snapshots are deleted — the latest always survives
    * (retain ≥ 1 enforced), and `retain` versions of history give
    * concurrent readers that resolved a snapshot just before GC ample
    * margin (a reader holds a manifest for one query, not hours). Returns
    * the number deleted. */
  def gcManifests(table: String, retain: Int = 100): Long =
    lockFor(table).synchronized {
      val io = ioFor(table)
      val dir = manifestDir(table)
      val keep = math.max(1, retain)
      val latest = readLatest(table)._1
      if (latest <= keep) return 0L
      val dead = io.list(dir)
        .filter(_.getFileName.toString.matches("v\\d+\\.manifest"))
        .filter(p => versionOf(p) <= latest - keep)
      dead.foreach(io.delete)
      dead.size.toLong
    }
}
