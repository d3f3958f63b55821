package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.flow.{DashboardSql, TimeRange}
import graft.sources.ProtoCodec
import graft.streaming.{FlowStreams, ManifestTable}

/** Everything one run measured: sample series, scalars, checked operations
  * and (traced runs) spans. Written as the raw results file that run.py
  * turns into metrics. */
final class Report {
  private val series = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val scalars: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap[String, Any]()
  val ops = new ConcurrentLinkedQueue[Map[String, Any]]()

  def sample(name: String, v: Double): Unit = synchronized {
    series.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }
  def scalar(name: String, v: Any): Unit = synchronized { scalars(name) = v }
  def add(name: String, v: Double): Unit = synchronized {
    scalars(name) = scalars.getOrElse(name, 0.0).asInstanceOf[Double] + v
  }

  /** An operation whose outcome the benchmark decided itself. */
  def op(kind: String, ok: Boolean, detail: String = ""): Unit =
    ops.add(Map("kind" -> kind, "ok" -> ok, "detail" -> detail))

  /** A panel answer: run.py compares canonical digests of both sides. */
  def panel(name: String, actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Unit =
    ops.add(Map("kind" -> "panel", "name" -> name, "actual" -> actual, "expected" -> expected))

  def toMap: Map[String, Any] = synchronized {
    Map("samples" -> series.toMap, "scalars" -> scalars.toMap, "ops" -> ops.asScala.toSeq)
  }
}

object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def now: Long = System.nanoTime()
  /** An epoch-millisecond instant on the [[now]] time base. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offsetNs
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9
}

/** The raw + rollup managed tables of one MV pair and their checkpoints. */
final class TablePair(root: Path) {
  val raw: String = root.resolve("flows_raw").toString
  val roll: String = root.resolve("flows_5m").toString
  val cpRaw: String = root.resolve("cp_raw").toString
  val cpRoll: String = root.resolve("cp_5m").toString

  /** Bytes of the committed data files of both tables. */
  def storedBytes: Long = Seq(raw, roll).map { t =>
    ManifestTable.snapshot(t)._2.map(f => Files.size(java.nio.file.Paths.get(t, f))).sum
  }.sum

  def commits: Long = ManifestTable.snapshot(raw)._1 + ManifestTable.snapshot(roll)._1
  def liveFiles: Int = ManifestTable.snapshot(raw)._2.size + ManifestTable.snapshot(roll)._2.size
}

/** Files landed into one source directory, in landing order, with the
  * prefix sums a reader's totals must equal exactly. A file counts as
  * landed (and its clock starts) just before its atomic move. */
final class Landings {
  private val landNs = mutable.ArrayBuffer[Long]()
  private val landMs = mutable.ArrayBuffer[Long]()
  private val rawPrefix = mutable.ArrayBuffer(0L)
  private val bytePrefix = mutable.ArrayBuffer(0L)
  private val flowPrefix = mutable.ArrayBuffer(0L)

  /** Register the next file with its totals: `rawBytes` = Σ bytes ×
    * sampling rate (the raw panels' sum), `bytes` and `flows` (the
    * rollup's sums). */
  def land(rawBytes: Long, bytes: Long, flows: Long, tNs: Long = Clock.now): Unit = synchronized {
    landNs += tNs; landMs += System.currentTimeMillis()
    rawPrefix += rawPrefix.last + rawBytes
    bytePrefix += bytePrefix.last + bytes
    flowPrefix += flowPrefix.last + flows
  }

  def landed: Int = synchronized { landNs.size }
  def landedAtMs(k: Int): Long = synchronized { landMs(k) }
  def landedAtNs(k: Int): Long = synchronized { landNs(k) }

  private def find(prefix: mutable.ArrayBuffer[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(prefix.toArray, v)
    if (i >= 0) i else -1
  }

  /** Number of files whose totals the raw answer equals, or -1. */
  def rawPrefixOf(rawTotal: Long): Int = synchronized { find(rawPrefix, rawTotal) }
  /** Number of files whose totals the rollup answer equals, or -1. */
  def rollPrefixOf(bytes: Long, flows: Long): Int = synchronized {
    val k = find(flowPrefix, flows)
    if (k >= 0 && bytePrefix(k) == bytes) k else -1
  }
  /** True if both answers equal some prefix of the landed files. */
  def matches(rawTotal: Long, bytes: Long, flows: Long): Boolean =
    rawPrefixOf(rawTotal) >= 0 && rollPrefixOf(bytes, flows) >= 0
}

/** Polls both tables' absorbed batch ids every 20 ms and records when
  * each batch id was first seen committed: from then on any reader sees
  * it. Reading the manifests runs no query. */
final class CommitWatch(t: TablePair) extends Thread("commit-watch") {
  private val seen = Array(mutable.LongMap[Long](), mutable.LongMap[Long]())
  @volatile private var done = false
  setDaemon(true)

  def poll(): Unit = synchronized {
    val now = Clock.now
    Seq(t.raw, t.roll).zipWithIndex.foreach { case (table, i) =>
      var b = ManifestTable.maxBatchId(table)
      while (b >= 0 && !seen(i).contains(b)) { seen(i)(b) = now; b -= 1 }
    }
  }
  def seenAt(table: Int, batch: Long): Option[Long] = synchronized(seen(table).get(batch))
  def finish(): Unit = { done = true; join(); poll() }
  override def run(): Unit = while (!done) { poll(); Thread.sleep(20) }
}

object Pipeline {
  val Base: Long = 1704067200L // 2024-01-01T00:00:00Z

  def slotFloor(t: Long): Long = Math.floorDiv(t, 300L) * 300L
  def slotCeil(t: Long): Long = slotFloor(t + 299L)

  /** A session for one client thread: own temp views, same SparkContext
    * and configuration as the shipped session. */
  def session(spark: SparkSession, tracing: Option[Tracing]): SparkSession = {
    val s = spark.newSession()
    tracing.foreach(_.register(s))
    s
  }

  /** Start the shipped MV pair over one payload directory. */
  def startPair(spark: SparkSession, src: String, t: TablePair, trigger: Trigger,
      maxFilesPerTrigger: Option[Int]): Seq[StreamingQuery] = {
    val opts = maxFilesPerTrigger.map(k => Map("maxFilesPerTrigger" -> k.toString)).getOrElse(Map.empty)
    val stream = ProtoCodec.binaryFileStream(spark, src, opts).toDF()
    Seq(FlowStreams.startRawMVManaged(stream, t.raw, t.cpRaw, trigger),
      FlowStreams.startRollupMVManaged(stream, t.roll, t.cpRoll, trigger))
  }

  /** Row-level totals of both tables: (raw rows, raw Σ bytes × rate,
    * rollup Σ flow_count, rollup Σ sum_bytes). */
  def tableTotals(spark: SparkSession, t: TablePair): (Long, Long, Long, Long) = {
    val r = FlowStreams.readRawManaged(spark, t.raw)
      .agg(count(lit(1)), sum(col("bytes") * col("samplingRate"))).head()
    val c = ManifestTable.read(spark, t.roll).agg(sum("flow_count"), sum("sum_bytes")).head()
    (r.getLong(0), r.getLong(1), c.getLong(0), c.getLong(1))
  }

  /** One dashboard load's answers and timing; `probeS` is the part a
    * freshness probe needs (registration plus the slower of the two probe
    * panels). */
  final case class Load(range: TimeRange, interval: Long, rows: Map[String, Seq[Seq[Any]]],
      rawTotal: Long, rollBytes: Long, rollFlows: Long, startNs: Long, endNs: Long, probeS: Double)

  /** Panel queries of one load run concurrently, as a dashboard issues
    * them, on at most `nproc` threads. */
  lazy val panelPool: java.util.concurrent.ExecutorService = {
    val n = math.min(Expected.Panels.size, Runtime.getRuntime.availableProcessors())
    java.util.concurrent.Executors.newFixedThreadPool(n, (r: Runnable) => {
      val th = new Thread(r, "panel"); th.setDaemon(true); th
    })
  }

  /** One dashboard load: register the managed views for the range, then
    * issue every managed panel at once and wait for all of them. Records
    * per-layer timings; returns the answers. */
  def load(s: SparkSession, t: TablePair, range: TimeRange, interval: Long,
      report: Report, traced: Boolean): Load = Trace.span("load", op = true) {
    val m0 = Clock.now
    val (rawE, rollE) = Trace.span("ManifestTable.snapshot") {
      (ManifestTable.snapshotEntries(t.raw)._2, ManifestTable.snapshotEntries(t.roll)._2)
    }
    report.sample("manifest.snapshot_ms", Clock.secs(m0) * 1000)
    def kept(es: Seq[ManifestTable.FileEntry], lo: Long, hi: Long): Int = es.count(_.stats match {
      case Some((_, mn, mx)) => mx >= lo && mn < hi
      case None => true
    })
    report.add("manifest.files_total", (rawE.size + rollE.size).toDouble)
    report.add("manifest.files_kept",
      (kept(rawE, range.from, range.until) + kept(rollE, range.from, range.until)).toDouble)
    val r0 = Clock.now
    Trace.span("DashboardSql.registerManaged")(DashboardSql.registerManaged(s, t.raw, t.roll, Some(range)))
    val registerS = Clock.secs(r0)
    report.sample("dashboard.register_s", registerS)
    val ctx = Trace.context
    val futures = Expected.Panels.map { p =>
      p -> panelPool.submit(() => Trace.withContext(ctx) {
        val p0 = Clock.now
        Trace.span(s"DashboardSql.runManaged:$p") {
          val df = DashboardSql.runManaged(s, p, Some(range), interval)
          val out = df.collect().toSeq.map(_.toSeq)
          val scanned = if (traced)
            Plans.scans(df.queryExecution.executedPlan).map(Plans.metric(_, "numOutputRows")).sum else 0L
          (out, Clock.secs(p0), scanned)
        }
      })
    }
    val done = futures.map { case (p, f) => p -> f.get() }.toMap
    val end = Clock.now
    done.foreach { case (p, (out, secs, scanned)) =>
      report.sample(s"dashboard.panel.${p}_s", secs)
      if (traced) {
        report.add("dashboard.rows_scanned", scanned.toDouble)
        report.add("dashboard.rows_returned", out.size.toDouble)
      }
    }
    val rows = done.map { case (p, v) => p -> v._1 }
    def longs(p: String, i: Int): Long = rows(p).map(_(i).asInstanceOf[Long]).sum
    Load(range, interval, rows, longs("m_instant_traffic_1m", 1),
      longs("m_rollup_read", 2), longs("m_rollup_read", 4), m0, end,
      registerS + math.max(done("m_instant_traffic_1m")._2, done("m_rollup_read")._2))
  }

  /** Check loads against expected answers computed from the corpus. The
    * record prefix each table had committed is read off the load's own
    * totals; an answer matching no prefix fails every panel of the load.
    * `copies` is how many copies of the corpus the tables held. */
  def checkLoads(loads: Seq[Load], c: Corpus, l: Option[Landings], report: Report,
      copies: Load => Int = _ => 1): Unit = {
    val cache = mutable.HashMap[(TimeRange, Long, Int, Int, Int), Map[String, Seq[Seq[Any]]]]()
    loads.foreach { ld =>
      val (kr, kc) = l match {
        case Some(x) => (x.rawPrefixOf(ld.rawTotal), x.rollPrefixOf(ld.rollBytes, ld.rollFlows))
        case None => (c.files, c.files)
      }
      if (kr < 0 || kc < 0)
        Expected.Panels.foreach(p => report.op("panel", ok = false, s"$p: totals match no landed prefix"))
      else {
        val key = (ld.range, ld.interval, c.recordsInFiles(kr), c.recordsInFiles(kc), copies(ld))
        val exp = cache.getOrElseUpdate(key,
          Expected.panels(c, key._3, key._4, ld.range.from, ld.range.until, ld.interval, key._5))
        Expected.Panels.foreach(p => report.panel(p, ld.rows(p), exp(p)))
      }
    }
  }

  /** One online compaction cycle over both tables. */
  def compact(spark: SparkSession, t: TablePair, report: Report): Unit = Trace.span("compaction", op = true) {
    def sizes(table: String): Map[String, Long] = ManifestTable.snapshot(table)._2.map { f =>
      val p = java.nio.file.Paths.get(table, f)
      f -> (if (Files.exists(p)) Files.size(p) else 0L)
    }.toMap
    val before = Map(t.raw -> sizes(t.raw), t.roll -> sizes(t.roll))
    val t0 = Clock.now
    try {
      val a = Trace.span("FlowStreams.compactRawOnline")(FlowStreams.compactRawOnline(spark, t.raw))
      val b = Trace.span("FlowStreams.optimizeRollupOnline")(FlowStreams.optimizeRollupOnline(spark, t.roll))
      report.add("compaction.runs", 2)
      report.add("compaction.swaps_won", Seq(a, b).count(identity).toDouble)
      report.op("compaction", ok = true)
    } catch { case e: Exception => report.op("compaction", ok = false, e.toString.take(300)) }
    report.add("compaction.busy_s", Clock.secs(t0))
    val rewritten = before.map { case (table, m) =>
      val after = ManifestTable.snapshot(table)._2.toSet
      m.filter { case (f, _) => !after(f) }.values.sum
    }.sum
    report.add("compaction.bytes_rewritten", rewritten.toDouble)
  }

  /** Land payload files by hard-linking them into a fresh directory and
    * renaming that directory into place: the whole backlog appears at once. */
  def landBacklog(files: Seq[Path], staging: Path, src: Path): Unit = {
    Files.createDirectories(staging)
    files.foreach(f => Files.createLink(staging.resolve(f.getFileName), f))
    Files.move(staging, src, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Direct-I/O write then read of `mb` MiB; page-cache fallback if the
    * filesystem refuses O_DIRECT. Returns (write MB/s, read MB/s, mode). */
  def ioProbe(dir: Path, mb: Int = 64): (Double, Double, String) = {
    import java.nio.file.StandardOpenOption._
    val f = dir.resolve("ioprobe.bin")
    val block = 1 << 20
    val buf = java.nio.ByteBuffer.allocateDirect(block + 8192).alignedSlice(4096)
    buf.limit(block)
    while (buf.hasRemaining) buf.put(0x5A.toByte)
    def run(opts: Seq[java.nio.file.OpenOption]): (Double, Double) = {
      val w = java.nio.channels.FileChannel.open(f, (Seq[java.nio.file.OpenOption](CREATE, WRITE, TRUNCATE_EXISTING) ++ opts): _*)
      val t0 = Clock.now
      var i = 0
      while (i < mb) { buf.clear(); buf.limit(block); while (buf.hasRemaining) w.write(buf); i += 1 }
      w.force(true); w.close()
      val ws = Clock.secs(t0)
      val r = java.nio.channels.FileChannel.open(f, (Seq[java.nio.file.OpenOption](READ) ++ opts): _*)
      val t1 = Clock.now
      buf.clear(); buf.limit(block)
      while (r.read(buf) > 0) { buf.clear(); buf.limit(block) }
      r.close()
      (mb / ws, mb / Clock.secs(t1))
    }
    try {
      val (w, r) = try run(Seq(com.sun.nio.file.ExtendedOpenOption.DIRECT))
      catch { case scala.util.control.NonFatal(_) => Files.deleteIfExists(f); return { val (a, b) = run(Nil); (a, b, "page-cache") } }
      (w, r, "direct")
    } finally Files.deleteIfExists(f)
  }

  /** Wait, at most `maxMs`, until the JIT compilers go quiet: set-up leaves
    * a queue of compilations that would otherwise compete with the
    * window's first operations. Returns the seconds waited. */
  def settle(maxMs: Long = 3000L): Double = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = Clock.now
    var last = c.getTotalCompilationTime
    var quiet = false
    while (!quiet && Clock.secs(t0) * 1000 < maxMs) {
      Thread.sleep(200)
      val now = c.getTotalCompilationTime
      quiet = now - last < 20
      last = now
    }
    Clock.secs(t0)
  }

  /** Post-GC heap in use, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Pinned RDDs (and their stored bytes) present now but not in `baseline`. */
  def leaked(spark: SparkSession, baseline: Set[Int]): (Int, Long) = {
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet.toSet -- baseline
    (ids.size, sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum)
  }

  /** Backlog present but no batch running, summed over both queries: the
    * gap before a batch whose first file had already landed. The file
    * source counts one input row per payload file; `consumed0` files were
    * consumed before the first of `events`. */
  def idleS(events: Seq[ProgressListener.Progress], queryIds: Set[String], l: Landings,
      consumed0: Int): Double =
    events.filter(e => queryIds(e.query)).groupBy(_.query).values.map { es =>
      var consumed = consumed0
      var idle = 0.0
      var prevEnd = -1L
      es.sortBy(_.batchId).foreach { e =>
        if (prevEnd >= 0 && e.rows > 0 && consumed < l.landed) {
          val from = math.max(prevEnd, l.landedAtMs(consumed))
          if (e.startMs > from) idle += (e.startMs - from) / 1000.0
        }
        consumed += e.rows.toInt
        prevEnd = e.startMs + e.durations.getOrElse("triggerExecution", 0L)
      }
      idle
    }.sum

  /** When each payload file became visible in both tables: the file source
    * takes files in landing order and counts one input row per file, so
    * the queries' progress maps file k to the batch holding it, and the
    * watch says when that batch was committed. Index k is the file's
    * landing index; None if not visible yet. */
  def visibility(qs: Seq[StreamingQuery], w: CommitWatch, files: Int): Seq[Option[Long]] = {
    val perQuery = qs.zipWithIndex.map { case (q, i) =>
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      val at = new Array[Option[Long]](files)
      java.util.Arrays.fill(at.asInstanceOf[Array[AnyRef]], None)
      var k = 0
      batches.foreach { p =>
        val seen = w.seenAt(i, p.batchId)
        var n = 0
        while (n < p.numInputRows && k < files) { at(k) = seen; k += 1; n += 1 }
      }
      at.toSeq
    }
    (0 until files).map { k =>
      val ts = perQuery.map(_(k))
      if (ts.forall(_.isDefined)) Some(ts.map(_.get).max) else None
    }
  }
}
