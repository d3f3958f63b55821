package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.flow.TimeRange
import graft.streaming.{FlowStreams, ManifestTable}
import graft.sources.ProtoCodec
import Pipeline._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, out: Path, cpus: Int)

/** Shared run skeleton: setup, measured window, checks, and (traced runs)
  * the ingest ladder and the layer counters. */
abstract class Workload(val spark: SparkSession, val a: Args) {
  val report = new Report
  val tracing: Option[Tracing] = if (a.trace) Some(new Tracing(spark)) else None
  val rng = new java.util.SplittableRandom(a.seed)
  val work: Path = a.work
  private var seq = 0
  def fresh(name: String): Path = { seq += 1; work.resolve(f"$name-$seq%03d") }

  /** Setup before the measured window; every setup unit is timed. */
  def setup(): Unit
  /** The measured window, which should end near `deadlineNs`. */
  def measure(deadlineNs: Long): Unit
  /** A wire corpus of this workload's shape for the ingest ladder. */
  def ladderFiles: Seq[Path]

  def unit[A](f: => A): A = {
    val t0 = Clock.now
    val r = Trace.span("setup.unit", op = true)(f)
    report.sample("setup_unit_s", Clock.secs(t0))
    r
  }

  /** Generate `files` payload files of `rows` records each, the k-th
    * record of the corpus at event time `t0 + k * stepNum / stepDen`, and
    * write them under `dir`. Returns each file with its size in bytes. */
  def writeFiles(shape: Shape, c: Corpus, dir: Path, files: Int, rows: Int, t0: Long,
      stepNum: Long, stepDen: Long): Seq[(Path, Long)] = {
    Files.createDirectories(dir)
    (0 until files).map { f =>
      val from = c.size
      var i = 0
      while (i < rows) {
        val k = (from + i).toLong
        shape.record(c, rng, t0 + (k * stepNum) / stepDen)
        i += 1
      }
      c.endFile()
      val p = dir.resolve(f"payload-${c.files}%06d.bin")
      val size = Trace.span("ProtoCodec.encodeDelimited")(c.writePayload(p, from, c.size))
      (p, size)
    }
  }

  def fileTotals(c: Corpus, k: Int): (Long, Long, Long) = {
    val from = c.recordsInFiles(k); val until = c.recordsInFiles(k + 1)
    var raw = 0L; var b = 0L
    var i = from
    while (i < until) { raw += c.bytes(i) * c.rate(i); b += c.bytes(i); i += 1 }
    (raw, b, (until - from).toLong)
  }

  def landings(c: Corpus, fromFile: Int, untilFile: Int, l: Landings, tNs: Long): Unit =
    (fromFile until untilFile).foreach { k =>
      val (r, b, n) = fileTotals(c, k); l.land(r, b, n, tNs)
    }

  /** Both tables' totals equal `copies` copies of the corpus. */
  def checkTotals(t: TablePair, c: Corpus, label: String, copies: Int = 1): Unit = {
    val (rows, rawBytes, flows, bytes) = tableTotals(spark, t)
    var eRaw = 0L; var eBytes = 0L
    var i = 0
    while (i < c.size) { eRaw += c.bytes(i) * c.rate(i); eBytes += c.bytes(i); i += 1 }
    val n = c.size.toLong * copies
    eRaw *= copies; eBytes *= copies
    val ok = rows == n && rawBytes == eRaw && flows == n && bytes == eBytes
    report.op(label, ok, if (ok) "" else
      s"raw rows $rows/$n raw bytes $rawBytes/$eRaw rollup flows $flows/$n bytes $bytes/$eBytes")
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(work)
    val io0 = ioProbe(work)
    val heapAtStart = Pipeline.liveHeapMb()
    Trace.enabled = a.trace
    setup()
    report.scalar("settle_s", settle())
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    tracing.foreach(_.install())
    val root = Trace.startRoot(a.workload)
    val m0 = Clock.now; val m0Ms = System.currentTimeMillis()
    Trace.span(s"workload:${a.workload}", op = true)(measure(m0 + a.seconds * 1000000000L))
    val m1Ms = System.currentTimeMillis()
    report.scalar("measure_s", Clock.secs(m0))
    val heapEnd = Pipeline.liveHeapMb()
    // no full GC between set-up and the window: the window's first
    // operations ran measurably slower after one
    report.scalar("live_heap_peak_mb", heapEnd)
    report.scalar("heap_start_mb", heapAtStart)
    val (leakN, leakB) = leaked(spark, baseline)
    report.scalar("storage.pinned_rdds_leaked", leakN)
    report.scalar("storage.pinned_bytes_leaked", leakB)
    tracing.foreach { tr =>
      engineScalars(tr, m0Ms, m1Ms)
      Trace.enabled = true
      ladder(ladderFiles)
    }
    val io1 = ioProbe(work)
    report.scalar("device.write_mb_per_s", (io0._1 + io1._1) / 2)
    report.scalar("device.read_mb_per_s", (io0._2 + io1._2) / 2)
    report.scalar("device.mode", io0._3)
    report.scalar("device.before", Seq(io0._1, io0._2))
    report.scalar("device.after", Seq(io1._1, io1._2))
    Trace.enabled = false
    tracing.foreach(_.stop())
    val spans = Trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "thread" -> s.thread))
    report.toMap ++ Map("spans" -> spans, "root" -> root)
  }

  private def engineScalars(tr: Tracing, m0Ms: Long, m1Ms: Long): Unit = {
    val e = tr.engine
    report.scalar("engine.analysis_s", tr.phases.phaseS("analysis"))
    report.scalar("engine.optimization_s", tr.phases.phaseS("optimization"))
    report.scalar("engine.planning_s", tr.phases.phaseS("planning"))
    report.scalar("engine.codegen_compile_s", tr.codegenCompileS)
    report.scalar("engine.jobs", e.jobs.get)
    report.scalar("engine.tasks", e.tasks.get)
    report.scalar("engine.executor_run_s", e.runMs.get / 1000.0)
    report.scalar("engine.executor_cpu_s", e.cpuNs.get / 1e9)
    report.scalar("engine.gc_s", e.gcMs.get / 1000.0)
    report.scalar("engine.shuffle_write_bytes", e.shuffleWrite.get)
    report.scalar("engine.spill_bytes", e.spill.get)
    report.scalar("engine.input_files", tr.phases.inputFiles.get)
    report.scalar("engine.task_skew", e.taskSkew)
    report.scalar("engine.driver_gap_s", e.driverGapS(m0Ms, m1Ms))
    val events = tr.progress.all.filter(_.rows > 0)
    report.scalar("streaming.batches", events.size)
    events.foreach { p =>
      Seq("addBatch", "latestOffset", "queryPlanning", "walCommit", "triggerExecution").foreach { k =>
        p.durations.get(k).foreach(v => report.sample(s"streaming.${k}_ms", v.toDouble))
      }
      val start = Clock.fromEpochMs(p.startMs)
      Trace.record("streaming.batch", start, start + p.durations.getOrElse("triggerExecution", 0L) * 1000000L)
    }
  }

  /** The ingest ladder over one wire corpus; each rung adds one layer:
    * 1 decode → noop, 2 + projection, 3 + partial rollup, 4 + manifest
    * append of both tables, 5 the full streaming MV pair. The pair is also
    * drained untraced before and after rung 5, for the tracing overhead. */
  def ladder(files: Seq[Path]): Unit = {
    val dir = fresh("ladder")
    val src = dir.resolve("src")
    Files.createDirectories(src)
    files.foreach(f => Files.createLink(src.resolve(f.getFileName), f))
    val paths = files.map(_.toString)
    def wire() = ProtoCodec.fromWire(spark.read.format("binaryFile").load(src.toString), "content").toDF()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.foreachPartition { (_: Iterator[org.apache.spark.sql.Row]) => () }
    def timed(f: => Unit): Double = { val t0 = Clock.now; f; Clock.secs(t0) }
    /** Rungs 1-3 are short: the median of three runs. */
    def rung(n: Int, times: Int)(f: => Unit): Double = {
      val s = Trace.span(s"ladder.rung$n", op = true) {
        val v = (0 until times).map(_ => timed(f)).sorted
        v(v.size / 2)
      }
      report.scalar(s"ladder.rung${n}_s", s)
      s
    }
    val rows = wire().count()
    val wireBytes = paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum
    val r1 = rung(1, 3)(noop(wire()))
    val r2 = rung(2, 3)(noop(FlowStreams.projectRaw(wire())))
    val r3 = rung(3, 3) { noop(FlowStreams.projectRaw(wire())); noop(FlowStreams.rollupPartials(wire())) }
    val t4 = new TablePair(dir.resolve("rung4"))
    val r4 = rung(4, 1) {
      ManifestTable.append(FlowStreams.projectRaw(wire()), t4.raw, Some("event_date"), 0L,
        statsCol = Some("timeReceived"))
      ManifestTable.append(FlowStreams.rollupPartials(wire()), t4.roll, Some("event_date"), 0L,
        statsCol = Some("timeslot"))
    }
    val rollRows = ManifestTable.read(spark, t4.roll).count()
    def pair(t: TablePair): Unit = {
      val qs = startPair(spark, src.toString, t, Trigger.AvailableNow(), Some(LadderPerTrigger))
      qs.foreach(_.awaitTermination())
    }
    // untraced, traced, untraced: the overhead is against the mean of the
    // two untraced drains, so warm-up order does not count as overhead
    def untracedPair(name: String): Double = {
      Trace.enabled = false
      try timed(pair(new TablePair(dir.resolve(name)))) finally Trace.enabled = true
    }
    val u1 = untracedPair("untraced1")
    val r5 = rung(5, 1)(pair(new TablePair(dir.resolve("rung5"))))
    val untraced = (u1 + untracedPair("untraced2")) / 2
    report.scalar("ladder.untraced_pair_s", untraced)
    report.scalar("trace.overhead_s", r5 - untraced)
    report.scalar("ladder.rows", rows)
    report.scalar("sources.decode_s", r1)
    report.scalar("sources.decode_rows_per_s", rows / r1)
    report.scalar("sources.wire_bytes_per_row", wireBytes.toDouble / rows)
    report.scalar("streaming.project_s", r2 - r1)
    report.scalar("streaming.rollup_s", r3 - r2 - r1)
    report.scalar("streaming.rollup_rows_ratio", rollRows.toDouble / rows)
    report.scalar("manifest.append_s", r4 - r3)
    report.scalar("streaming.engine_s", r5 - r4)
  }

  val LadderPerTrigger = 4
}

/** Closed loop, backlog: a 7-day heavy-tailed corpus (Zipf addresses over
  * about 1 M keys, half IPv4 and half IPv6, 64 AS, Zipf ports) is drained
  * by the shipped MV pair, which runs for the whole run with a fixed
  * files-per-trigger and online compaction off. Each round lands one more
  * copy of the corpus at once as a new source directory and waits until
  * both tables have committed all of it; nothing else runs meanwhile. Then
  * one dashboard client loads the last day of the drained history: the
  * manifest skips the other days' files, and the top-N panels group about
  * 10^4 distinct keys. */
final class IngestDrain(spark: SparkSession, a: Args) extends Workload(spark, a) {
  val RowsPerFile = 6250; val Files_ = 8; val PerTrigger = 4
  // the running pair polls its source this often (triggers fire at
  // multiples of it on the epoch clock); a measured round lands LeadMs
  // before a trigger, so it waits the same short time in every run
  val PollMs = 500L; val LeadMs = 50L
  val Span: Long = 7L * 86400L
  val shape = new Shape.Heavy(500000)
  val corpus = new Corpus(shape.addrs)
  val t0: Long = Base + Math.floorMod(a.seed, 30L) * 86400L
  val end: Long = t0 + Span
  // the dashboard's range: the last day of the 7-day history, 10-minute buckets
  val day = TimeRange(end - 86400L, end)
  val DayInterval = 600L
  var files: Seq[Path] = Nil
  // the pipeline the window measures, brought up last in set-up
  val root: Path = fresh("history")
  val src: Path = root.resolve("src")
  val t = new TablePair(root)
  val l = new Landings
  val watch = new CommitWatch(t)
  var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
  /** Copies of the corpus landed so far. */
  var rounds = 0
  var client: SparkSession = _

  def setup(): Unit = {
    val rows = Files_ * RowsPerFile
    files = writeFiles(shape, corpus, work.resolve("wire"), Files_, RowsPerFile, t0, Span, rows.toLong)
      .map(_._1)
    // landing order = modification-time order, which the file source follows
    val m = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(m + i * 1000L))
    }
    // setup units: a fresh MV pair drains the first files in one batch
    (0 until 3).foreach { _ =>
      val u = new TablePair(fresh("warmup"))
      val usrc = fresh("warmup-src")
      unit {
        landBacklog(files.take(PerTrigger), fresh("warmup-landing"), usrc)
        val qs = startPair(spark, usrc.toString, u, Trigger.AvailableNow(), Some(PerTrigger))
        qs.foreach(_.awaitTermination())
        qs.foreach(q => report.op("stream", q.exception.isEmpty, q.exception.map(_.toString.take(300)).getOrElse("")))
      }
    }
    // the pair the window measures, over one directory per round, with
    // the first copy of the corpus drained; the window's dashboard client,
    // loaded once
    Files.createDirectories(src)
    landRound()
    watch.start()
    queries = startPair(spark, src.resolve("*").toString, t, Trigger.ProcessingTime(PollMs),
      Some(PerTrigger))
    report.op("visible", awaitVisible().forall(_.isDefined), "set-up: a landed file was never seen committed")
    client = session(spark, None)
    load(client, t, day, DayInterval, new Report, traced = false)
  }

  /** Land one more copy of the corpus: its files appear at once as a new
    * round directory, `LeadMs` before a trigger of the running pair when
    * `aligned`. Returns the landing time. */
  def landRound(aligned: Boolean = false): Long = {
    val name = f"round-$rounds%03d"
    if (aligned) Thread.sleep(PollMs - Math.floorMod(System.currentTimeMillis() + LeadMs, PollMs))
    val tl = Clock.now
    landings(corpus, 0, corpus.files, l, tl)
    Trace.span("land")(landBacklog(files, root.resolve("landing-" + name), src.resolve(name)))
    rounds += 1
    tl
  }

  /** Wait until every landed file is visible in both tables; returns each
    * file's visibility time. */
  def awaitVisible(): Seq[Option[Long]] = {
    val w0 = Clock.now
    var seen = visibility(queries, watch, l.landed)
    while (!seen.forall(_.isDefined) && Clock.secs(w0) < 60 && queries.forall(_.isActive)) {
      Thread.sleep(5)
      seen = visibility(queries, watch, l.landed)
    }
    seen
  }

  def measure(deadlineNs: Long): Unit = {
    val s = client
    tracing.foreach(_.register(s))
    val consumed0 = l.landed
    val loads = mutable.ArrayBuffer[(Load, Int)]()
    var n = 0
    var roundNs = 0L
    // start another round only if it is expected to end near the cut-off
    while (n < 2 || Clock.now + roundNs / 2 < deadlineNs) {
      val r0 = Clock.now
      val first = l.landed
      val landedNs = landRound(aligned = true)
      report.sample("gen.late_ms", Clock.secs(landedNs) * 1000)
      val seen = Trace.span("drain", op = true)(awaitVisible()).slice(first, l.landed)
      report.op("visible", seen.forall(_.isDefined), s"round $rounds: a landed file was never seen committed")
      if (seen.forall(_.isDefined)) {
        val wall = Clock.secs(landedNs, seen.map(_.get).max)
        report.sample("drain_s", wall)
        report.sample("ingest_rows_per_s", corpus.size / wall)
        seen.foreach(v => report.sample("freshness_s", Clock.secs(landedNs, v.get)))
      }
      val ld = load(s, t, day, DayInterval, report, a.trace)
      loads += ((ld, rounds))
      report.sample("dashboard_load_s", (ld.endNs - ld.startNs) / 1e9)
      report.sample("probe.panel_s", ld.probeS)
      n += 1
      roundNs = Clock.now - r0
    }
    queries.foreach(_.stop())
    watch.finish()
    queries.foreach(q => q.exception.foreach(e => report.op("stream", ok = false, e.toString.take(300))))
    queries.foreach { q =>
      val k = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      report.op("batch_files", k.forall(_ == PerTrigger) && k.sum == rounds * files.size,
        s"files per batch $k, expected $PerTrigger each, ${rounds * files.size} in all")
    }
    tracing.foreach(tr => report.scalar("streaming.idle_s",
      idleS(tr.progress.all, queries.map(_.id.toString).toSet, l, consumed0)))
    report.scalar("gen.backlog_files_end", 0)
    report.scalar("stored_bytes_per_row", t.storedBytes.toDouble / (corpus.size.toLong * rounds))
    report.scalar("manifest.commits", t.commits)
    report.scalar("manifest.live_files", t.liveFiles)
    checkTotals(t, corpus, "drain", rounds)
    if (a.trace) compact(spark, t, report)
    checkLoads(loads.map(_._1).toSeq, corpus, None, report, loads.toMap)
  }

  def ladderFiles: Seq[Path] = files
}

/** Open loop: a generator lands payload files at a fixed rate, stamped
  * with their landing time, while the MV pair runs on the shipped 5 s
  * trigger and the online compactor runs on a fixed cadence. One dashboard
  * client loads the trailing 15 minutes once a trigger interval, at a fixed
  * phase of the trigger and the compactor. A file is fresh once
  * both tables have committed the batch holding it. */
final class LiveDashboard(spark: SparkSession, a: Args) extends Workload(spark, a) {
  // 10 k rows/s: at 50 k rows/s the seed's batches outran the 5 s trigger
  // once the compactor and the dashboard client shared 4 cores, at 25 k
  // rows/s they did on a slow (shared) 4-core box, and at 15 k rows/s the
  // saturated cores made the batch and load times swing with the box's
  // speed well beyond it
  val RowsPerFile = 1000; val FilesPerSec = 10; val WarmFiles = 6
  val CompactEveryMs = 10000L; val TriggerMs = 5000L
  val shape = new Shape.Mocker
  val corpus = new Corpus(shape.addrs)
  val l = new Landings
  val root: Path = fresh("live")
  val src: Path = root.resolve("src")
  val incoming: Path = root.resolve("incoming")
  val t = new TablePair(root)
  var range: TimeRange = _

  /** Generate, encode and land one payload file stamped with the current
    * time; returns its landing time. */
  def landOne(): Long = {
    val now = System.currentTimeMillis() / 1000L
    val (p, _) = writeFiles(shape, corpus, incoming, 1, RowsPerFile, now, 0L, 1L).head
    val k = corpus.files - 1
    val (r, b, n) = fileTotals(corpus, k)
    val tl = Clock.now
    l.land(r, b, n, tl)
    Files.move(p, src.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    tl
  }

  var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
  var client: SparkSession = _

  def setup(): Unit = {
    Files.createDirectories(src); Files.createDirectories(incoming)
    val now = System.currentTimeMillis() / 1000L
    range = TimeRange(slotFloor(now - 900L), slotCeil(now + 3600L))
    (0 until WarmFiles).foreach(_ => landOne())
    watch.start()
    queries = startPair(spark, src.toString, t, FlowStreams.DefaultTrigger, None)
    // the first trigger fires at start and takes every warm-up file
    val t0 = Clock.now
    while (visible() < WarmFiles && Clock.secs(t0) < 120) Thread.sleep(50)
    // setup units: full dashboard loads over the warm-up files by the
    // window's client
    client = session(spark, None)
    (0 until 3).foreach(_ => check(unit(load(client, t, range, 30L, new Report, traced = false)), new Report))
  }

  val watch = new CommitWatch(t)
  /** Files visible in both tables now. */
  def visible(): Int = visibility(queries, watch, l.landed).takeWhile(_.isDefined).size

  /** Every load's raw and rollup totals must equal a prefix of the landed
    * files (what the tables had committed when the load registered). */
  def check(ld: Load, into: Report): Unit =
    into.op("prefix", l.matches(ld.rawTotal, ld.rollBytes, ld.rollFlows),
      s"raw=${ld.rawTotal} bytes=${ld.rollBytes} flows=${ld.rollFlows}")

  /** Records the raw MV consumed in batches that started in the window,
    * per second of ingest busy time (the union of both queries' batch
    * intervals): the pipeline's capacity under the live mix. The file
    * source counts one input row per payload file. */
  def busyRate(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery], fromMs: Long): Double = {
    def batches(q: org.apache.spark.sql.streaming.StreamingQuery) = q.recentProgress.toSeq
      .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli, p))
      .filter { case (ms, p) => ms >= fromMs && p.numInputRows > 0 }
    val rows = batches(qs.head).map(_._2.numInputRows).sum * RowsPerFile
    val iv = qs.flatMap(batches).map { case (ms, p) =>
      (ms, ms + p.durationMs.getOrDefault("triggerExecution", 0L).longValue) }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s0, e0) =>
      if (s0 > curE) { busy += curE - curS; curS = s0; curE = e0 } else curE = math.max(curE, e0)
    }
    busy += curE - curS
    rows / (busy / 1000.0)
  }

  def measure(deadlineNs: Long): Unit = {
    // the window opens 200 ms after a trigger boundary (the 5 s trigger
    // fires at multiples of 5 s of the epoch clock), so landings, batches,
    // compactions and loads meet at the same phase in every run; it closes
    // 300 ms before a boundary, after the whole trigger intervals that
    // cover `--seconds`, so the next trigger takes the last landed files
    val cycles = ((deadlineNs - Clock.now) / 1000000L + 300L + TriggerMs - 1) / TriggerMs
    val windowNs = (math.max(1L, cycles) * TriggerMs - 500L) * 1000000L
    Thread.sleep(TriggerMs - Math.floorMod(System.currentTimeMillis() - 200L, TriggerMs))
    val first = l.landed
    val start = Clock.now
    val end = start + windowNs
    val startMs = System.currentTimeMillis()
    @volatile var stop = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = Trace.context
    def loop(name: String)(body: => Unit): Thread = {
      val th = new Thread(() =>
        try Trace.withContext(ctx)(body) catch { case e: Throwable => errors.add(s"$name: $e") }, name)
      th.setDaemon(true); th.start(); th
    }
    val gen = loop("generator") {
      var i = 0
      while (Clock.now < end) {
        val due = start + i.toLong * 1000000000L / FilesPerSec
        val wait = (due - Clock.now) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val tl = landOne()
        report.sample("gen.late_ms", (tl - due) / 1e6)
        i += 1
      }
    }
    val loads = new java.util.concurrent.ConcurrentLinkedQueue[Load]()
    // one dashboard client loads once a trigger interval, at the window's
    // phase, each load timed from when it was due
    tracing.foreach(_.register(client))
    val dash = loop("dashboard") {
      var k = 0
      while (start + k * TriggerMs * 1000000L < end) {
        val due = start + k * TriggerMs * 1000000L
        val wait = (due - Clock.now) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val ld = load(client, t, range, 30L, report, a.trace)
        loads.add(ld)
        check(ld, report)
        report.sample("dashboard_load_s", Clock.secs(due, ld.endNs))
        report.sample("probe.panel_s", ld.probeS)
        k += 1
      }
    }
    val compactor = loop("compactor") {
      var i = 1
      while (!stop) {
        val due = start + i * CompactEveryMs * 1000000L
        val wait = (due - Clock.now) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        if (!stop) compact(spark, t, report)
        i += 1
      }
    }
    gen.join()
    val landedEnd = l.landed
    report.scalar("gen.backlog_files_end", landedEnd - visible())
    dash.join(150000L)
    val t0 = Clock.now
    while (visible() < landedEnd && Clock.secs(t0) < 60) Thread.sleep(20)
    watch.finish()
    val windowEnd = Clock.now
    stop = true
    compactor.join(120000L)
    errors.forEach(e => report.op("thread", ok = false, e.take(300)))
    queries.foreach(q => q.exception.foreach(e => report.op("stream", ok = false, e.toString.take(300))))
    tracing.foreach(tr => report.scalar("streaming.idle_s",
      idleS(tr.progress.all, queries.map(_.id.toString).toSet, l, first)))
    report.scalar("ingest_rows_per_s", busyRate(queries, startMs))
    // when most batches run longer than the trigger interval, arrivals
    // outpace the pipeline: the backlog grows and the run is invalid
    val took = queries.flatMap(_.recentProgress.toSeq)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= startMs && p.numInputRows > 0)
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue)
    took.foreach(ms => report.sample("batch_ms", ms.toDouble))
    report.op("backlog", took.count(_ > TriggerMs) * 2 <= took.size,
      s"batch times ${took.mkString(",")} ms against the $TriggerMs ms trigger")
    queries.foreach(_.stop())
    val seen = visibility(queries, watch, landedEnd)
    (first until landedEnd).foreach(k => seen(k).foreach(v => report.sample("freshness_s", Clock.secs(l.landedAtNs(k), v))))
    report.op("visible", seen.forall(_.isDefined), "a landed file was never seen committed")
    report.scalar("window_s", Clock.secs(start, windowEnd))
    checkTotals(t, corpus, "live")
    report.scalar("stored_bytes_per_row", t.storedBytes.toDouble / corpus.size)
    report.scalar("manifest.commits", t.commits)
    report.scalar("manifest.live_files", t.liveFiles)
    checkLoads(loads.toArray(Array.empty[Load]).toSeq, corpus, Some(l), report)
  }

  def ladderFiles: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(src)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".bin")).toVector.sorted.take(16)
    finally s.close()
  }
}
