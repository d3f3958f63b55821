package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans at the benchmark-side boundaries: workload → operation (batch,
  * load, probe, compaction, setup unit, ladder rung) → layer call. Spans of
  * one operation share its op id. Kept in memory, written out at the end;
  * recording is off (a no-op wrapper) in untraced runs. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long, thread: String)

  @volatile var enabled = false
  @volatile var root = 0L
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  /** Run `f` as a span; `op = true` starts a new operation (its own id). */
  def span[A](name: String, op: Boolean = false)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val (parent, parentOp) = stack.get() match {
        case (p, o) :: _ => (p, o)
        case Nil => (root, root)
      }
      val opId = if (op || parentOp == root) id else parentOp
      stack.set((id, opId) :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, opId, name, t0, t1, Thread.currentThread().getName))
      }
    }

  /** The calling thread's current span, to hand to another thread. */
  def context: List[(Long, Long)] = stack.get()

  /** Run `f` with `ctx` (from [[context]]) as this thread's current span. */
  def withContext[A](ctx: List[(Long, Long)])(f: => A): A = {
    val saved = stack.get()
    stack.set(ctx)
    try f finally stack.set(saved)
  }

  /** A span whose interval was observed elsewhere (a streaming batch). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, root, id, name, startNs, endNs, "stream"))
    }

  def startRoot(name: String): Long = {
    root = ids.incrementAndGet()
    root
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Plan inspection after a query ran: scan-side SQL metrics. */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
  def metric(s: FileSourceScanExec, name: String): Long =
    s.metrics.get(name).map(_.value).getOrElse(0L)
}

/** Engine counters from Spark's listener buses for the traced window. */
final class EngineListener extends SparkListener {
  val jobs = new AtomicLong(); val tasks = new AtomicLong()
  val runMs = new AtomicLong(); val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
  val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  }

  /** Median over stages (with ≥ 4 tasks) of max task time / median task time. */
  def taskSkew: Double = {
    val ratios = stageTasks.values.asScala.map(_.asScala.toVector.sorted)
      .filter(_.size >= 4).map(v => v.last.toDouble / math.max(1L, v(v.size / 2)))
      .toVector.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }

  /** Wall time of [startMs, endMs) not covered by any job. */
  def driverGapS(startMs: Long, endMs: Long): Double = {
    val iv = jobIntervals.asScala.toVector
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (endMs - startMs - covered) / 1000.0
  }
}

/** Planning phases and scanned files of every query in a session. */
final class PhaseListener extends QueryExecutionListener {
  val phasesMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val inputFiles = new AtomicLong()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      phasesMs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(s.durationMs)
    }
    inputFiles.addAndGet(Plans.scans(qe.executedPlan).map(Plans.metric(_, "numFiles")).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def phaseS(name: String): Double = Option(phasesMs.get(name)).map(_.get / 1000.0).getOrElse(0.0)
}

/** Streaming progress of every query: per-phase durations, batch spans. */
object ProgressListener {
  final case class Progress(query: String, batchId: Long, startMs: Long,
      rows: Long, durations: Map[String, Long])
}

final class ProgressListener extends StreamingQueryListener {
  import ProgressListener.Progress
  val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    events.add(Progress(p.id.toString, p.batchId, start, p.numInputRows, d))
  }
  def all: Seq[Progress] = events.asScala.toSeq
}

/** All listeners of one traced run. Sessions made with [[Pipeline.session]]
  * get the phase listener too. */
final class Tracing(spark: SparkSession) {
  val engine = new EngineListener
  val phases = new PhaseListener
  val progress = new ProgressListener
  private val compiles0 = codegen()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }
  def register(s: SparkSession): Unit = s.listenerManager.register(phases)

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Codegen compile seconds since construction: count delta times the
    * histogram's mean (Spark keeps a sampling reservoir, not a sum). */
  def codegenCompileS: Double = {
    val (n1, mean1) = codegen()
    (n1 - compiles0._1) * mean1 / 1000.0
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(progress)
  }
}
