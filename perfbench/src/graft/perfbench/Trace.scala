package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the epoch-millisecond stamps Spark puts on its
  * listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One call into a public layer function of the engine. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans recorded around the benchmark's calls into the engine. They stay
  * in memory and are written out when the run ends. With tracing off,
  * `apply` only runs the body.
  */
final class Spans(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def apply[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.ms
      try body
      finally {
        stack.set(stack.get.tail)
        done.add(Span(id, name, parent, op, t0, Clock.ms))
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Self time per span name: each span's duration minus the part of its
    * interval that its child spans cover, summed by name.
    */
  def selfMs: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.name -> (s.ms - Windows.covered(kids, s.start, s.end))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Windows {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, submitMs: Double, op: Long, phase: String,
    stages: Seq[Int]) {
  @volatile var endMs: Double = Double.NaN
}

final case class TaskRec(stage: Int, runMs: Long, cpuMs: Double, gcMs: Long,
    schedDelayMs: Long, shuffleWrite: Long, spill: Long, inRows: Long,
    inBytes: Long, outBytes: Long)

final case class QeRec(startMs: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double)

/** Per-layer totals of Spark work over a set of jobs and a time window. */
final case class SparkWork(actions: Int, jobs: Int, stages: Int, tasks: Int,
    runMs: Long, cpuMs: Double, gcMs: Long, schedDelayMs: Long,
    shuffleWrite: Long, spill: Long, inRows: Long, inBytes: Long,
    outBytes: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** Records what Spark did, through the two public listener APIs. Jobs
  * carry the benchmark's op id and phase as local properties set on the
  * calling thread, so a single-client op owns its jobs exactly; Catalyst
  * phases attach by the time window they started in.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val events = new AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Recorder.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    val phase = p.flatMap(x => Option(x.getProperty(Recorder.PhaseKey))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, op, phase, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stagesDone.add(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, math.max(0L, sched), m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def dur(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val start = if (ph.isEmpty) Clock.ms else ph.values.map(_.startTimeMs).min.toDouble
    qes.add(QeRec(start, dur("analysis"), dur("optimization"), dur("planning")))
  }

  /** Waits until the asynchronous listener buses have delivered every
    * event of the jobs started so far.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = events.get()
      val open = jobs.values.asScala.exists(_.endMs.isNaN)
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      if (!open && System.currentTimeMillis() - stableSince > 150) return
      Thread.sleep(20)
    }
  }

  def jobsWhere(f: JobRec => Boolean): Seq[JobRec] = jobs.values.asScala.filter(f).toSeq

  /** Work done by `js`, plus the Catalyst phases that started in one of
    * `windows`.
    */
  def work(js: Seq[JobRec], windows: Seq[(Double, Double)]): SparkWork = {
    val ids = js.map(_.id).toSet
    val ts = tasks.asScala.filter(t => ids.contains(stageJob.getOrDefault(t.stage, -1))).toSeq
    val stages = stagesDone.asScala.count(s => ids.contains(stageJob.getOrDefault(s, -1)))
    val q = qes.asScala.filter(r => windows.exists { case (lo, hi) =>
      r.startMs >= math.floor(lo) && r.startMs <= hi }).toSeq
    SparkWork(q.size, js.size, stages, ts.size, ts.map(_.runMs).sum,
      ts.map(_.cpuMs).sum, ts.map(_.gcMs).sum, ts.map(_.schedDelayMs).sum,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, ts.map(_.inRows).sum,
      ts.map(_.inBytes).sum, ts.map(_.outBytes).sum, q.map(_.analysisMs).sum,
      q.map(_.optimizationMs).sum, q.map(_.planningMs).sum)
  }

  def jobIntervals(lo: Double, hi: Double): Seq[(Double, Double)] =
    jobs.values.asScala.toSeq.map(j => (j.submitMs, if (j.endMs.isNaN) hi else j.endMs))
      .filter { case (s, e) => e >= lo && s <= hi }
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

/** The tracing switch of a run: spans plus the two listeners. Listeners
  * can be detached and re-attached so that a traced run also measures
  * itself untraced and reports the difference as the tracing overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = new Spans(enabled)
  val rec = new Recorder
  private var attached = false

  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    attached = true
  }

  def detach(): Unit = if (attached) {
    rec.drain()
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    attached = false
  }

  /** Runs `body` with its jobs tagged by op id and phase (no-op untraced). */
  def tagged[T](op: Long, phase: String)(body: => T): T =
    if (!attached) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Recorder.OpKey, op.toString)
      sc.setLocalProperty(Recorder.PhaseKey, phase)
      try body
      finally {
        sc.setLocalProperty(Recorder.OpKey, null)
        sc.setLocalProperty(Recorder.PhaseKey, null)
      }
    }

  /** A traced span whose jobs are tagged with the span's name as phase. */
  def call[T](name: String, op: Long = -1L)(body: => T): T =
    spans(name, op)(tagged(op, name)(body))
}
