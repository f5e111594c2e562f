package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A time interval in epoch milliseconds. */
final case class Interval(start: Double, end: Double) {
  def ms: Double = end - start
}

object Spans {
  /** Self time of a span: its duration minus the part of it that its
    * children cover. Overlapping children count once. */
  def selfMs(parent: Interval, children: Seq[Interval]): Double = {
    val clipped = children
      .map(c => Interval(math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter(c => c.end > c.start)
      .sortBy(_.start)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for (c <- clipped) {
      if (curS.isNaN || c.start > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = c.start; curE = c.end
      } else curE = math.max(curE, c.end)
    }
    if (!curS.isNaN) covered += curE - curS
    parent.ms - covered
  }
}

/** Task-level totals attributed to one call. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** One traced call: its span, the Spark jobs it ran and their tasks. */
final class CallTrace(val id: Long, val op: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  val jobs: mutable.Map[Int, Interval] = mutable.Map.empty
  var stages = 0
  val totals = new TaskTotals
  var profile: Option[PlanProfile] = None

  def span: Interval = Interval(startMs, endMs)
  def selfMs: Double = Spans.selfMs(span, jobs.values.toSeq)
  def jobMs: Double = jobs.values.map(_.ms).sum
}

/** Per-call tracing. With tracing off nothing is registered and every
  * method is a no-op; with it on, each call runs under its own Spark job
  * tag and one listener attributes jobs, stages and task metrics to it.
  * Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private lazy val sc: SparkContext = spark.sparkContext
  private val calls = mutable.ArrayBuffer.empty[CallTrace]
  private val byId = mutable.Map.empty[Long, CallTrace]
  private val stageToCall = mutable.Map.empty[Int, Long]
  private var nextId = 0L
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val TagPrefix = "graftbench-call-"
  private def tag(id: Long) = TagPrefix + id

  private def callOf(props: java.util.Properties): Option[CallTrace] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(TagPrefix)))
      .flatMap(t => byId.get(t.stripPrefix(TagPrefix).toLong))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      callOf(e.properties).foreach { c =>
        c.jobs(e.jobId) = Interval(e.time.toDouble, Double.NaN)
        e.stageIds.foreach(s => stageToCall(s) = c.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      calls.reverseIterator.find(_.jobs.contains(e.jobId)).foreach { c =>
        c.jobs(e.jobId) = c.jobs(e.jobId).copy(end = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageToCall.get(e.stageInfo.stageId).flatMap(byId.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (id <- stageToCall.get(e.stageId); c <- byId.get(id)) {
        val t = c.totals
        t.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.inputBytes += m.inputMetrics.bytesRead
          t.outputBytes += m.outputMetrics.bytesWritten
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  /** While paused, calls run untraced (to measure tracing overhead). */
  @volatile var paused = false
  private var open = -1L

  /** Opens a call span; returns its id (-1 when not tracing). */
  def begin(op: String): Long = if (!on || paused) -1L else synchronized {
    nextId += 1
    val c = new CallTrace(nextId, op, nowMs)
    calls += c
    byId(c.id) = c
    sc.addJobTag(tag(c.id))
    open = c.id
    c.id
  }

  def end(id: Long): Unit = if (id >= 0) {
    sc.removeJobTag(tag(id))
    synchronized { byId(id).endMs = nowMs; if (open == id) open = -1L }
  }

  /** Attaches a final-plan profile to the call in progress, if any. */
  def attachProfile(p: => PlanProfile): Unit = if (on) synchronized {
    byId.get(open).foreach(_.profile = Some(p))
  }

  /** Every call traced so far, after the listener has caught up. */
  def finished(): Seq[CallTrace] = {
    if (!on) return Nil
    BenchBus.drain(sc)
    synchronized(calls.toSeq)
  }

  def stop(): Unit = if (on) sc.removeSparkListener(listener)
}

object Tracer {
  /** A tracer that records nothing and needs no session. */
  val Off = new Tracer(null, on = false)
}
