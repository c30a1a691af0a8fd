package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers, plus the Spark
  * jobs, tasks and query planning they caused.
  *
  * A span has a name (`<Layer>.<function>` for a layer call, `op.<kind>`
  * for one benchmark operation), start, end, parent and op id. While a span
  * is open its id is the Spark job group, so every job is attributed to the
  * span active when it was submitted — including jobs of lazy DataFrames
  * that run later under an action span. Planning phases reported by the
  * [[QueryExecutionListener]] are attributed by time to the innermost span
  * open when they started. Everything stays in memory until the run ends. */
object Trace {

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  final class Job(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleBytes = 0L
  }

  @volatile private var enabled = false
  private var sc: SparkContext = _
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var currentOp = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val planning = mutable.ArrayBuffer.empty[(Double, Double)]
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val GroupPrefix = "perfbench-span-"

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(0)
      jobs(e.jobId) = new Job(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Trace.synchronized {
        planning += ((phases.map(_.startTimeMs).min.toDouble,
          phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Start recording: registers the listeners; spans open from now on. */
  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
    enabled = true
  }

  /** Stop recording once every submitted job has ended and the listener
    * bus has drained. */
  def stop(spark: SparkSession): Unit = {
    enabled = false
    val deadline = System.currentTimeMillis() + 10000
    def pending = synchronized(jobs.values.count(_.endMs < 0))
    while (pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(Listener)
    spark.listenerManager.unregister(PlanListener)
  }

  def isOn: Boolean = enabled

  /** The innermost open span (0 outside any span or when off). */
  def current: Int = stack.headOption.getOrElse(0)

  /** Mark the start of benchmark operation `op`: later spans carry its id. */
  def op(id: Int): Unit = currentOp = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        synchronized(spans += Span(id, parent, currentOp, name, start, end))
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allJobs: Seq[Job] = synchronized(jobs.values.toList)
  def planningEvents: Seq[(Double, Double)] = synchronized(planning.toList)

  /** Jobs submitted while one of `spanIds` was the innermost open span. */
  def jobsUnder(spanIds: Set[Int]): Seq[Job] = allJobs.filter(j => spanIds(j.span))

  /** The ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val children = allSpans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((acc, s) => acc ++ go(s.id))
    go(root)
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part its child
    * spans cover, summed by the span name's first component. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.name.takeWhile(_ != '.') -> (s.ms - covered(kids, s.startMs, s.endMs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
