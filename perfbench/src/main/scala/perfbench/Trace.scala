package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval: a call into a layer, a Spark job, or a whole op.
  * Times are System.nanoTime() nanoseconds; Spark's millisecond event times
  * are shifted onto the same clock.
  */
final case class Span(
    id: Long,
    parent: Long,
    op: Long,
    layer: String,
    name: String,
    start: Long,
    end: Long
)

/** Span recorder for the traced run. The benchmark opens a span around
  * each call it makes into a layer's public function and tags the Spark
  * jobs that call submits with a job group naming the span; the listener
  * below turns those jobs into child spans of layer `spark` and rolls up
  * their task metrics. Untraced runs pass through with no recording and no
  * job groups.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  private val groupPrefix = "perfbench-span-"
  private val listener = new SpanListener(groupPrefix)
  if (enabled) sc.addSparkListener(listener)

  /** Root span of one benchmark operation (layer `bench`). */
  def op[A](kind: String)(f: => A): A = call("bench", kind, root = true)(f)

  /** A call into `layer` made by the benchmark. */
  def span[A](layer: String, name: String)(f: => A): A = call(layer, name, root = false)(f)

  private def call[A](layer: String, name: String, root: Boolean)(f: => A): A = {
    if (!enabled) return f
    val id = nextId
    nextId += 1
    val (parent, opId) = stack.headOption match {
      case Some((p, o)) if !root => (p, o)
      case _ => (0L, id)
    }
    stack = (id, opId) :: stack
    sc.setJobGroup(groupPrefix + id, s"$layer.$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(groupPrefix + p, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent, opId, layer, name, t0, t1)
    }
  }

  /** All spans so far, Spark jobs included. Drains the listener bus first
    * so every job that ended is present.
    */
  def all(): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    val ops = spans.map(s => s.id -> s.op).toMap
    spans.toSeq ++ listener.jobSpans().flatMap { case (jobId, spanId, t0, t1) =>
      ops.get(spanId).map(op => Span(-jobId - 1, spanId, op, "spark", s"job$jobId", t0, t1))
    }
  }

  /** Task-metric totals of the jobs under each span id. */
  def sparkTotals(): Map[Long, SparkTotals] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    listener.totals()
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

/** Task-metric sums over a set of Spark jobs. */
final case class SparkTotals(
    tasks: Long = 0,
    runNs: Long = 0,
    cpuNs: Long = 0,
    gcMs: Long = 0,
    shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0,
    spillBytes: Long = 0,
    schedulerDelayMs: Long = 0
) {
  def +(o: SparkTotals): SparkTotals = SparkTotals(
    tasks + o.tasks, runNs + o.runNs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, schedulerDelayMs + o.schedulerDelayMs
  )
}

/** Maps jobs to the span named by their job group, and sums task metrics
  * per span. Runs on the listener bus thread, hence the locking.
  */
private final class SpanListener(groupPrefix: String) extends SparkListener {
  // Spark event times are wall-clock millis; shift them onto nanoTime
  private val clockShiftNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStartNs = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val ended = mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
  private val sums = mutable.Map.empty[Long, SparkTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(groupPrefix)).foreach { g =>
      val span = g.stripPrefix(groupPrefix).toLong
      jobSpan(e.jobId) = span
      jobStartNs(e.jobId) = e.time * 1000000L + clockShiftNs
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { span =>
      ended += ((e.jobId, span, jobStartNs.remove(e.jobId).get, e.time * 1000000L + clockShiftNs))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { span =>
      val info = e.taskInfo
      val delay = math.max(
        0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      )
      val t = SparkTotals(
        tasks = 1,
        runNs = m.executorRunTime * 1000000L,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        schedulerDelayMs = delay
      )
      sums(span) = sums.getOrElse(span, SparkTotals()) + t
    }
  }

  def jobSpans(): Seq[(Int, Long, Long, Long)] = synchronized(ended.toSeq)
  def totals(): Map[Long, SparkTotals] = synchronized(sums.toMap)
}
