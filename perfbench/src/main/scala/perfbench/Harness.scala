package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {

  /** Linear-interpolated quantile (numpy's default rule), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The middle value, or of an even count the lower of the two. */
  def lowerMedian(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }
}

/** Spark work done, as counted from listener events. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var peakExecMem = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskWaitMs += o.taskWaitMs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def copy(): Counts = { val c = new Counts; c += this; c }

  /** Counters accumulated since `mark` (the peak is the peak since start). */
  def since(mark: Counts): Counts = {
    val c = copy()
    c.jobs -= mark.jobs; c.stages -= mark.stages; c.tasks -= mark.tasks
    c.failedTasks -= mark.failedTasks; c.taskWaitMs -= mark.taskWaitMs
    c.taskRunMs -= mark.taskRunMs; c.taskCpuNs -= mark.taskCpuNs
    c.gcMs -= mark.gcMs; c.shuffleWrite -= mark.shuffleWrite
    c.shuffleRead -= mark.shuffleRead; c.spill -= mark.spill
    c.inputBytes -= mark.inputBytes
    c
  }
}

/** Listener that counts jobs, stages and tasks in total and per span.
  * A job belongs to the span whose id was the local property
  * [[Tracer.SpanKey]] on the thread that submitted it; its stages and
  * tasks follow the job.
  */
final class Recorder extends SparkListener {
  private val totalCounts = new Counts
  private val perSpan = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()

  private def bump(span: Long)(f: Counts => Unit): Unit = synchronized {
    f(totalCounts)
    if (span != 0L) f(perSpan.computeIfAbsent(span, _ => new Counts))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    bump(span)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    bump(stageSpan.getOrDefault(id, 0L))(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val info = e.taskInfo
    val m = e.taskMetrics
    val submitted = stageSubmit.getOrDefault(e.stageId, info.launchTime)
    bump(span) { c =>
      c.tasks += 1
      if (info.failed || info.killed) c.failedTasks += 1
      c.taskWaitMs += math.max(0L, info.launchTime - submitted)
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def total(sc: SparkContext): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(totalCounts.copy())
  }

  def bySpan(sc: SparkContext): Map[Long, Counts] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(perSpan.asScala.map { case (k, v) => k -> v.copy() }.toMap)
  }
}

final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** In-memory spans around the benchmark's calls into each layer. While
  * not enabled, [[span]] runs its body and records nothing. Spans are
  * recorded by the benchmark's main thread only; each top-level span
  * starts a new operation and every span nested in it carries that
  * operation's id.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, op) = stack.headOption.getOrElse((0L, id))
      stack = (id, op) :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.synchronized {
          recorded += Span(id, parent, op, layer, name, t0, System.nanoTime())
        }
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Record a span measured elsewhere (a streaming micro-batch). */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) recorded.synchronized {
      recorded += Span(nextId, 0L, nextId, layer, name, startNs, endNs)
      nextId += 1
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Seconds per layer not covered by a child span. Children of one
    * parent run one after another on the main thread, so their
    * durations add without overlap.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childTime = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum)
    all.groupBy(_.layer).view.mapValues(_.map(s =>
      math.max(0.0, s.seconds - childTime.getOrElse(s.id, 0.0))).sum).toMap
  }
}
