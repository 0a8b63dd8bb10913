package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Wall clock in epoch microseconds, read from the monotonic timer so that
  * span boundaries never go backwards, and anchored to the epoch so they
  * can be compared with Spark's stage timestamps.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L
}

final class Span(val id: Int, val parent: Int, val name: String, val trace: Int,
    val startUs: Long) {
  var endUs: Long = -1L
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder for the single client thread. While a span is
  * open its id is the `perfbench.span` local property, so every Spark job
  * the span issues (also from threads it starts) carries it.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled: Boolean = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var trace = 0

  def newTrace(): Int = { trace += 1; trace }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, trace,
        Clock.nowUs())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endUs = Clock.nowUs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Counter key for work issued outside any span. */
  val NoSpan: Int = -1
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** One finished SQL execution as the QueryExecutionListener saw it. */
final case class SqlEvent(startUs: Long, planningUs: Long, durUs: Long, outputPath: Option[String])

/** Listener-bus side of the tracer: job, stage and task counters keyed by
  * the span id each job carries, stage run intervals (for the driver gap),
  * and per-execution planning time and write paths. All mutation happens
  * on the listener bus thread; read only after [[SparkProbe.drain]].
  */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan: mutable.Map[Int, Counters] = mutable.Map.empty
  val stageIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val sql: mutable.ArrayBuffer[SqlEvent] = mutable.ArrayBuffer.empty

  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(Tracer.NoSpan)
    counters(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    counters(stageSpan.getOrElse(info.stageId, Tracer.NoSpan)).stages += 1
    for (a <- info.submissionTime; b <- info.completionTime)
      stageIntervals += ((a * 1000L, b * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrElse(e.stageId, Tracer.NoSpan))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val planningUs = phases.map(p => (p.endTimeMs - p.startTimeMs) * 1000L).sum
    val startUs = if (phases.isEmpty) Clock.nowUs() else phases.map(_.startTimeMs).min * 1000L
    val out = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    sql += SqlEvent(startUs, planningUs, durationNs / 1000L, out)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)
}
