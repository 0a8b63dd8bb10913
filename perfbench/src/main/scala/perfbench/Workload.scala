package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** A correctness check that did not hold. It fails the op that made it. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)
}

/** What a workload sees: the session, its seed, its own work directory,
  * the checkout root and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val root: String, val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Per-layer values the workload measures itself (not from the tracer). */
  val layer: mutable.Map[String, Double] = mutable.Map.empty
  def add(key: String, v: Double): Unit = layer(key) = layer.getOrElse(key, 0.0) + v
}

final case class OpResult(name: String, unit: Boolean, secs: Double, error: Option[String])

/** One pass: the ops it ran and the input rows it consumed. */
final class Pass(val index: Int, tracer: Tracer) {
  val ops: mutable.ArrayBuffer[OpResult] = mutable.ArrayBuffer.empty
  var rows = 0L
  var wallSecs = 0.0

  /** Run one op. A throwing op or a failed check counts as failed and is
    * reported; it never ends the run silently.
    */
  def op(name: String, unit: Boolean = true)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val error =
      try { tracer.span(name)(body); None }
      catch { case NonFatal(e) => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    error.foreach(m => System.err.println(s"[perfbench] FAILED op $m"))
    ops += OpResult(name, unit, secs, error)
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(_.error.isDefined)
}

trait Workload {
  def name: String
  /** What one input row is, for `rows_per_s`. */
  def rowUnit: String
  /** Sizes that define the inputs, recorded with every result. */
  def sizes: Map[String, Any]
  /** Generate and write the inputs. */
  def setup(ctx: Ctx): Unit
  /** One untimed warm-up unit, run as the last step of each set-up. */
  def warm(ctx: Ctx): Unit
  /** How a pass forces its outputs, recorded with every result. */
  def timedAction: String
  /** One timed pass from inputs to checked outputs. */
  def pass(ctx: Ctx, p: Pass): Unit
}

object Workload {
  def all: Seq[Workload] = Seq(new MatchIngest, new EngineQueries)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))
}
