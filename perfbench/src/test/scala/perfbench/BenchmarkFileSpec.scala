package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the metrics the benchmark prints must agree. */
class BenchmarkFileSpec extends AnyFunSuite {

  private val json = {
    val src = scala.io.Source.fromFile(new java.io.File("..", "BENCHMARK.json"))
    try JsonMethods.parse(src.mkString) finally src.close()
  }

  private def metrics(key: String): Seq[(String, String)] = (json \ key) match {
    case JArray(xs) => xs.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))
    case other => fail(s"$key is $other")
  }

  test("end-to-end metrics match what an untraced run prints") {
    assert(metrics("end_to_end") === Main.EndToEnd)
  }

  test("per-layer metrics match what a traced run prints") {
    assert(metrics("per_layer") === Main.PerLayer)
    assert(Main.PerLayer.size <= 128)
  }

  test("every listed workload exists") {
    val names = (json \ "workloads") match {
      case JArray(xs) => xs.map(w => (w \ "name").values.toString)
      case other => fail(s"workloads is $other")
    }
    assert(names.nonEmpty)
    names.foreach(Workload.byName)
  }
}
