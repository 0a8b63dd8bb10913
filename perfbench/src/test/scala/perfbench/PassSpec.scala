package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PassSpec extends AnyFunSuite {

  private def pass() = new Pass(0, new Tracer(null))

  test("a planted throwing op is counted as failed, with its error kept") {
    val p = pass()
    p.op("ok")(())
    p.op("boom")(throw new IllegalStateException("planted"))
    assert(p.attempted === 2)
    assert(p.failed === 1)
    assert(p.failed.toDouble / p.attempted === 0.5)
    assert(p.ops.last.error.exists(_.contains("planted")))
  }

  test("a failed check fails its op, and later ops still run") {
    val p = pass()
    p.op("check")(Check(1 + 1 == 3, "arithmetic"))
    var ran = false
    p.op("after") { ran = true }
    assert(p.failed === 1)
    assert(ran)
    assert(p.ops.head.error.exists(_.contains("CheckFailed")))
  }

  test("unit and non-unit ops are told apart") {
    val p = pass()
    p.op("unit")(())
    p.op("other", unit = false)(())
    assert(p.ops.map(_.unit) === Seq(true, false))
  }
}
