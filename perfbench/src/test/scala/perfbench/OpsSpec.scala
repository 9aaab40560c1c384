package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  test("an operation that throws is recorded as failed, never timed as a pass") {
    val ops = new Ops
    val r = ops.run[Int]("kpi", "boom")(
      throw new IllegalStateException("x"))(_ => None)
    assert(r.isEmpty)
    val op = ops.all.single
    assert(!op.ok)
    assert(op.error.exists(_.contains("IllegalStateException")))
  }

  test("an operation with a wrong output is recorded as failed") {
    val ops = new Ops
    val r = ops.run("kpi", "wrong")(41)(v => Ops.expect("answer", v, 42))
    assert(r.isEmpty)
    assert(ops.all.single == ops.all.single.copy(ok = false,
      error = Some("answer: got 41, want 42")))
  }

  test("a check that throws fails the operation too") {
    val ops = new Ops
    ops.run("kpi", "check")(1)(_ => throw new RuntimeException("bad check"))
    assert(!ops.all.single.ok)
  }

  test("a correct operation is recorded with its time") {
    val ops = new Ops
    assert(ops.run("kpi", "fine") { Thread.sleep(5); 42 }(
      v => Ops.expect("answer", v, 42)).contains(42))
    val op = ops.all.single
    assert(op.ok && op.ms >= 5.0 && op.error.isEmpty)
  }

  implicit class Single[T](xs: Seq[T]) {
    def single: T = { assert(xs.size == 1); xs.head }
  }
}
