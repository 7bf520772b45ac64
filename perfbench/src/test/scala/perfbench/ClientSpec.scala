package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ClientSpec extends AnyFunSuite {

  private def client = new Client(null, new Tracer(false), None)

  private def op[T](c: Client, name: String)(body: => T)(check: T => Seq[String]) =
    c.record(c.timed("query", name)(body), name)(check)

  test("a thrown operation is counted as failed and yields no timing sample") {
    val c = client
    val s = op[Int](c, "boom") { Thread.sleep(5); throw new IllegalStateException("boom") }(_ => Nil)
    assert(s.isEmpty)
    assert(c.attempted == 1 && c.failed == 1)
    assert(c.problems.exists(_.contains("IllegalStateException")))
  }

  test("an operation that fails its check is counted as failed, not timed") {
    val c = client
    assert(op(c, "wrong")(41)(v => if (v == 42) Nil else Seq("wrong answer")).isEmpty)
    assert(c.attempted == 1 && c.failed == 1)
  }

  test("a good operation yields its time") {
    val c = client
    val s = op(c, "fine") { Thread.sleep(20); 42 }(v => if (v == 42) Nil else Seq("no"))
    assert(s.exists(_ >= 0.02))
    assert(c.attempted == 1 && c.failed == 0)
  }

  test("self time subtracts the union of child spans") {
    assert(Span.covered(Seq((0.0, 4.0), (2.0, 6.0), (8.0, 20.0)), 0.0, 10.0) == 8.0)
    val t = new Tracer(true)
    t.span("op", "outer") { t.span("call", "inner")(Thread.sleep(10)) }
    val all = t.all
    val outer = all.find(_.name == "outer").get
    val inner = all.find(_.name == "inner").get
    assert(inner.parent == outer.id)
    assert(math.abs(t.selfTime(outer, all) - (outer.dur - inner.dur)) < 1e-6)
  }
}
