package dagbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  test("a throwing call and a wrong output both count as failed, are named, and give no sample") {
    val err = new java.io.ByteArrayOutputStream
    val ledger = new Ledger(new java.io.PrintStream(err, true))
    val good = ledger.call("good")(21 * 2)(v => if (v == 42) Nil else Seq("wrong"))
    val threw = ledger.call[Int]("planted-throw")(throw new IllegalStateException("boom"))(_ => Nil)
    val wrong = ledger.call("planted-wrong")(41)(v => if (v == 42) Nil else Seq(s"got $v"))
    val badCheck = ledger.call("planted-check")(())(_ => Seq("digests differ")).isDefined

    assert(good.map(_._1).contains(42))
    assert(good.exists(_._2.wallS >= 0.0))
    assert(threw.isEmpty && wrong.isEmpty && !badCheck)
    assert(ledger.attempted == 4)
    assert(ledger.failed == 3)
    assert(ledger.failures == Seq("planted-throw", "planted-wrong", "planted-check"))
    val log = err.toString
    assert(log.contains("FAILED planted-throw: threw java.lang.IllegalStateException: boom"))
    assert(log.contains("FAILED planted-wrong: got 41"))
    assert(log.contains("FAILED planted-check: digests differ"))
    assert(log.contains("[dagbench] ok good "))
    assert(!log.contains("FAILED good"))
  }

  test("a check that itself throws counts as a failed call") {
    val ledger = new Ledger(new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    assert(ledger.call("x")(1)(_ => throw new RuntimeException("check broke")).isEmpty)
    assert(ledger.failed == 1)
  }

  test("the record reports correct only when nothing failed") {
    val quiet = new java.io.PrintStream(new java.io.ByteArrayOutputStream)
    val ok = new Ledger(quiet)
    ok.call("a")(())(_ => Nil)
    val r = new Report
    r.put("wall_s", 1.5, "s")
    assert(r.json(ok) ==
      """{"correct": true, "attempted": 1, "failed": 0, "metrics": {"wall_s": {"value": 1.5, "unit": "s"}}}""")
    val bad = new Ledger(quiet)
    bad.call("a")(())(_ => Seq("no"))
    assert(r.json(bad).startsWith("""{"correct": false, "attempted": 1, "failed": 1,"""))
  }

  test("a run whose every measured call failed still prints a record, without timings") {
    val ledger = new Ledger(new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    val samples = Seq(
      ledger.call[Unit]("session0")(throw new IllegalStateException("boom"))(_ => Nil),
      ledger.call("session1")(())(_ => Seq("wrong output"))).flatten.map(_._2.wallS)
    val r = new Report
    r.put("setup_s", 2.0, "s")
    r.putMedian("wall_s", samples, "s")
    assert(r.json(ledger) == """{"correct": false, "attempted": 2, "failed": 2, """ +
      """"metrics": {"setup_s": {"value": 2.0, "unit": "s"}}}""")
  }
}
