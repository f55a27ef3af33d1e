package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed and yields no result to time") {
    val l = new Ledger
    assert(l.attempt("ok")(1 + 1).contains(2))
    assert(l.attempt("boom")(throw new IllegalStateException("boom")).isEmpty)
    assert(l.attempted == 2)
    assert(l.failed == 1)
    assert(l.failures.head._1 == "boom")
  }

  test("a wrong output is counted as failed, like a throwing check") {
    val l = new Ledger
    assert(l.check("right")(true))
    assert(!l.check("wrong")(false))
    assert(!l.check("throws")(throw new RuntimeException("no output")))
    assert(l.attempted == 3)
    assert(l.failures.map(_._1) == Seq("wrong", "throws"))
  }

  test("operations that never ran are counted as attempted and failed") {
    val l = new Ledger
    l.lost("batch", 3, "query stopped")
    l.lost("batch", 0, "nothing lost")
    assert(l.attempted == 3 && l.failed == 3)
  }
}
