package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's pass loop: a throwing entry is a failure, never a timing. */
class BenchSpec extends AnyFunSuite {

  test("a throwing entry is reported as failed with its exception class") {
    var resets = 0
    val entries = Seq[(String, () => Unit)](
      "ok" -> (() => ()),
      "boom" -> (() => throw new IllegalStateException("entry failed")),
      "after" -> (() => ()))
    val log = Bench.timedPasses(2, entries)(run => run())(() => resets += 1)
    assert(log.failed == Map("boom" -> "java.lang.IllegalStateException"))
    // the loop keeps going past the failure, pass after pass
    assert(entries.forall { case (n, _) => log.times(n).size == 2 })
    assert(resets == 6)
    assert(Bench.failedJson(log.failed) == """{"boom":"java.lang.IllegalStateException"}""")
  }
}
