package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry filter every main shares: a filter that would run zero
  * entries is an error, never an empty success. */
class HarnessSpec extends AnyFunSuite {
  private val all = SparkEntry.queries.keySet.toSeq.sorted

  test("entry filter: unset selects every entry, sorted by name") {
    assert(Harness.select(None).map(_.map(_._1)) === Right(all))
  }

  test("entry filter: a valid list selects exactly those entries, sorted") {
    assert(Harness.select(Some("q1_pricing_summary,arrow_scan")).map(_.map(_._1)) ===
      Right(Seq("arrow_scan", "q1_pricing_summary")))
  }

  test("entry filter: an empty value is rejected") {
    assert(Harness.select(Some("")).isLeft)
    assert(Harness.select(Some(" , ")).isLeft)
  }

  test("entry filter: one unknown name is rejected and named") {
    val res = Harness.select(Some("q1_pricing_summary,no_such_entry"))
    assert(res.isLeft)
    val msg = res.swap.getOrElse("")
    assert(msg.contains("no_such_entry") && !msg.contains("q1_pricing_summary"))
  }
}
