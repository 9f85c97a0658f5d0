package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's tiers partition the query set: every query in
  * `SparkEntry.all` is a headline, an extra or not benched, never two,
  * so a new query is timed unless it is listed in `Bench.notBenched`. */
class BenchTiersSpec extends AnyFunSuite {
  private val all = SparkEntry.all.map(_.name)
  private val tiers = Seq("headline" -> Bench.headline,
    "extras" -> Bench.extras, "notBenched" -> Bench.notBenched)

  test("the headline contract has 13 queries") {
    assert(Bench.headline.size == 13)
  }

  test("every headline and notBenched name is a declared query") {
    val stale = (Bench.headline ++ Bench.notBenched).filterNot(all.toSet)
    assert(stale.isEmpty, s"names not in SparkEntry.all: $stale")
  }

  test("the tiers are pairwise disjoint and together cover every query") {
    for ((a, as) <- tiers; (b, bs) <- tiers if a < b) {
      val both = as.intersect(bs)
      assert(both.isEmpty, s"in both $a and $b: $both")
    }
    val named = tiers.flatMap(_._2)
    assert(named.distinct.size == named.size,
      s"listed twice: ${named.diff(named.distinct)}")
    assert(named.toSet == all.toSet,
      s"in no tier: ${all.filterNot(named.toSet)}")
  }
}
