package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI gate on unpartitioned windows: a `Window.partitionBy()` (empty
  * partition spec) funnels ALL rows through one task — fatal at 100 TB —
  * so every occurrence in a query's optimized plan (recorded by the
  * shared all-query sweep, `QuerySweep`) must be one of the documented
  * BOUNDED sites, where the window input is provably small:
  *
  *  - `DataPrep.epochPlan` / `DataPrep.mixtureSample` scalar-total
  *    windows run over the per-SOURCE aggregate (group-cardinality
  *    rows, not corpus rows);
  *  - `DataPrep.temperatureSample`'s rate window, same bound.
  *
  * (`CorpusStats.perplexityBands` was whitelisted through r17 for its
  * maxSample-capped rank window; the r18 single-pass bounds agg removed
  * the window outright, so the entry is pruned per the drift guard.)
  *
  * Any OTHER query whose plan picks up an empty-partition Window /
  * WindowGroupLimit — e.g. an accidental global `row_number()` on a
  * corpus-sized frame — fails this spec by name.
  *
  * Limitation (documented): operators that eagerly materialize
  * (`localCheckpoint`) replace their upstream plan with a `LogicalRDD`
  * leaf, so windows INSIDE the materialized stage are invisible here;
  * those stages are plan-gated by their own specs (PLANS.md shapes).
  */
class GlobalWindowGateSpec extends AnyFunSuite {
  /** Queries allowed to carry an unpartitioned window, with the bound
    * that justifies each. Keep in sync with the scaladoc above. */
  private val bounded: Set[String] = Set(
    "q_epoch_plan", // per-source agg rows (group cardinality)
    "q_mixture_temperature" // per-source rate rows (group cardinality)
  )

  test("no query grows an unpartitioned window outside the bounded whitelist") {
    val windowed = QuerySweep.result.windowed
    val rogue = windowed.filterNot { case (name, _) => bounded(name) }
    assert(rogue.isEmpty,
      "unpartitioned window outside the bounded whitelist: " +
        rogue.map { case (n, h) => s"$n(${h.mkString(",")})" }
          .mkString(", "))
    // drift guard the other way: if a whitelisted query no longer has a
    // global window, the whitelist entry is stale — prune it
    val stale = bounded -- windowed.map(_._1)
    assert(stale.isEmpty,
      s"whitelist entries with no global window in the plan: $stale")
  }
}
