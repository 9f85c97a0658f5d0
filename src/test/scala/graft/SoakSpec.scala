package graft

import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB-session contract proven END-TO-END (r10 verdict #7):
  * StorageHygieneSpec pins per-family cache ownership on fixture data;
  * this spec reads the shared all-query sweep (`QuerySweep`), which runs
  * EVERY driver query — the whole SparkEntry surface — through one
  * session with the Bench/Verify hygiene protocol (`clearCache` +
  * `Caches.clear` between queries) and records, after every single
  * query, any persistent RDD that survived. A long-running production
  * session executing the full operator family in sequence must end with
  * the storage memory it started with; an operator that slips an
  * unregistered persist into its returned plan fails here with its name
  * attached.
  */
class SoakSpec extends AnyFunSuite {
  test("all driver queries, one session: zero persistent-RDD growth " +
      "and empty storage after each query") {
    val r = QuerySweep.result
    assert(r.leaks.isEmpty, r.leaks.mkString("\n"))
    assert(r.failures.isEmpty,
      s"${r.failures.size} queries failed in the soak session:\n" +
        r.failures.mkString("\n"))
    assert(r.residualStorage.isEmpty,
      "storage memory not restored: " + r.residualStorage.mkString(", "))
  }
}
