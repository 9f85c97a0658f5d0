package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Runs and columns of every driver query, read from the shared
    * all-query sweep (`QuerySweep`); `SoakSpec` and
    * `GlobalWindowGateSpec` check the same pass. */
  test("every declared query runs and oracle coverage is complete") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    // one Query per name: the derived map drops no declared query
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicate query names: ", ", ", ""))
    assert(qs.size == names.size)
    // every oracle entry refers to a declared query
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    val r = QuerySweep.result
    assert(r.noColumns.isEmpty, r.noColumns.mkString("\n"))
    assert(r.failures.isEmpty,
      s"${r.failures.size} queries failed in the sweep:\n" +
        r.failures.mkString("\n"))
  }

  test("q1_agg groups to the 6 returnflag/linestatus combos with positive sums") {
    val rows = SparkEntry.queries("q1_agg")(spark, sf).collect()
    assert(rows.length >= 3)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q_hash_id produces 64-char lowercase hex, unique per event") {
    val df = SparkEntry.queries("q_hash_id")(spark, sf)
    val n = df.count()
    assert(df.select("row_hash").distinct().count() == n)
    val h = df.head().getAs[String]("row_hash")
    assert(h.matches("[0-9a-f]{64}"))
  }

  test("q_gaps_islands dwell time is non-negative and resets across blocks") {
    val rows = SparkEntry.queries("q_gaps_islands")(spark, sf).collect()
    assert(rows.forall(_.getAs[Double]("dwell_s") >= 0.0))
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
