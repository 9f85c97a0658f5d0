package graft.tools

import org.apache.spark.sql.functions._

/** One-off anchor timer for the features+CPD throughput anchor (the
  * Bench derived block's shape, 3.2 M rows at sf0.1) — used to
  * attribute anchor movement to a specific kernel change without
  * paying a full Bench run.
  * Run: sbt "Test/runMain graft.tools.CpdAnchorBench [reps]" */
object CpdAnchorBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(32, "graft-cpd-anchor")
    import graft.operators.{Cpd, FeatureEngineering}
    // the EXACT frames the bench anchors use — shared builders, so this
    // probe cannot drift from what Bench measures (r11 review)
    val silver = graft.Bench.anchorSilver(
      graft.Bench.anchorEvents(spark, "/root/testdata/sf0.1", rep = 32))
    (1 to reps).foreach { i =>
      val t1 = System.nanoTime()
      val feats = FeatureEngineering.withReliablePayload(
        FeatureEngineering.withWindowFeatures(silver))
        .withColumn("raw_event_hash_id",
          sha2(concat(col("device_id"), lit("|"),
            col("timestamp").cast("string")), 256))
      Cpd.candidateEvents(feats, Cpd.Config(every = "5 minutes",
          penalty = 0.5))
        .write.format("noop").mode("overwrite").save()
      println(f"rep $i: ${(System.nanoTime() - t1) / 1e9}%.2f s")
      spark.catalog.clearCache(); graft.operators.Caches.clear()
    }
    spark.stop()
  }
}
