package graft.tools

import org.apache.spark.sql.functions._

/** Core-scaling evidence at a DATA-BOUND scale (r17 verdict #5 / "next
  * round" #4): the driver's 8-vs-32-core comparison runs the bench at
  * sf0.1, where every query is fixed-overhead bound (AQE job
  * scheduling, task commits), so its ratios sit at ≈1 and prove
  * nothing about parallelism. This tool runs the throughput anchors at
  * the sf1 replication (10 M rows — the scale where the driver's own
  * sf1_anchor block shows data-bound behavior) on a configurable core
  * count, so an 8-core and a 32-core run CAN be compared meaningfully.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.tools.CoreScaleBench [reps] [rep]"
  * (rep = events replication factor; 100 ≈ sf1, 32 ≈ the sf0.1 anchor)
  * Prints per-rep anchor seconds + rows/s; min-of-reps is the number
  * to compare across core counts (paste into SCALING.md).
  */
object CoreScaleBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val rep = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-corescale")
    import graft.operators.{Cpd, FeatureEngineering, TelemetryTransform}

    // the EXACT frames the bench anchors use — shared builders, so the
    // evidence cannot drift from what Bench measures
    val ev = graft.Bench.anchorEvents(spark, sfDir, rep = rep)
    val nRows = ev.count()
    println(s"cpus=$cpus rep=$rep rows=$nRows")

    val raw = ev.select(
      col("event_id"), col("ts").as("timestamp"),
      concat(lit("truck-"), (col("user_id") % 640).cast("string"))
        .as("device_id"),
      lit("LoadingManeuver").as("state"),
      lit("start").as("software_state"), lit("t").as("system_engaged"),
      (col("value") / 10).as("current_speed"),
      concat(lit("{"), (col("value") / 1000 + 33.2).cast("string"),
        lit(", -97.83, "), (col("value") + 200.0).cast("string"),
        lit("}")).as("current_position"),
      floor(col("value") * 1200).cast("int").as("load_weight"),
      lit("d").as("prndl"), lit("f").as("parking_brake_applied"),
      col("props").as("extras"))
    val silver = graft.Bench.anchorSilver(ev)

    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      TelemetryTransform.transform(raw)
        .write.format("noop").mode("overwrite").save()
      val tSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val feats = FeatureEngineering.withReliablePayload(
        FeatureEngineering.withWindowFeatures(silver))
        .withColumn("raw_event_hash_id",
          sha2(concat(col("device_id"), lit("|"),
            col("timestamp").cast("string")), 256))
      Cpd.candidateEvents(feats, Cpd.Config(every = "5 minutes",
          penalty = 0.5))
        .write.format("noop").mode("overwrite").save()
      val cSec = (System.nanoTime() - t1) / 1e9
      println(f"rep $i: transform $tSec%.2f s (${nRows / tSec}%.0f rows/s)" +
        f"  features+cpd $cSec%.2f s (${nRows / cSec}%.0f rows/s)")
      spark.catalog.clearCache(); graft.operators.Caches.clear()
    }
    spark.stop()
  }
}
