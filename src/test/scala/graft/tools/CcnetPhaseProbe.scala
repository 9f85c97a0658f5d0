package graft.tools

import org.apache.spark.sql.functions._

/** Optimization-round diagnostics for q_ccnet_bands: decompose
  * perplexityBands into its phases (scored materialization, sample
  * TakeOrdered, count branch, bounds agg, final labeling) so the cost
  * ABOVE kn5LogProb is attributable to a specific consumer. */
object CcnetPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-ccnet-phase")
    val jc = graft.JobCounter.attach(spark.sparkContext)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    import graft.operators.Caches.Persisted
    import graft.functions.Hashing

    (1 to 3).foreach { round =>
      println(s"== round $round ==")
      val docs = graft.Tables.ensureParallelism(
        graft.Tables.documents(spark, sfDir))
      // mirror perplexityBands internals
      val scored = jc.phase("scored_build+mat") {
        val s0 = graft.operators.CorpusStats
          .kn5LogProb(docs, "doc_id", "text")
          .select(col("doc_id"),
            floor(col("avg_logprob") * 1000000).cast("long").as("avg_q6"))
          .persistTracked
        noop(s0.toDF)
        s0
      }
      val sample = scored
        .orderBy(Hashing.md5Long56(
          concat(lit("ppl|"), col("doc_id").cast("string"))), col("doc_id"))
        .limit(50000)
      // r18 single-pass bounds shape (sort_array over the collected
      // bounded sample — one job where the r17 shape ran a window, a
      // second TakeOrdered and a crossJoin)
      val bounds = jc.phase("bounds_agg") {
        val b = sample
          .agg(sort_array(collect_list(col("avg_q6")), asc = false)
            .as("_arr"), count(lit(1)).as("_n"))
          .select(
            get(col("_arr"), (greatest(ceil(col("_n") / 3.0), lit(1L)) - 1)
              .cast("int")).as("_b_head"),
            get(col("_arr"),
              (greatest(ceil(col("_n") * 2.0 / 3.0), lit(1L)) - 1)
              .cast("int")).as("_b_mid"))
        noop(b)
        b
      }
      jc.phase("label+orderBy") {
        noop(scored.crossJoin(broadcast(bounds))
          .select(col("doc_id"), col("avg_q6"),
            when(col("avg_q6") >= col("_b_head"), lit("head"))
              .when(col("avg_q6") >= col("_b_mid"), lit("middle"))
              .otherwise(lit("tail")).as("band"))
          .orderBy("doc_id"))
      }
      jc.phase("full_operator") {
        noop(graft.operators.CorpusStats.perplexityBands(docs, "doc_id",
          "text").orderBy("doc_id"))
      }
      spark.catalog.clearCache(); graft.operators.Caches.clear()
    }
    spark.stop()
  }
}
