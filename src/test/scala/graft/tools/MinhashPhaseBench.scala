package graft.tools

import org.apache.spark.sql.functions._

/** Optimization-round diagnostics: job/stage/task counts and wall time
  * for each piece of the minhash near-dup pipeline and its graph
  * consumers (q_minhash_pairs / q_dedup_clusters / q_dedup_canonical). */
object MinhashPhaseBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-minhash-phase")
    val jc = graft.JobCounter.attach(spark.sparkContext)

    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val docs = graft.queries.DocQueries.docsWithDupsPublic(spark, sfDir)
      val pairs = jc.phase("minhashDupPairs") {
        graft.operators.Dedup.minhashDupPairs(docs, "doc_id", "text",
          threshold = 0.5).select("id_a", "id_b")
      }
      jc.phase("pairs_noop") {
        pairs.write.format("noop").mode("overwrite").save()
      }
      val comp = jc.phase("connectedComponents") {
        graft.operators.Dedup.connectedComponents(
          docs.select("doc_id"), pairs, "doc_id")
      }
      val pr = jc.phase("pageRankNanos") {
        graft.operators.Graph.pageRankNanos(pairs, iters = 5)
      }
      jc.phase("canonical_tail") {
        import org.apache.spark.sql.expressions.Window
        comp.join(pr, comp("doc_id") === pr("node"))
          .select(col("component"), col("doc_id"), col("pr_nanos"))
          .withColumn("rk", row_number().over(Window.partitionBy("component")
            .orderBy(col("pr_nanos").desc, col("doc_id"))))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("component")))
          .where(col("rk") === 1 && col("n_members") > 1)
          .orderBy("component")
          .write.format("noop").mode("overwrite").save()
      }
      graft.operators.Caches.releaseResult(pairs)
      spark.catalog.clearCache(); graft.operators.Caches.clear()
    }
    spark.stop()
  }
}
