package graft.tools

import org.apache.spark.sql.functions._

/** Optimization-round diagnostics for the KN 5-gram family: wall time +
  * job/stage/task counts for the full kn5LogProb, the perplexity-bands
  * composition, and the 3-gram rung. */
object KnPhaseBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-kn-phase")
    val jc = graft.JobCounter.attach(spark.sparkContext)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val docs = graft.Tables.ensureParallelism(
        graft.Tables.documents(spark, sfDir))
      jc.phase("kn5LogProb") {
        noop(graft.operators.CorpusStats.kn5LogProb(docs, "doc_id", "text"))
      }
      spark.catalog.clearCache(); graft.operators.Caches.clear()
      jc.phase("perplexityBands") {
        noop(graft.operators.CorpusStats.perplexityBands(docs, "doc_id",
          "text"))
      }
      spark.catalog.clearCache(); graft.operators.Caches.clear()
      jc.phase("kn3LogProb") {
        noop(graft.operators.CorpusStats.kn3LogProb(docs, "doc_id", "text"))
      }
      spark.catalog.clearCache(); graft.operators.Caches.clear()
    }
    spark.stop()
  }
}
