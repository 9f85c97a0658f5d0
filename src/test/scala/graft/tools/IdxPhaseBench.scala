package graft.tools

import org.apache.spark.sql.functions._

/** One-off phase-timing probe for the DedupIndex lifecycle queries
  * (optimization-round diagnostics; not part of any contract): times
  * build / appends / compact / probe / materialize separately so the
  * seconds in q_dedup_index_* can be attributed before optimizing. */
object IdxPhaseBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-idx-phase")
    import graft.operators.DedupIndex
    val jc = graft.JobCounter.attach(spark.sparkContext)

    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      // persisted like the q_dedup_index_* query fixtures (r18): every
      // phase consumes this projection, and without the persist each
      // consumer pays the scan + ensureParallelism exchange as its own
      // AQE job — the phase numbers must attribute operator cost, not
      // fixture re-materialization. Released by Caches.clear() below.
      val docs = graft.operators.Caches.Persisted(
        graft.Tables.ensureParallelism(
          graft.Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)).persistTracked
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_idx_phase_").toString
      try {
        jc.phase("build") {
          DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
            "doc_id", "text", tmp, bands = 16, rowsPerBand = 2)
        }
        Seq(1, 3, 5, 7, 9).foreach { r =>
          jc.phase(s"append_$r") {
            DedupIndex.append(docs.where(col("doc_id") % 10 === r),
              "doc_id", "text", tmp)
          }
        }
        jc.phase("compact") { DedupIndex.compact(spark, tmp) }
        val batch = docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" crawl extra tail")).as("text"))
        val probed = jc.phase("probe_plan") {
          DedupIndex.probe(spark, tmp, batch, "doc_id", "text",
            threshold = 0.5)
        }
        jc.phase("probe_materialize") {
          probed
            .select(col("id"), col("batch_id"),
              (floor(col("jaccard") * 1e6) / 1e6).as("jaccard"))
            .orderBy("id", "batch_id")
            .localCheckpoint()
        }
        ()
      } finally {
        graft.queries.DocFixtures.deleteRecursively(new java.io.File(tmp))
        spark.catalog.clearCache(); graft.operators.Caches.clear()
      }
    }
    spark.stop()
  }
}
