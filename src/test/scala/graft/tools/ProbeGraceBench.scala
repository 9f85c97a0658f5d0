package graft.tools

import org.apache.spark.sql.functions._

/** The vacuum-grace floor measurement (r16 verdict #6): snapshot
  * isolation holds only while `vacuum`'s grace exceeds the
  * longest-running probe's PLAN-TO-FINISH wall time — the window from
  * plan construction (when the live epoch/generation file set is
  * pinned) to the last byte consumed. This bench measures that
  * worst-case window for every probe shape the persisted indexes
  * serve, at sf0.1 and at a synthesized 10× ([[ScaleBench.synthesize]]
  * corpus), so operators have a NUMBER to set the grace against
  * instead of a promise:
  *
  *   - DedupIndex broadcast probe (the crawl-increment plan — lazy
  *     frame, so the window is construction → count());
  *   - DedupIndex keyed probe (the backfill plan — eagerly
  *     checkpointed inside probe(), so the window is ~the call);
  *   - AnnIndex probe (lazy, construction → collect()).
  *
  * Indexes are built once per scale OUTSIDE the timed window (build
  * cost is not reader-hold time). Run:
  *   sbt "Test/runMain graft.tools.ProbeGraceBench [copies] [reps]"
  * Writes markdown rows to stdout; paste into SCALING.md. */
object ProbeGraceBench {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local(32, "graft-probe-grace")
    import graft.operators.{AnnIndex, DedupIndex}

    def minOf(body: => Double): Double =
      (1 to reps).map(_ => body).min

    def row(scale: String, op: String, sec: Double): Unit =
      println(f"| $scale | $op | $sec%.2f s |")

    println("| scale | probe shape | plan-to-finish wall (min of " +
      s"$reps) |")
    println("|---|---|---|")

    Seq(("sf0.1", "/root/testdata/sf0.1"),
        (s"${copies}x", ScaleBench.synthesize(spark, copies)))
      .foreach { case (label, dir) =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text").where(col("text").isNotNull)
        val batch = docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat(col("text"), lit(" crawl tail")).as("text"))
        val dPath = java.nio.file.Files
          .createTempDirectory("graft_grace_dedup_").toString
        DedupIndex.build(docs, "doc_id", "text", dPath)
        row(label, "dedup broadcast", minOf {
          val t0 = System.nanoTime()
          DedupIndex.probe(spark, dPath, batch, "doc_id", "text",
            threshold = 0.5).count()
          (System.nanoTime() - t0) / 1e9
        })
        row(label, "dedup keyed", minOf {
          val t0 = System.nanoTime()
          DedupIndex.probe(spark, dPath, batch, "doc_id", "text",
            threshold = 0.5, maxBroadcastBatch = 1).count()
          graft.operators.Caches.clear()
          (System.nanoTime() - t0) / 1e9
        })
        deleteRecursively(new java.io.File(dPath))
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val aPath = java.nio.file.Files
          .createTempDirectory("graft_grace_ann_").toString
        AnnIndex.build(emb, "vec_id", "embedding", aPath, nlist = 16)
        val queries = emb.where(col("vec_id") < 5)
        row(label, "ann probe", minOf {
          val t0 = System.nanoTime()
          AnnIndex.probe(spark, aPath, queries, "vec_id", "embedding",
            k = 10, nprobe = 4).count()
          (System.nanoTime() - t0) / 1e9
        })
        deleteRecursively(new java.io.File(aPath))
      }
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
