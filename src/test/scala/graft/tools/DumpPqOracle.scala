package graft.operators

import org.apache.spark.sql.functions._

/** Generator for the q_ann_pq pinned-codebook oracle
  * (graft.queries.PqOracle).
  *
  * Replays SimilaritySearch.pqTopK's deterministic training (hash-sampled
  * id-ordered sample, per-subspace k-means seeded seed + subspace) at the
  * given SF and prints the codebook VALUES rows plus the full oracle SQL
  * from PqOracle.template — the single source, so pinned oracle and
  * recipe cannot drift.
  *
  * Run: sbt "Test/runMain graft.operators.DumpPqOracle /root/testdata/sf0.01"
  */
object DumpPqOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(4, "graft-dump-pq")

    // EXACT replay of pqTopK's training-sample selection
    val maxTrain = 50000
    val c = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val corpusN = c.count()
    val every = math.max(1L, corpusN / maxTrain)
    val sample = c
      .where(pmod(xxhash64(col("id")), lit(every)) === 0)
      .orderBy("id")
      .limit(maxTrain)
      .select("v").collect()
      .map(r => SimilaritySearch.unitNorm(r.getSeq[Double](0)))
    val m = graft.queries.PqOracle.m
    val ksub = graft.queries.PqOracle.ksub
    val books = SimilaritySearch.trainPqCodebooks(sample, m, ksub,
      seed = 42)

    val rows = for {
      (cb, mi) <- books.zipWithIndex.toSeq
      (ctr, cell) <- cb.zipWithIndex.toSeq
    } yield s"($mi, $cell, [${ctr.mkString(", ")}])"
    println("=== BEGIN CODEBOOK ROWS (PqOracle.pinnedCodebookRows) ===")
    rows.foreach(r => println("    \"" + r + "\","))
    println("=== END CODEBOOK ROWS ===")
    println("=== BEGIN PQ ORACLE SQL ===")
    println(graft.queries.PqOracle.template(rows,
      subDim = sample(0).length / m, k = 10))
    println("=== END PQ ORACLE SQL ===")
    spark.stop()
  }
}
