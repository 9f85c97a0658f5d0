package graft.operators

import org.apache.spark.sql.functions._

/** Generator for the q_ann_ivfpq pinned-quantizer oracle
  * (graft.queries.IvfPqOracle).
  *
  * Replays ivfPqTopK's deterministic training (hash-sampled id-ordered
  * UNIT-normalized sample; coarse k-means seeded 42, sub-codebooks
  * 42 + subspace) at the given SF and prints the coarse-centroid VALUES
  * rows plus the full oracle SQL from IvfPqOracle.template — the single
  * source, so pinned oracle and recipe cannot drift. The sub-codebooks
  * are also retrained and printed so a drift vs PqOracle's pinned rows
  * (which IvfPqOracle.sql reuses — same sample, same seed chain, same
  * trainer) is visible at regeneration time.
  *
  * Run: sbt "Test/runMain graft.operators.DumpIvfPqOracle /root/testdata/sf0.01"
  */
object DumpIvfPqOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(4, "graft-dump-ivfpq")

    // EXACT replay of ivfPqTopK's training-sample selection
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
    val nlist = graft.queries.IvfPqOracle.nlist
    val m = graft.queries.PqOracle.m
    val ksub = graft.queries.PqOracle.ksub
    val coarse = SimilaritySearch.trainCentroids(sample, nlist,
      iters = 20, seed = 42)
    val books = SimilaritySearch.trainPqCodebooks(sample, m, ksub,
      seed = 42)

    val coarseRows = coarse.zipWithIndex.toSeq.map { case (ctr, cell) =>
      s"($cell, [${ctr.mkString(", ")}])"
    }
    println("=== BEGIN COARSE ROWS (IvfPqOracle.pinnedCoarseRows) ===")
    coarseRows.foreach(r => println("    \"" + r + "\","))
    println("=== END COARSE ROWS ===")
    val bookRows = for {
      (cb, mi) <- books.zipWithIndex.toSeq
      (ctr, cell) <- cb.zipWithIndex.toSeq
    } yield s"($mi, $cell, [${ctr.mkString(", ")}])"
    println("=== BEGIN CODEBOOK ROWS (must equal PqOracle's pinned) ===")
    bookRows.foreach(r => println("    \"" + r + "\","))
    println("=== END CODEBOOK ROWS ===")
    println("=== BEGIN IVFPQ ORACLE SQL ===")
    println(graft.queries.IvfPqOracle.template(coarseRows, bookRows,
      dim = sample(0).length, subDim = sample(0).length / m, k = 10))
    println("=== END IVFPQ ORACLE SQL ===")

    // residual variant: EXACT replay of ivfPqTopK(byResidual = true)'s
    // training — per-sample residual vs the nearest coarse centroid
    // (ties to the lowest cell), then the same per-subspace k-means
    def nearestCell(n: Array[Double]): Int =
      coarse.zipWithIndex.map { case (ctr, i) =>
        (i, SimilaritySearch.sqDist(ctr, n))
      }.sortBy(_._2).head._1
    val residuals = sample.map { n =>
      val ctr = coarse(nearestCell(n))
      Array.tabulate(n.length)(jj => n(jj) - ctr(jj))
    }
    val resBooks = SimilaritySearch.trainPqCodebooks(residuals, m, ksub,
      seed = 42)
    val resRows = for {
      (cb, mi) <- resBooks.zipWithIndex.toSeq
      (ctr, cell) <- cb.zipWithIndex.toSeq
    } yield s"($mi, $cell, [${ctr.mkString(", ")}])"
    println("=== BEGIN RESIDUAL BOOK ROWS " +
      "(IvfPqOracle.pinnedResidualBookRows) ===")
    resRows.foreach(r => println("    \"" + r + "\","))
    println("=== END RESIDUAL BOOK ROWS ===")
    spark.stop()
  }
}
