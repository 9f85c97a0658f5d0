package graft.operators

import org.apache.spark.sql.functions._

/** Generator for the q_ann_ivf pinned-centroid oracle
  * (graft.queries.IvfOracle).
  *
  * The IVF coarse quantizer is deterministic (seed 42, hash-sampled
  * id-ordered training set, fixed 20 Lloyd iterations), so the centroids
  * trained at the correctness-gate SF can be inlined as SQL literals and
  * the whole assign → probe → rank pipeline replayed exactly in DuckDB.
  * This main re-trains at the given SF dir and prints the oracle SQL;
  * paste its output into IvfOracle.sql whenever the quantizer, its
  * parameters (nlist/nprobe/k/seed), or the gate SF change.
  *
  * Run: sbt "Test/runMain graft.operators.DumpIvfOracle /root/testdata/sf0.01"
  */
object DumpIvfOracle {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(4, "graft-dump-ivf")

    // EXACT replay of SimilaritySearch.ivfTopK's training-sample selection
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
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val centroids = SimilaritySearch
      .trainCentroids(sample, nlist = 8, iters = 20, seed = 42)

    // Java's Double.toString is the shortest round-tripping repr; DuckDB's
    // correctly-rounded parse recovers the identical bits, so the SQL
    // distances replay the Scala kernel's arithmetic exactly. The
    // pipeline SQL itself comes from IvfOracle.template — the single
    // source — so generator output and pinned oracle cannot drift;
    // paste the rows below into IvfOracle.pinnedCentroidRows.
    val dim = centroids(0).length
    val rows = centroids.zipWithIndex.map { case (ctr, i) =>
      s"($i, [${ctr.mkString(", ")}])"
    }.toSeq
    println("=== BEGIN CENTROID ROWS (IvfOracle.pinnedCentroidRows) ===")
    rows.foreach(r => println("    \"" + r + "\","))
    println("=== END CENTROID ROWS ===")
    println("=== BEGIN IVF ORACLE SQL ===")
    println(graft.queries.IvfOracle.template(rows, dim))
    println("=== END IVF ORACLE SQL ===")
    spark.stop()
  }
}
