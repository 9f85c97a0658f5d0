package graft.tools

import org.apache.spark.sql.functions._

/** The many-epoch compaction fixture (r14 verdict #1's SCALING row):
  * build a DedupIndex from sf0.1 documents, grow it through TWENTY
  * separate appends (one tiny epoch each — a streaming gate's
  * accumulation shape), measure probe latency and file counts, then
  * [[graft.operators.DedupIndex.compact]] and measure again. The
  * pair set must be identical before and after (compaction is pure
  * data movement); the file-count collapse and the probe delta are
  * the small-files-cliff evidence.
  *
  * Second fixture (r15 verdict #1e, the repeated-maintenance LIFETIME
  * cost): the same 20 appends with a compaction every 4th — the
  * streaming gate's compactEvery loop — run twice, full-rewrite vs
  * tiered, accumulating the bytes each compact actually re-read and
  * re-wrote (= the grams bytes of the epochs it retired). Full
  * rewrites re-touch the whole corpus every cycle; the tier +
  * promotion policy touches each byte O(log) times — the cumulative
  * ratio is the quadratic-vs-loglinear evidence at fixture scale.
  * Run: sbt "Test/runMain graft.tools.CompactionBench [reps]" */
object CompactionBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local(32, "graft-compaction")
    import graft.operators.DedupIndex

    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text").where(col("text").isNotNull)
      .repartition(32)
    val path = java.nio.file.Files
      .createTempDirectory("graft_compaction_bench_").toString
    def fileCount(sub: String): Int =
      graft.TestFiles.dataFiles(s"$path/$sub").size
    val batch = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(col("text"), lit(" crawl extra tail")).as("text"))
    def probeOnce(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = DedupIndex.probe(spark, path, batch, "doc_id", "text",
        threshold = 0.5).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); graft.operators.Caches.clear()
      (sec, n)
    }
    try {
      // slice 0 builds; slices 1..20 are twenty separate appends
      DedupIndex.build(docs.where(col("doc_id") % 21 === 0),
        "doc_id", "text", path, bands = 16, rowsPerBand = 2)
      (1 to 20).foreach { r =>
        DedupIndex.append(docs.where(col("doc_id") % 21 === r),
          "doc_id", "text", path)
      }
      val filesBefore = (fileCount("grams"), fileCount("bands"))
      val before = (1 to reps).map(_ => probeOnce())
      val t0 = System.nanoTime()
      DedupIndex.compact(spark, path)
      val compactSec = (System.nanoTime() - t0) / 1e9
      val filesAfter = (fileCount("grams"), fileCount("bands"))
      val after = (1 to reps).map(_ => probeOnce())
      require(before.head._2 == after.head._2,
        s"pair count changed: ${before.head._2} -> ${after.head._2}")
      println(
        f"| dedup-index compaction (sf0.1 docs, build + 20 appends) " +
          f"| files grams/bands ${filesBefore._1}/${filesBefore._2} -> " +
          f"${filesAfter._1}/${filesAfter._2} " +
          f"| probe before ${before.map(_._1).min}%.2f s " +
          f"| probe after ${after.map(_._1).min}%.2f s " +
          f"| compact ${compactSec}%.2f s " +
          f"| ${before.head._2} pairs, unchanged |")
    } finally {
      graft.queries.DocFixtures.deleteRecursively(new java.io.File(path))
    }

    // ---- repeated-maintenance lifetime cost: full vs tiered ----
    def epochBytes(p: String): Map[String, Long] = {
      val dir = new org.apache.hadoop.fs.Path(s"$p/grams")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.listStatus(dir))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("epoch="))
        .map(s => s.getPath.getName ->
          fs.getContentSummary(s.getPath).getLength).toMap
    }
    def maintainedRun(tiered: Boolean): (Long, Int, Long) = {
      val p = java.nio.file.Files
        .createTempDirectory("graft_compaction_cycles_").toString
      try {
        DedupIndex.build(docs.where(col("doc_id") % 41 === 0),
          "doc_id", "text", p, bands = 16, rowsPerBand = 2)
        var tier = 0L
        var rewritten = 0L
        (1 to 40).foreach { r =>
          val preAppend = epochBytes(p)
          DedupIndex.append(docs.where(col("doc_id") % 41 === r),
            "doc_id", "text", p)
          if (tier == 0L) {
            // tier = 2 appends' worth: fresh epochs merge, the merged
            // output parks above the tier, promotion folds parked
            // epochs geometrically — the gate policy's shape at a
            // scale where every epoch is far below 256 MB. 20 cycles
            // so the LIFETIME divergence (full re-touches the whole
            // corpus per cycle; tiered touches each byte O(log)
            // times) is visible, not just the first fold
            val appended = epochBytes(p).values.sum - preAppend.values.sum
            tier = appended * 2
          }
          if (r % 2 == 0) {
            val before = epochBytes(p)
            DedupIndex.compact(spark, p,
              maxEpochBytes = if (tiered) tier else Long.MaxValue)
            val after = epochBytes(p)
            // bytes this pass re-read and re-wrote = the epochs it
            // retired (their rows all moved into the new epoch)
            rewritten += before.collect {
              case (e, b) if !after.contains(e) => b
            }.sum
          }
        }
        val pairs = DedupIndex.probe(spark, p, batch, "doc_id", "text",
          threshold = 0.5).count()
        spark.catalog.clearCache(); graft.operators.Caches.clear()
        (rewritten, epochBytes(p).size, pairs)
      } finally graft.queries.DocFixtures.deleteRecursively(new java.io.File(p))
    }
    val (fullBytes, fullEpochs, fullPairs) = maintainedRun(tiered = false)
    val (tierBytes, tierEpochs, tierPairs) = maintainedRun(tiered = true)
    require(fullPairs == tierPairs,
      s"maintenance policy changed the pair set: $fullPairs != $tierPairs")
    println(
      f"| repeated maintenance (40 appends, compact every 2nd = 20 cycles) " +
        f"| full rewrites ${fullBytes / 1024.0 / 1024.0}%.1f MB " +
        f"over $fullEpochs final epoch(s) " +
        f"| tiered rewrites ${tierBytes / 1024.0 / 1024.0}%.1f MB " +
        f"over $tierEpochs final epoch(s) " +
        f"| ratio ${fullBytes.toDouble / tierBytes}%.1fx " +
        f"| $fullPairs pairs, identical |")
    spark.stop()
  }
}
