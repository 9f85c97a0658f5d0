package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset for local iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach { bad =>
      System.err.println(s"[verify] unknown query name: $bad")
    })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the one engine configuration (GraftSession.configure): the oracle
    // verifies the plans the bench measures and product sessions run
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Queries are independent; run a few concurrently so the driver's
    // per-round verify doesn't serialize 40+ small Spark jobs (Spark's
    // scheduler interleaves them). Failures stay isolated per query.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The q_ann_ivf / q_ann_pq oracles replay centroids/codebooks PINNED
    // at the gate SF; at any other SF the Spark side retrains per-corpus
    // and the pinned replay would false-fail, so off-gate dumps fall back
    // to rows-only for them. q_semdedup_planned pins the PLANNED k the
    // same way (the Spark side recounts the corpus per-SF).
    val oracles =
      if (sfDir.stripSuffix("/").endsWith(graft.queries.IvfOracle.gateSfSuffix))
        SparkEntry.oracleSql
      else SparkEntry.oracleSql - "q_ann_ivf" - "q_ann_pq" -
        "q_ann_ivfpq" - "q_ann_ivfpq_res" - "q_ann_index_compact" -
        "q_ann_retrain" - "q_semdedup_planned" -
        "q_semdedup_probe2_planned"
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
