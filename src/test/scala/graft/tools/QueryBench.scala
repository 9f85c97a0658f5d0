package graft.tools


/** Optimization-round measurement harness (guide §1): time named driver
  * queries in isolation with the noop sink and dump their
  * `.explain("formatted")` plans for the plans/rNN/ evidence files.
  *
  * The warm pass and each timed rep are Bench's own `warm` and
  * `timeQuery`, on a `GraftSession.local($SPARK_GRAFT_CPUS)` session, so
  * numbers here are directly comparable to BENCH_*.json rows. Reports
  * the min of N reps at the target SF.
  *
  * Run: sbt "Test/runMain graft.tools.QueryBench <plansDir> <suffix> <reps> q1,q2,..."
  *   e.g. sbt "Test/runMain graft.tools.QueryBench plans/r17 before 3 q_minhash_pairs,q_dedup_canonical"
  * Query list "headline" expands to Bench.headline.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val plansDir = args(0)
    val suffix = args(1)
    val reps = args(2).toInt
    val names = args(3) match {
      case "headline" => graft.Bench.headline
      case csv => csv.split(",").toSeq
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = graft.GraftSession.local(cpus.toInt, "graft-querybench")

    val qs = graft.SparkEntry.queries
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))

    names.filter(qs.contains).foreach { name =>
      graft.Bench.warm(spark, Seq(name))

      // plan dump happens on a fresh frame so persisted intermediates from
      // the warm pass cannot change the captured shape
      val planPath = java.nio.file.Paths.get(plansDir, s"${name}_$suffix.txt")
      try {
        val df = qs(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(planPath, plan.getBytes("UTF-8"))
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[qbench] $name explain failed: ${e.getMessage}")
      }
      spark.catalog.clearCache(); graft.operators.Caches.clear()

      val times = (1 to reps).map(_ => graft.Bench.timeQuery(spark, name, sfDir))
      val good = times.filter(_ >= 0)
      val min = if (good.isEmpty) -1.0 else good.min
      println(f"QBENCH $name%-28s min=$min%8.3f reps=" +
        times.map(t => f"$t%.3f").mkString("[", ",", "]"))
    }
    spark.stop()
  }
}
