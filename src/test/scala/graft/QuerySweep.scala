package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}

import graft.operators.Caches

/** One pass over EVERY driver query — the whole SparkEntry surface —
  * through the shared test session, run once per JVM and read by three
  * specs, each of which asserts its own contract on the recorded result:
  *
  *  - `CoreQueriesSpec`: every query builds a frame with columns and
  *    executes (noop sink, which forces every output column to
  *    materialize);
  *  - `GlobalWindowGateSpec`: the empty-partition Window /
  *    WindowGroupLimit nodes found in each query's optimized plan;
  *  - `SoakSpec`: the 100 TB-session contract. With the Bench/Verify
  *    hygiene protocol (`clearCache` + `Caches.clear` between queries,
  *    plus a deterministic `Caches.releaseResult` of checkpoint-backed
  *    results) not one persistent RDD may survive any query, and the
  *    session must end with the storage memory it started with.
  *
  * sf0.001 keeps the sweep fast; cache REGISTRATION is scale-invariant
  * (every persist/localCheckpoint site runs at any SF), so the leak
  * surface tested is identical to the bench's sf0.1 runs. */
object QuerySweep {
  final case class Result(
      noColumns: Seq[String],
      failures: Seq[String],
      leaks: Seq[String],
      windowed: Seq[(String, Seq[String])],
      residualStorage: Seq[String])

  lazy val result: Result = run()

  private def run(): Result = {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    spark.catalog.clearCache(); Caches.clear()
    val before = sc.getPersistentRDDs.keySet
    val noColumns = scala.collection.mutable.ListBuffer.empty[String]
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val leaks = scala.collection.mutable.ListBuffer.empty[String]
    val windowed = scala.collection.mutable.ListBuffer.empty[(String, Seq[String])]
    val leakedIds = scala.collection.mutable.Set.empty[Int]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, SparkTestSession.sf)
        if (df.columns.isEmpty) noColumns += s"$name has no columns"
        // optimized LOGICAL plan, not executedPlan: AQE wraps the
        // physical tree in AdaptiveSparkPlanExec, whose children are
        // invisible to collect(); the logical Window nodes carry the
        // same partitionSpec
        val hits = df.queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty => "Window"
          case w: WindowGroupLimit if w.partitionSpec.isEmpty =>
            "WindowGroupLimit"
        }
        if (hits.nonEmpty) windowed += name -> hits
        df.write.format("noop").mode("overwrite").save()
        // deterministic release of checkpoint-backed results (the
        // Bench protocol relies on ContextCleaner GC for these; a
        // session-lifetime contract must not)
        Caches.releaseResult(df)
      } catch {
        case e: Throwable =>
          failures += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(120)}"
      }
      spark.catalog.clearCache(); Caches.clear()
      // ids a previous query already leaked are reported once, under it
      val leaked = sc.getPersistentRDDs.keySet -- before -- leakedIds
      if (leaked.nonEmpty)
        leaks += s"$name leaked persistent RDD ids ${leaked.toSeq.sorted}"
      leakedIds ++= leaked
    }
    // end-of-session storage state: nothing this sweep created remains
    val residualStorage = sc.getRDDStorageInfo.toSeq
      .filterNot(i => before.contains(i.id))
      .map(i => s"rdd ${i.id} (${i.memSize} B)")
    Result(noColumns.toList, failures.toList, leaks.toList,
      windowed.toList, residualStorage)
  }
}
