package graft

import java.nio.file.Files

import graft.operators.{Caches, Cpd, FeatureEngineering, TelemetryTransform}
import graft.sources.{ExportSink, TelemetryCsv}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A warm re-run compiles nothing: a repeated workload finds its
  * generated classes in Spark's codegen cache. That fails when the cache
  * is smaller than the loop of classes it must hold
  * (`GraftSession.CodegenCacheEntries`): then every run compiles again.
  * It also fails when a run plans different code than the run before:
  * a per-run value written into the source (`QueryTimestampExpression`),
  * AQE's stage numbers in class names (`GraftSession.configure`), a
  * distinct-aggregate order hashed from fresh expression ids
  * (`ExportSink.candidateLoadChecks`) or a join strategy AQE picks by
  * which stage finishes first (`Cpd.candidateEvents`). The counts are
  * JVM-wide, so nothing else may run meanwhile. */
class CodegenReuseSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Classes compiled by each of two runs of `body`, cold then warm. */
  private def coldThenWarm(body: => Unit): (Long, Long) = {
    def once(): Long = {
      val before = JobCounter.compiles()
      body
      JobCounter.compiles() - before
    }
    val cold = once()
    (cold, once())
  }

  test("a warm re-run of the pipeline chain compiles no classes") {
    val csv = PipelineIntegrationSpec.writeFixtureCsv()
    val (cold, warm) = coldThenWarm {
      val out = Files.createTempDirectory("graft-codegen-reuse").toString
      try {
        TelemetryCsv.bronzeSink(TelemetryCsv.read(spark, csv), s"$out/bronze")
        TelemetryTransform.transform(spark.read.parquet(s"$out/bronze"))
          .write.mode("overwrite").parquet(s"$out/silver")
        ExportSink.goldParquet(FeatureEngineering.features(
          spark.read.parquet(s"$out/silver"),
          FeatureEngineering.zonesDf(spark)), s"$out/gold")
        ExportSink.candidatesCsv(
          Cpd.candidateEvents(spark.read.parquet(s"$out/gold")).toDF(),
          s"$out/candidates")
        spark.catalog.clearCache(); Caches.clear()
        val chk = ExportSink.candidateLoadChecks(spark.read
          .schema(graft.schema.Schemas.candidateEvents)
          .option("header", "true").csv(s"$out/candidates")).head()
        assert(chk.getAs[Long]("n_rows") > 0)
      } finally queries.DocFixtures.deleteRecursively(new java.io.File(out))
    }
    assert(warm == 0, s"the warm run compiled $warm classes, the cold one $cold")
  }

  test("a warm re-run of the eda_mix queries compiles no classes") {
    val names = Seq("q1_agg", "q_interval_join", "q_window_lag", "q_asof",
      "q_gap_fill", "q_tpch_q18")
    val (cold, warm) = coldThenWarm {
      names.foreach(n => SparkEntry.queries(n)(spark, sf)
        .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache(); Caches.clear()
    }
    assert(warm == 0, s"the warm run compiled $warm classes, the cold one $cold")
  }

  test("the silver projection compiles once; each run gets its own ingested_at") {
    val bronze = TelemetryCsv.read(spark,
      PipelineIntegrationSpec.writeFixtureCsv())
    def run() = {
      val before = JobCounter.compiles()
      val stamps = TelemetryTransform.transform(bronze)
        .select(col("ingested_at")).distinct().collect().map(_.getTimestamp(0))
      (stamps, JobCounter.compiles() - before)
    }
    val (first, _) = run()
    Thread.sleep(5)
    val (second, compiles) = run()
    assert(compiles == 0, s"the re-run compiled $compiles classes")
    assert(first.length == 1 && second.length == 1)
    assert(second.head.after(first.head), s"${first.head} then ${second.head}")
  }

  test("a warm streaming ingest micro-batch compiles only the dedup's eviction predicate") {
    val dir = Files.createTempDirectory("graft-codegen-stream").toFile
    val header = "timestamp,device_id,state,software_state,system_engaged," +
      "current_speed,current_position,load_weight,prndl," +
      "parking_brake_applied,extras"
    // one new file per micro-batch, its rows later than the last batch's
    def drop(batch: Int): Unit = Files.writeString(
      new java.io.File(dir, s"b$batch.csv").toPath,
      (0 until 3).map { i =>
        f"2025-07-30 00:${batch}%02d:0$i.000000+00,dev-$i,loading,start,t," +
          s"""0.$i,"{33.2, -97.8, 250.0}",41500,d,f,"""
      }.mkString(s"$header\n", "\n", "\n"))
    val q = StreamingIngest.silverStream(spark, dir.getAbsolutePath)
      .writeStream.format("noop").start()
    try {
      val counts = (1 to 4).map { b =>
        val before = JobCounter.compiles()
        drop(b); q.processAllAvailable()
        JobCounter.compiles() - before
      }
      // the silver projection is reused; Spark writes the watermark into
      // the source of dropDuplicatesWithinWatermark's eviction predicate,
      // so each batch that moves the watermark compiles that one class
      assert(counts.tail.forall(_ <= 1),
        s"classes compiled per micro-batch, cold first: $counts")
    } finally {
      q.stop()
      queries.DocFixtures.deleteRecursively(dir)
    }
  }
}
