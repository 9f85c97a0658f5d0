package graft

import java.nio.file.Files

import graft.operators.{Cpd, FeatureEngineering, TelemetryTransform}
import graft.sources.{ExportSink, TelemetryCsv}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline: CSV → bronze → silver → gold features →
  * partitioned parquet export → CPD candidates → load checks — the whole
  * reference flow composed through the real interfaces (SURVEY §7.2's
  * minimum slice, extended through STEP 5).
  */
class PipelineIntegrationSpec extends AnyFunSuite {
  import SparkTestSession._
  import PipelineIntegrationSpec.writeFixtureCsv

  test("CSV -> silver -> gold -> export -> CPD -> load checks") {
    val csv = writeFixtureCsv()
    val outDir = Files.createTempDirectory("graft-e2e-out").toString

    val bronze = TelemetryCsv.read(spark, csv)
    assert(bronze.count() == 6000)

    val silver = TelemetryTransform.transform(bronze)
    assert(silver.count() == 6000)
    assert(silver.select("raw_event_hash_id").distinct().count() == 6000)

    val gold = FeatureEngineering.features(silver,
      FeatureEngineering.zonesDf(spark))
    val goldRows = gold.cache()
    // zone join: even rows are inside Pit 1
    val pitRows = goldRows.where(org.apache.spark.sql.functions
      .col("location_type") === "Pit 1").count()
    assert(pitRows == 6000 / 2, s"pit rows $pitRows")
    // 605 device has high load stddev -> reliable payload
    val reliable = goldRows
      .select("device_id", "has_reliable_payload").distinct().collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(reliable("lake-605-8-0896"))
    assert(!reliable("lake-775g-2-2266"))

    ExportSink.goldParquet(goldRows, s"$outDir/gold")
    val reread = spark.read.parquet(s"$outDir/gold")
    assert(reread.count() == 6000)
    // partition pruning works on the exported layout
    val pruned = reread
      .where(org.apache.spark.sql.functions.col("device_date") ===
        "lake-605-8-0896_2025-07-30")
    assert(pruned.count() == 3000)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(device_date"))

    val candidates = Cpd.candidateEvents(reread).cache()
    val cands = candidates.collect()
    assert(cands.nonEmpty, "CPD found no candidates")
    // the 605 load step at i=1500 (t0 + 750 s) must be detected
    val stepMs = java.sql.Timestamp.valueOf("2025-07-30 00:12:30").getTime
    assert(cands.filter(_.device_id == "lake-605-8-0896")
      .exists(c => math.abs(c.timestamp_start.getTime - stepMs) <= 10000),
      s"load step missed: ${cands.filter(_.device_id == "lake-605-8-0896").map(_.timestamp_start).toSeq}")

    val chk = ExportSink.candidateLoadChecks(candidates.toDF()).head()
    assert(chk.getAs[Long]("n_rows") == chk.getAs[Long]("n_distinct_hashes"))
    assert(chk.getAs[Long]("n_null_critical") == 0)
  }

  test("stateful streaming dwell matches batch gaps-and-islands semantics") {
    import spark.implicits._
    import graft.streaming.StatefulDwell
    val t0 = 1722297600000L
    val pings = (0 until 20).map { i =>
      StatefulDwell.Ping("d1", new java.sql.Timestamp(t0 + i * 1000L),
        i >= 5 && i < 15)
    }
    val out = StatefulDwell.dwellStream(pings.toDS()).collect()
      .sortBy(_.ts.getTime)
    assert(out.length == 20)
    // dwell rises 1..10 inside the island (the entry row carries the gap
    // from the last moving ping, as in the batch SUM(time_delta) over the
    // island), 0 outside
    assert(out(5).dwell_s == 1.0)
    assert(out(14).dwell_s == 10.0)
    assert(out(15).dwell_s == 0.0)
    assert(out(4).dwell_s == 0.0)
  }

  test("streaming as-of enrichment matches the batch asofJoin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingAsof
    val t0 = 1722297600000L
    // events every second on two keys; state updates every 7 s
    val events = (0 until 40).map { i =>
      StreamingAsof.Tick(s"k${i % 2}", new java.sql.Timestamp(t0 + i * 1000L),
        1, null)
    }
    val states = (0 until 6).map { i =>
      StreamingAsof.Tick(s"k${i % 2}", new java.sql.Timestamp(t0 + i * 7000L),
        0, s"s$i")
    }
    val streamed = StreamingAsof.enrich((events ++ states).toDS())
      .collect().map(e => (e.key, e.ts.getTime) -> e.payload).toMap

    val left = events.map(t => (t.key, new java.sql.Timestamp(t.ts.getTime)))
      .toDF("key", "ts")
    val right = states
      .map(t => (t.key, new java.sql.Timestamp(t.ts.getTime), t.payload))
      .toDF("key", "sts", "payload")
    val batch = graft.operators.IntervalJoin
      .asofJoin(left, right, "key", "ts", "sts", Seq("payload"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        Option(r.getString(2))).toMap
    assert(streamed.size == 40 && batch.size == 40)
    assert(streamed == batch)
  }

  test("streaming as-of carries state across micro-batches, ignores stale") {
    import spark.implicits._
    import graft.streaming.StreamingAsof
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1722297600000L
    def tick(offsetMs: Long, side: Int, p: String) =
      StreamingAsof.Tick("k", new java.sql.Timestamp(t0 + offsetMs), side, p)
    val input = MemoryStream[StreamingAsof.Tick]
    val q = StreamingAsof.enrich(input.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // batch 1: state s0, then an event in the same batch
      input.addData(tick(0, 0, "s0"), tick(1000, 1, null))
      q.processAllAvailable()
      // batch 2: event needing the CARRIED s0; a stale state older than
      // the carried one (must be ignored); a newer state; a final event
      input.addData(tick(2000, 1, null), tick(-5000, 0, "stale"),
        tick(3000, 0, "s1"), tick(4000, 1, null))
      q.processAllAvailable()
      val out = spark.table("asof_stream")
        .collect()
        .map(r => r.getTimestamp(1).getTime - t0 ->
          Option(r.getString(2))).toMap
      assert(out(1000L).contains("s0"))  // same batch
      assert(out(2000L).contains("s0"))  // carried across the batch gap
      assert(out(4000L).contains("s1"))  // newer state wins; stale ignored
    } finally q.stop()
  }
}

object PipelineIntegrationSpec {
  /** Two devices × 3,000 rows at 2 Hz in the reference's CSV layout:
    * half the rows inside Pit 1, one device with a load step. */
  def writeFixtureCsv(): String = {
    val sb = new StringBuilder
    sb.append("timestamp,device_id,state,software_state,system_engaged," +
      "current_speed,current_position,load_weight,prndl," +
      "parking_brake_applied,extras\n")
    // Pit 1 interior point (zone join must label it)
    val inPit = "\"{33.2721, -97.8380, 250.0}\""
    val outside = "\"{33.0000, -97.0000, 100.0}\""
    for (dev <- Seq("lake-605-8-0896", "lake-775g-2-2266"); i <- 0 until 3000) {
      val us = i.toLong * 500000L // 2 Hz
      val sec = us / 1000000L
      val frac = f"${us % 1000000L}%06d"
      val ts = f"2025-07-30 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d.$frac+00"
      // speed profile: stationary block then moving; load steps at i=1500
      val speed = if (i % 600 < 200) 0.1 else 5.0
      val lw = if (dev.contains("605")) { if (i < 1500) 10000 else 90000 }
      else 42000
      val pos = if (i % 2 == 0) inPit else outside
      sb.append(s"$ts,$dev,LoadingManeuver,start,t,$speed,$pos,$lw,d,f,\n")
    }
    val p = Files.createTempFile("graft-e2e", ".csv")
    Files.writeString(p, sb.toString)
    p.toString
  }
}
