package graft

import java.nio.file.{Files, Paths}

import graft.operators.TelemetryTransform
import graft.sources.{ExportSink, LabelStudioJson, TelemetryCsv}
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeTmp(name: String, content: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-test-$name")
    Files.writeString(p, content)
    p.toString
  }

  test("telemetry CSV: header validation, t/f booleans, malformed rows") {
    val csv = writeTmp("telemetry.csv",
      """timestamp,device_id,state,software_state,system_engaged,current_speed,current_position,load_weight,prndl,parking_brake_applied,extras
        |2025-07-30 00:00:05.734539+00,lake-605-8-0896,loadingManeuver,start,t,0.0968675331638376,"{33.269, -97.835, 250.33}",41500,d,f,"{""k"": 1}"
        |2025-07-30 00:00:06.234539+00,lake-605-8-0896,loadToDump,stop,true,1.5,"{33.270, -97.836, 251.0}",-99,P,false,garbage extras
        |2025-07-30 00:00:06.734539+00,lake-775g-2-2266,bogus,slow,f,,malformed position,0,,t,
        |,missing-ts-device,idle,wait,1,2.0,"{33.0, -97.0, 1.0}",5,l,0,
        |""".stripMargin)
    val raw = TelemetryCsv.read(spark, csv)
    assert(raw.count() == 4)

    val silver = TelemetryTransform.transform(raw)
    val rows = silver.orderBy("timestamp").collect()
    // null-timestamp row dropped
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("state") == "loading")
    assert(r0.getAs[String]("software_state") == "autonomous")
    assert(r0.getAs[Boolean]("system_engaged"))
    assert(!r0.getAs[Boolean]("parking_brake_applied"))
    assert(r0.getAs[String]("prndl") == "drive")
    val pos = r0.getAs[org.apache.spark.sql.Row]("current_position")
    assert(math.abs(pos.getAs[Double]("lon") - -97.835) < 1e-9)
    assert(math.abs(pos.getAs[Double]("lat") - 33.269) < 1e-9)
    assert(r0.getAs[String]("extras") == """{"k": 1}""")
    assert(r0.getAs[String]("raw_event_hash_id").matches("[0-9a-f]{64}"))
    assert(r0.getAs[String]("device_date") == "lake-605-8-0896_2025-07-30")

    val r1 = rows(1)
    assert(r1.getAs[String]("state") == "hauling")
    assert(r1.getAs[String]("software_state") == "manual")
    assert(r1.getAs[String]("prndl") == "park")
    assert(r1.getAs[Double]("load_weight") == -99.0)
    assert(r1.getAs[String]("extras") == "\"garbage extras\"")

    val r2 = rows(2)
    assert(r2.getAs[String]("state") == "unknown")
    assert(r2.getAs[String]("software_state") == "intervention")
    assert(r2.isNullAt(r2.fieldIndex("current_position")))
    assert(r2.getAs[String]("prndl") == "unknown")
    assert(r2.isNullAt(r2.fieldIndex("extras")))
  }

  test("telemetry CSV header mismatch fails fast") {
    val bad = writeTmp("bad-header.csv",
      "ts,device,foo\n1,2,3\n")
    val e = intercept[IllegalArgumentException] {
      TelemetryCsv.read(spark, bad)
    }
    assert(e.getMessage.contains("header mismatch"))
  }

  test("Label-Studio JSON source flattens tasks to intervals") {
    val json = writeTmp("labels_lake-605-8-0883_round1.json",
      """[
        |  {"id": 1,
        |   "data": {"truck_id": "lake-605-8-0883", "date": "2025-08-11"},
        |   "annotations": [
        |     {"id": 10, "result": [
        |       {"type": "timeserieslabels",
        |        "value": {"start": "2025-08-11T01:00:00Z",
        |                  "end": "2025-08-11T01:05:00Z",
        |                  "timeserieslabels": ["load_event"]}},
        |       {"type": "somethingelse",
        |        "value": {"start": "x", "end": "y"}}
        |     ]}
        |   ]},
        |  {"id": 2,
        |   "data": {"truck_id": "lake-605-8-0883"},
        |   "annotations": [
        |     {"id": 11, "result": [
        |       {"type": "timeserieslabels",
        |        "value": {"start": "2025-08-12T02:00:00Z",
        |                  "end": "2025-08-12T02:03:00Z",
        |                  "timeserieslabels": ["dump_event", "ignored"]}}
        |     ]}
        |   ]}
        |]""".stripMargin)
    val iv = LabelStudioJson.read(spark, json).orderBy("start_time").collect()
    assert(iv.length == 2)
    assert(iv(0).getAs[String]("label") == "load_event")
    assert(iv(0).getAs[String]("date") == "2025-08-11")
    assert(iv(1).getAs[String]("label") == "dump_event")
    // date derived from start timestamp when missing in data
    assert(iv(1).getAs[String]("date") == "2025-08-12")
  }

  test("candidate load checks: PK uniqueness and null criticals") {
    import spark.implicits._
    val good = Seq(
      ("dev-a", java.sql.Timestamp.valueOf("2025-08-11 01:00:00"), "h1"),
      ("dev-a", java.sql.Timestamp.valueOf("2025-08-11 01:05:00"), "h2"))
      .toDF("device_id", "timestamp_start", "raw_event_hash_id")
    val chk = ExportSink.candidateLoadChecks(good).head()
    assert(chk.getAs[Long]("n_rows") == 2)
    assert(chk.getAs[Long]("n_distinct_hashes") == 2)
    assert(chk.getAs[Long]("n_null_critical") == 0)
    assert(chk.getAs[Long]("n_devices") == 1)
  }

  test("ORC gold export mirrors the parquet layout and round-trips") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toFile
    val df = Seq(
      ("2025-08-11", java.sql.Timestamp.valueOf("2025-08-11 01:00:00"),
        "dev-a", 1.5),
      ("2025-08-11", java.sql.Timestamp.valueOf("2025-08-11 00:30:00"),
        "dev-b", 2.5),
      ("2025-08-12", java.sql.Timestamp.valueOf("2025-08-12 09:00:00"),
        "dev-a", 3.5))
      .toDF("device_date", "timestamp", "device_id", "speed")
    ExportSink.goldOrc(df, s"$dir/gold")
    assert(new java.io.File(s"$dir/gold/device_date=2025-08-11").exists())
    assert(new java.io.File(s"$dir/gold/device_date=2025-08-12").exists())
    val back = spark.read.orc(s"$dir/gold")
    assert(back.count() == 3)
    assert(back.where($"device_date" === "2025-08-11").count() == 2)
    assert(back.select("device_id", "speed").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("dev-a", 1.5), ("dev-b", 2.5), ("dev-a", 3.5)))
  }

  test("Label-Studio export: per-device-day CSVs + task manifest") {
    import spark.implicits._
    val t0 = 1722297600000L
    val silver = (for {
      dev <- Seq("truck-a", "truck-b"); i <- 0 until 50
    } yield (dev, s"${dev}_2024-07-30",
      new java.sql.Timestamp(t0 + i * 1000L), Some(1.5), Some(100.0),
      "loading", s"h-$dev-$i"))
      .toDF("device_id", "device_date", "timestamp", "current_speed",
        "load_weight", "state", "raw_event_hash_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ls").toString
    graft.sources.LabelStudioExport.writeCsvs(silver, s"$dir/csv")
    graft.sources.LabelStudioExport.writeTaskManifest(silver,
      "http://files", s"$dir/tasks")

    val back = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(back.count() == 100)
    assert(back.columns.toSet == Set("timestamp", "current_speed",
      "load_weight", "state", "hash_id", "device_date"))
    // ISO timestamps without zone suffix
    assert(back.select("timestamp").head().getString(0)
      .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}"""))

    val tasks = spark.read.json(s"$dir/tasks")
    val rows = tasks.select("data.truck_id", "data.csv_url", "data.date",
      "data.n_records").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("csv_url").startsWith(
      "http://files/device_date=")))
    assert(rows.forall(_.getAs[Long]("n_records") == 50))
  }
}
