package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format coverage beyond parquet/csv (ORC, JSON round-trips
  * preserving the silver schema) and the approximate-aggregate headroom
  * SURVEY §2.4 notes (approx_count_distinct / approx percentile within
  * tolerance of exact).
  */
class FormatsAndSketchesSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val silver = {
    val raw = graft.queries.PipelineQueries
      .rawTelemetryFromEvents(spark, sf)
    graft.operators.TelemetryTransform
      .transform(raw, passthrough = Seq("event_id"))
  }

  test("ORC and JSON sinks round-trip the silver table") {
    val dir = Files.createTempDirectory("graft-fmt")
    val n = silver.count()

    silver.write.mode("overwrite").orc(dir.resolve("orc").toString)
    val orc = spark.read.orc(dir.resolve("orc").toString)
    assert(orc.count() == n)
    assert(orc.schema("current_position").dataType ==
      graft.schema.Schemas.position)

    // JSON: timestamps round-trip as ISO strings; compare via hash ids
    silver.write.mode("overwrite").json(dir.resolve("json").toString)
    val json = spark.read.json(dir.resolve("json").toString)
    assert(json.count() == n)
    val a = silver.select("raw_event_hash_id").collect().map(_.getString(0)).sorted
    val b = json.select("raw_event_hash_id").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("approximate aggregates land within tolerance of exact") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
      expr("percentile(value, 0.9)").as("exact_p90"),
      expr("approx_percentile(value, 0.9, 1000)").as("approx_p90")).head()
    val exactU = row.getAs[Long]("exact_users").toDouble
    val approxU = row.getAs[Long]("approx_users").toDouble
    assert(math.abs(approxU - exactU) / exactU < 0.1,
      s"approx users $approxU vs $exactU")
    val exactP = row.getAs[Double]("exact_p90")
    val approxP = row.getAs[Double]("approx_p90")
    assert(math.abs(approxP - exactP) / exactP < 0.05,
      s"approx p90 $approxP vs $exactP")
  }

  test("Misra-Gries sketch contains every above-threshold key (uniform-noise adversary)") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    val rnd = new scala.util.Random(5)
    // 3 heavy keys at ~10% each over a 500-key uniform tail
    val rows = (0 until 20000).map { _ =>
      if (rnd.nextDouble() < 0.3) s"heavy-${rnd.nextInt(3)}"
      else s"tail-${rnd.nextInt(500)}"
    }
    val df = rows.toDF("k").repartition(8)
    val cands = HeavyHitters.sketchCandidates(df, "k", capacity = 32)
    assert(cands.size <= 32)
    (0 until 3).foreach { i =>
      assert(cands.contains(s"heavy-$i"), s"heavy-$i missing from $cands")
    }
    val exact = HeavyHitters.topFrequent(df, "k", support = 0.05,
        capacity = 32).collect()
    val truth = rows.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= math.ceil(0.05 * rows.size)).keys.toSet
    assert(exact.map(_.getString(0)).toSet == truth)
  }

  test("keyed Misra-Gries: per-group output equals each group's plain " +
      "frequency threshold; lazy, no driver collect") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    val rnd = new scala.util.Random(13)
    // two groups with DIFFERENT heavy keys and tail sizes: per-group
    // sketches must not cross-contaminate
    val rows = (0 until 12000).map { _ =>
      val g = if (rnd.nextBoolean()) "g1" else "g2"
      val k =
        if (g == "g1")
          (if (rnd.nextDouble() < 0.25) s"h1-${rnd.nextInt(2)}"
           else s"t1-${rnd.nextInt(300)}")
        else
          (if (rnd.nextDouble() < 0.2) s"h2-${rnd.nextInt(3)}"
           else s"t2-${rnd.nextInt(100)}")
      (g, k)
    }
    val df = rows.toDF("g", "k").repartition(8)
    val got = HeavyHitters.topFrequentByGroup(df, "g", "k",
        supportNum = 4L, supportDen = 100L, capacity = 64)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n"))).toSet
    val truth = rows.groupBy(_._1).flatMap { case (g, grows) =>
      val n = grows.size.toLong
      val thr = (n * 4 + 99) / 100
      grows.groupBy(_._2).view.mapValues(_.size.toLong)
        .filter(_._2 >= thr)
        .map { case (k, c) => (g, k, c) }
    }.toSet
    assert(got == truth)
    graft.operators.Caches.clear()
  }
}
