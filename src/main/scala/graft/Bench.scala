package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query wall seconds on the
  * SPARK_GRAFT_SF_DIR tables (contract: BASELINE.json / the build brief).
  *
  * Every query in [[SparkEntry.all]] is in exactly one tier: the
  * [[headline]] total, the [[extras]] breadth block, or [[notBenched]]
  * (`BenchTiersSpec` pins this). A new query is an extra by default.
  * A warm pass at sf0.001 absorbs session/codegen startup so the timed
  * numbers measure the queries, not JVM warmup. Host drift is measured,
  * not classified: each measured pass records [[calibCpuSec]].
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_agg",                // grouped aggregation over the fact table
    "q_join_agg",            // dimension-chain joins + agg
    "q_interval_join",       // range-predicate join
    "q_window_lag",          // window lag/delta stack
    "q_gaps_islands",        // gaps-and-islands dwell time
    "q_time_bucket",         // tumbling time buckets
    "q_telemetry_transform", // STEP 2 silver transform (hash/enums/parse)
    "q_feature_stack",       // STEP 4 full window-feature stack
    "q_spatial_zone",        // broadcast point-in-polygon join
    "q_cpd_candidates",      // STEP 5 downsample + PELT
    "q_dedup_exact",         // exact dedup groupBy
    "q_minhash_pairs",       // MinHash-LSH near-dup pairs
    "q_ann_cosine")          // brute-force cosine top-k

  /** Queries Verify checks but Bench does not time. Most are single-scan
    * SQL shapes that a headline or extra query already times at scale. */
  val notBenched: Seq[String] = Seq(
    "q_anti_join",         // anti join over two dimension tables
    "q_semi_join",         // semi join; the q_join_agg shape
    "q_window_rolling",    // row-frame rolling mean; q_window_lag's window
    "q_rollup",            // grouping sets; timed by q_grouping_sets
    "q_scd2",              // SCD-2 versioning of a small change stream
    "q_cube",              // grouping sets; timed by q_grouping_sets
    "q_set_ops",           // EXCEPT/INTERSECT semantics check
    "q_window_ranks",      // ranking-function semantics check
    "q_unpivot",           // unpivot semantics check
    "q_pivot",             // pivot semantics check
    "q_null_semantics",    // null-safe join/ordering semantics check
    "q_range_window",      // RANGE-frame semantics check
    "q_sliding_window",    // overlapping buckets; q_time_bucket's shape
    "q_sessionize",        // session_window; q_gaps_islands' shape
    "q_stats_global",      // one global aggregate; the q1_agg shape
    "q_cond_pivot",        // conditional counts; the q1_agg shape
    "q_scalar_string",     // string scalar semantics check
    "q_hash_id",           // sha2 row id; inside q_telemetry_transform
    "q_json_extract",      // JSON extraction semantics check
    "q_topk",              // top-k total-order semantics check
    "q_distinct_union",    // union + distinct semantics check
    "q_clamp_flags",       // clamps and sentinels; a projection
    "q_upsert",            // keep-first upsert; timed by q_merge
    "q_interval_label",    // interval membership; q_interval_join's shape
    "q_wkt",               // WKT rendering; a projection
    "q_ml_features",       // window features; q_feature_stack's shape
    "q_ground_truth",      // discrepancy matrix over a small join
    "q_label_stats",       // aggregate over q_interval_join's output
    "q_cpd_recall",        // fixed synthetic fixture; ignores the SF dir
    "q_daily_counts",      // per-day counts; the q1_agg shape
    "q_describe",          // per-group profile; q_percentiles' shape
    "q_crosstab",          // pivot counts; the q1_agg shape
    "q_binning",           // binning; a projection + agg
    "q_truck_class",       // per-class aggregates; the q1_agg shape
    "q_movement",          // lag diffs; q_window_lag's shape
    "q_kinematic",         // trailing windows; q_feature_stack's shape
    "q_temporal_features", // window features; q_feature_stack's shape
    "q_collect_series",    // ordered array_agg semantics check
    "q_jaccard_pairs",     // all-pairs jaccard: quadratic by design
    "q_ann_ivf",           // IVF route; q_ann_ivfpq times it
    "q_pack_sequences",    // budget packing; timed by q_pack_shards
    "q_kl_divergence",     // DSIR's sibling; timed by q_dsir
    "q_doc_stats")         // per-doc token counts; a projection

  /** Every other query, in [[SparkEntry.all]] order. */
  lazy val extras: Seq[String] = {
    val skip = (headline ++ notBenched).toSet
    SparkEntry.all.map(_.name).filterNot(skip)
  }

  private[graft] val warmDir = "/root/testdata/sf0.001"

  /** Runs `names` once each at [[warmDir]] so identical plan shapes have
    * their code generated and JIT-compiled outside the timed run, then
    * drops what the warm pass cached so the first timed query starts
    * from the same clean state as the rest. */
  private[graft] def warm(spark: SparkSession, names: Seq[String]): Unit = {
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).write.format("noop")
        .mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache(); graft.operators.Caches.clear()
  }

  /** Wall seconds of one run of `name` at `sfDir`, or -1 if it failed.
    * The noop sink forces every output column to materialize (count()
    * would let Spark skip projection work on map-only plans). Caches
    * are cleared afterwards: operators that persist intermediates
    * (minhash shingles, bm25 term base) would otherwise accumulate
    * across the run and make later queries pay the eviction/GC
    * pressure (measured 2-4x noise). */
  private[graft] def timeQuery(spark: SparkSession, name: String,
      sfDir: String): Double = {
    val t0 = System.nanoTime()
    val ok = try {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      true
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache(); graft.operators.Caches.clear()
    if (ok) sec else -1.0
  }

  @volatile private var sink = 0L

  private def cpuLoop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
  }

  /** Host drift probe: the median of 3 timings of a fixed 50 M-step
    * xorshift loop, in seconds. A deliberate twin of perfbench's
    * `Calibration.cpuLoop` (same loop, same count, same statistic), so
    * Bench's `calib_cpu_s` reads on the same scale as perfbench's
    * `host.calib_cpu_s`; perfbench is a separate build that `src/`
    * cannot import. */
  private def calibCpuSec(): Double =
    Seq.fill(3) {
      val t0 = System.nanoTime(); cpuLoop(); (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // each measured pass first times the calibration loop, so a slow
    // host reads as a high calib_cpu_s next to the pass it slowed
    val calib = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def pass[T](label: String)(body: => T): T = {
      calib += label -> calibCpuSec()
      body
    }
    def newSession(): SparkSession =
      GraftSession.local(cpus.toInt, "graft-bench")

    // Throughput anchors in their OWN SparkContext, measured first: they
    // are the longest-running measurements (3.2M-row pipelines) and the
    // most sensitive to shuffle-file/GC residue (the same anchor measured
    // 11 s on a fresh context and 44 s after ~80 query executions).
    // FIVE reps, each in a fresh context (stop() deletes shuffle/local
    // dirs) with its own discarded small-SF warm pass; the reported
    // number is the per-metric MIN and every raw rep rides along in the
    // JSON. Min, not median: contamination on this shared box is strictly
    // ADDITIVE (a co-located load spike can only slow a rep down, never
    // speed it up) and spikes last minutes — long enough to swallow a
    // majority of consecutive reps, which is exactly how the r4-r6
    // recordings swung 38<->76 s on unchanged code (and how a median-of-3
    // prototype of this block measured 11.7 s vs 26.6 s back-to-back).
    // The min is the code's capability; the reps expose the noise.
    def anchorRep(label: String, rep: Int = 32): Option[AnchorTimes] = {
      val s = newSession()
      try pass(label) {
        throughputAnchors(s, warmDir)
        s.catalog.clearCache(); graft.operators.Caches.clear()
        throughputAnchors(s, sfDir, rep = rep)
      }
      finally s.stop()
    }
    // ONE anchor-JSON builder for both payloads (derived + sf1):
    // per-metric min over the runs, every raw rep recorded
    def anchorJson(runs: Seq[AnchorTimes]): String =
      if (runs.isEmpty) "{}"
      else {
        def reps(xs: Seq[Double]): String =
          xs.map(x => f"$x%.3f").mkString("[", ",", "]")
        val rows = runs.head.rows
        val nCsv = runs.head.ingestRows
        val tSec = runs.map(_.transformSec).min
        val cSec = runs.map(_.cpdSec).min
        val iSec = runs.map(_.ingestSec).min
        f"""{"rows":$rows,"transform_sec":$tSec%.3f,"transform_rows_per_s":${rows / tSec}%.0f,"features_cpd_sec":$cSec%.3f,"features_cpd_rows_per_s":${rows / cSec}%.0f,"ingest_rows":$nCsv,"ingest_sec":$iSec%.3f,"ingest_rows_per_s":${nCsv / iSec}%.0f,"transform_reps":${reps(runs.map(_.transformSec))},"features_cpd_reps":${reps(runs.map(_.cpdSec))},"ingest_reps":${reps(runs.map(_.ingestSec))}}"""
      }
    val derived = anchorJson((1 to 5).flatMap(i => anchorRep(s"anchor_$i")))

    // sf1 anchor (r10 verdict #3): BASELINE.md's measured reference
    // artifacts are for 8.8 M telemetry rows, but the 5-rep anchors above
    // replicate to 3.2 M. An additional anchor pass at rep=100 (10 M
    // rows from the sf0.1 base — reference scale) records rows/s
    // directly comparable to the baseline's own row counts. TWO reps,
    // each in its own fresh context, per-metric MIN (r12 verdict: the
    // single-rep r12 recording caught a box spike and published a
    // phantom 5x transform regression — 15.76 s driver vs 2.99 s
    // quiet-box; a second independent rep is the cheapest spike dodge
    // at a pass this long). Raw reps ride along in the JSON.
    // GATED on the default sf0.1 base: with a different SPARK_GRAFT_SF_DIR
    // the 100× replication would produce a wholly different scale while
    // still labeled "sf1_anchor" (r11 review) — emit {} instead.
    val sf1Json = anchorJson(
      if (!sfDir.stripSuffix("/").endsWith("sf0.1")) Seq.empty
      else (1 to 2).flatMap(i => anchorRep(s"sf1_anchor_$i", rep = 100)))

    // The anchor blocks above created and stopped 7 SparkContexts in
    // THIS JVM; their garbage sits in the old generation and the timed
    // headline/extras passes below would pay its collections (r17
    // verdict #6: q_cpd_candidates measured 2.2–2.4 s interleaved vs
    // 1.2–1.3 s isolated in a fresh JVM). Collect it OUTSIDE any timed
    // region — the timed methodology (warm pass, interleaved min-of-3)
    // is unchanged; this only stops the anchors' residue from leaking
    // into the query numbers.
    System.gc()
    val spark = newSession()
    // Per-query job/task counters (r17 verdict #5: at sf0.1 the 8-core
    // and 32-core totals differ by <20% because the queries are
    // FIXED-OVERHEAD bound — AQE mints one job per exchange, each with
    // scheduling cost — so flat core-scaling ratios are expected, not
    // evidence of a cpus-ignoring harness. Publishing each query's job
    // and task counts makes that attributable from the artifact: a
    // query whose runtime ≈ jobs × per-job overhead cannot demonstrate
    // parallelism at this SF no matter how many cores it gets.)
    val jobCtr = JobCounter.attach(spark.sparkContext)
    // per-query MIN job count across passes (AQE can add a stray job
    // on a contended pass; the min is the plan's deterministic floor)
    // and the matching task count
    val queryJobs =
      scala.collection.mutable.Map[String, JobCounter.Counts]()
    def timeOne(name: String): Double = {
      val c0 = jobCtr.settled()
      val sec = timeQuery(spark, name, sfDir)
      // job/task counts OUTSIDE the timed region (settled() sleeps)
      if (sec >= 0) {
        val c = jobCtr.settled() - c0
        if (c.jobs >= 0 && queryJobs.get(name).forall(_.jobs > c.jobs))
          queryJobs(name) = c
      }
      sec
    }
    // MIN of 3 runs per query (was median through r11): contamination
    // on this shared box is strictly ADDITIVE — a co-located load spike
    // can only slow a run down, never speed it up. The statistic alone
    // was not enough: spikes last MINUTES, and r12's back-to-back
    // min-of-3 still put all three reps of one query inside a single
    // spike (q_pagerank read 12.66 s in the driver tail vs 4.17 s on
    // the quiet box — a phantom 3x regression). So the reps are
    // INTERLEAVED: three full passes over the whole list, per-query
    // min ACROSS passes — consecutive reps of the same query are now
    // a full list-length apart (minutes at this SF), longer than the
    // spikes they must dodge. All raw rep times ride along in
    // BENCH_DETAIL.json (queries_reps/extra_reps) so cross-round
    // comparisons and variance stay auditable against the pre-r12
    // median rounds (r12 advice).
    def timedReps(tag: String,
        names: Seq[String]): Seq[(String, Seq[Double])] = {
      warm(spark, names)
      val passes = (1 to 3).map(p => pass(s"${tag}_pass$p")(names.map(timeOne)))
      names.zipWithIndex.map { case (n, i) => n -> passes.map(_(i)) }
    }
    // min of the SUCCESSFUL runs (-1 only when every run failed)
    def minOf(reps: Seq[(String, Seq[Double])]): Seq[(String, Double)] =
      reps.map { case (n, rs) =>
        val good = rs.filter(_ >= 0)
        n -> (if (good.isEmpty) -1.0 else good.min)
      }
    def toJson(r: Seq[(String, Double)]): String =
      r.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    def repsJson(r: Seq[(String, Seq[Double])]): String =
      r.map { case (k, rs) =>
        "\"" + k + "\":" + rs.map(x => f"$x%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")

    val headlineReps = timedReps("headline", headline)
    val results = minOf(headlineReps)
    val qJson = toJson(results)
    val total = results.map(_._2).filter(_ >= 0).sum

    // breadth block: every other benched query, timed at the same SF
    // with the same warmup discipline and reported separately so the
    // headline total stays comparable round over round
    val extraReps = timedReps("extra", extras)
    val extraResults = minOf(extraReps)

    // The driver captures only the LAST 2000 characters of stdout and
    // parses the JSON line out of that window. Round 8's single line with
    // all ~80 breadth queries inline grew past the window and the head of
    // the line was truncated -> parse failure (BENCH_r08.json parsed:
    // null). So: full detail goes to BENCH_DETAIL.json in the repo (the
    // driver commits it with the round snapshot; the judge reads it from
    // the tree), and stdout gets a compact line — headline queries +
    // anchors + the slowest breadth queries — sized well under the window.
    val calibJson = calib.map { case (l, s) => "\"" + l + f"\":$s%.3f" }
      .mkString("{", ",", "}")
    // per-query job/task counts + the overhead-bound marker (r17
    // verdict #5). The per-job floor is measured in this run: the least
    // wall time per job of any benched query. A query is overhead-bound
    // at this SF when its jobs at that floor take at least half its
    // wall time — for such queries a flat 8-vs-32-core ratio is the
    // EXPECTED reading, not a parallelism failure
    val allMins = (results ++ extraResults).filter(_._2 >= 0).toMap
    val counted = queryJobs.toSeq.sortBy(_._1)
    val perJob = counted.collect {
      case (n, c) if c.jobs > 0 && allMins.contains(n) => allMins(n) / c.jobs
    }
    val jobFloor = if (perJob.isEmpty) -1.0 else perJob.min
    def countsJson(get: JobCounter.Counts => Long): String =
      counted.map { case (n, c) => "\"" + n + s"\":${get(c)}" }
        .mkString("{", ",", "}")
    val overheadJson = counted
      .flatMap { case (n, c) => allMins.get(n).map { sec =>
        "\"" + n + s"""\":${c.jobs * jobFloor >= 0.5 * sec}""" } }
      .mkString("{", ",", "}")
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir","derived":$derived,"sf1_anchor":$sf1Json,"extra":${toJson(extraResults)},"queries_reps":${repsJson(headlineReps)},"extra_reps":${repsJson(extraReps)},"queries_jobs":${countsJson(_.jobs)},"queries_tasks":${countsJson(_.tasks)},"queries_compiles":${countsJson(_.compiles)},"job_floor_s":$jobFloor%.4f,"queries_overhead_bound":$overheadJson,"calib_cpu_s":$calibJson}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
        fullJson.getBytes("UTF-8"))
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    val extraGood = extraResults.filter(_._2 >= 0)
    val extraTotal = extraGood.map(_._2).sum
    val slowest = extraGood.sortBy(-_._2).take(8)
    val calibs = calib.map(_._2)
    val calibRange = f"""{"min":${calibs.min}%.3f,"max":${calibs.max}%.3f}"""
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir","derived":$derived,"sf1_anchor":$sf1Json,"extra_total":$extraTotal%.3f,"extra_n":${extraGood.size},"extra_slowest":${toJson(slowest)},"calib_cpu_s":$calibRange,"detail":"BENCH_DETAIL.json"}"""
    println(compact)
    spark.stop()
  }

  /** One rep's raw anchor timings (seconds; rows are rep-invariant). */
  private case class AnchorTimes(rows: Long, transformSec: Double,
      cpdSec: Double, ingestRows: Long, ingestSec: Double)

  /** The anchors' replicated events input — SHARED with
    * tools.CpdAnchorBench so the kernel-attribution probe can never
    * drift from what the bench actually measures (r11 review). */
  private[graft] def anchorEvents(spark: SparkSession, sfDir: String,
      rep: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.ensureParallelism(Tables.events(spark, sfDir))
      .withColumn("_r", explode(lit((0 until rep).toArray)))
      .withColumn("event_id", col("event_id") * rep + col("_r"))
      .withColumn("user_id", col("user_id") + col("_r") * 1000)
      .drop("_r")
  }

  /** The features+CPD anchor's silver frame over [[anchorEvents]]. */
  private[graft] def anchorSilver(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    ev.select(
      col("ts").as("timestamp"),
      concat(lit("truck-"), (col("user_id") % 640).cast("string"))
        .as("device_id"),
      concat(lit("truck-"), (col("user_id") % 640).cast("string"),
        lit("_"), date_format(col("ts"), "yyyy-MM")).as("device_date"),
      (col("value") / 10).as("current_speed"),
      floor(col("value") * 1200).cast("double").as("load_weight"),
      struct(lit(0.0).as("lon"), lit(0.0).as("lat"),
        (col("value") * 3).as("alt")).as("current_position"))
  }

  private def throughputAnchors(spark: SparkSession,
      sfDir: String, rep: Int = 32): Option[AnchorTimes] = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Cpd, FeatureEngineering, TelemetryTransform}
    try {
      // repartition BEFORE the explode (inside anchorEvents'
      // ensureParallelism): the sf0.1 events file is one scan split, so
      // without this the replicated anchor inputs are generated — and
      // every downstream narrow op executed — in a single task.
      val ev = anchorEvents(spark, sfDir, rep)
      val nRows = ev.count()

      // STEP 2 silver transform (hash + enums + parse + extras)
      val raw = ev.select(
        col("event_id"),
        col("ts").as("timestamp"),
        concat(lit("truck-"), (col("user_id") % 640).cast("string"))
          .as("device_id"),
        lit("LoadingManeuver").as("state"),
        lit("start").as("software_state"),
        lit("t").as("system_engaged"),
        (col("value") / 10).as("current_speed"),
        concat(lit("{"), (col("value") / 1000 + 33.2).cast("string"),
          lit(", -97.83, "), (col("value") + 200.0).cast("string"),
          lit("}")).as("current_position"),
        floor(col("value") * 1200).cast("int").as("load_weight"),
        lit("d").as("prndl"),
        lit("f").as("parking_brake_applied"),
        col("props").as("extras"))
      // short (~1 s) anchors carry the largest relative jitter — time
      // them twice within the rep and keep the better pass (the CPD
      // anchor is ~10x longer and stays single-pass)
      def minOf2(run: () => Unit): Double =
        (1 to 2).map { _ =>
          val t = System.nanoTime()
          run()
          (System.nanoTime() - t) / 1e9
        }.min
      val transformSec = minOf2 { () =>
        TelemetryTransform.transform(raw)
          .write.format("noop").mode("overwrite").save()
      }

      // STEP 4+5: window feature stack + downsample + PELT
      val silver = anchorSilver(ev)
      val t1 = System.nanoTime()
      val feats = FeatureEngineering.withReliablePayload(
        FeatureEngineering.withWindowFeatures(silver))
        .withColumn("raw_event_hash_id",
          sha2(concat(col("device_id"), lit("|"),
            col("timestamp").cast("string")), 256))
      Cpd.candidateEvents(feats, Cpd.Config(every = "5 minutes",
          penalty = 0.5))
        .write.format("noop").mode("overwrite").save()
      val cpdSec = (System.nanoTime() - t1) / 1e9

      // STEP 1 ingest: header-validated CSV scan → partitioned bronze
      // parquet (the COPY-equivalent; reference claim 50k rows/s).
      // CSV materialized untimed, ingest timed end to end.
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench").toString
      // deterministic 1M-row slice via modulus, NOT limit(): GlobalLimit
      // collapses to one partition, which would serialize the CSV write
      // into a single file and the timed ingest into a single task. The
      // filter keeps the partitioning, so ingest reads many files — the
      // shape real telemetry drops arrive in.
      val csvRows = raw.where(pmod(col("event_id"), lit(rep)) < lit(10))
      csvRows
        .select(date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("timestamp"),
          col("device_id"), col("state"), col("software_state"),
          col("system_engaged"), col("current_speed").cast("string"),
          col("current_position"), col("load_weight").cast("string"),
          col("prndl"), col("parking_brake_applied"), col("extras"))
        .write.option("header", "true").option("escape", "\"")
        .mode("overwrite").csv(s"$tmp/csv")
      val nCsv = nRows * 10 / rep // event_id % rep is uniform over 0..rep-1
      val ingestSec = minOf2 { () =>
        val bronze = graft.sources.TelemetryCsv.read(spark, s"$tmp/csv",
          validate = false)
        graft.sources.TelemetryCsv.bronzeSink(bronze, s"$tmp/bronze")
      }

      // the anchors run ten times (5 reps x warm + timed); without cleanup
      // each run leaks a ~100 MB csv+bronze tree in /tmp
      graft.queries.DocFixtures.deleteRecursively(new java.io.File(tmp))

      Some(AnchorTimes(nRows, transformSec, cpdSec, nCsv, ingestSec))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] derived anchors failed: ${e.getMessage}")
        None
    }
  }
}
