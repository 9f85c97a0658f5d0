package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** STEP 5: change-point detection over the gold feature table → candidate
  * events, re-expressed Spark-first.
  *
  * Reference flow (`05_cpd_orchestrator_polars.py:162-472`): 90 worker
  * processes, one per `device_date` parquet partition, each doing
  * 6-column projection → reliability branch → 5 s tumbling mean → PELT per
  * signal → distinct-merge → bucket-index → (timestamp, hash) mapping.
  *
  * Spark design:
  *  1. the 5 s downsample runs as a declarative `groupBy(device_date,
  *     window(ts))` — ONE shuffle, map-side partial aggregation, and a
  *     ~10× row reduction *before* any per-group kernel (the reference's
  *     "900×" O(n²)-killer, `README.md:42,195`);
  *  2. per-device-date gates (row counts, reliability flag) are tiny
  *     aggregates joined onto the buckets;
  *  3. the PELT kernel runs in `groupByKey(device_date).flatMapGroups` over
  *     the *downsampled* buckets — bounded state (≤ 17,280 buckets/day at
  *     5 s), so one task per device-date stays small no matter how big the
  *     raw partition was. At 1000-executor scale the 96-partition skew of
  *     the reference disappears: tasks are bucket-sized, not raw-row-sized.
  *
  * Branch semantics (TICKET-141/144/146 behavior):
  *  - `has_reliable_payload` (taken per device-date) → payload path:
  *    signal = mean(load_weight_rate_of_change) per bucket, rows with null
  *    signal dropped *before* bucketing; else kinematic path: two PELT
  *    passes over mean(speed_rolling_avg_5s) and
  *    mean(altitude_rate_of_change), rows where either is null dropped;
  *  - raw-row gates: < 20 raw rows, < 20 clean rows, < 10 buckets → no
  *    events for that device-date;
  *  - indices from all passes are distinct-merged, sorted, mapped to the
  *    bucket-start timestamp and the earliest raw hash in the bucket;
  *  - `device_id = device_date` up to the last '_' (`:412`).
  */
object Cpd {

  case class Config(
      every: String = "5 seconds",
      penalty: Double = 0.05,
      minSize: Int = 10,
      jump: Int = 1,
      minRawRows: Int = 20,
      minBuckets: Int = 10)

  /** One downsampled bucket row fed to the kernel. (Not `private`: Spark's
    * generated encoder code must be able to construct it.) */
  case class Bucket(
      device_date: String,
      bucket_start: Timestamp,
      payload: Boolean,
      lw: Option[Double],
      speed: Option[Double],
      alt: Option[Double],
      hash: String,
      clean_rows: Long,
      raw_rows: Long)

  /** Candidate event (FIXTURES F5 / `05_load_candidates_to_db.py:96-98`). */
  case class Candidate(
      device_id: String,
      timestamp_start: Timestamp,
      raw_event_hash_id: String)

  /** features must carry: device_date, timestamp, load_weight_rate_of_change,
    * speed_rolling_avg_5s, altitude_rate_of_change, has_reliable_payload,
    * raw_event_hash_id — exactly the reference's 6-column projection. */
  def candidateEvents(features: DataFrame, cfg: Config = Config())
      : Dataset[Candidate] = {
    val spark = features.sparkSession
    import spark.implicits._

    // The 7-column projection feeds TWO branches (the gates aggregate and
    // the clean filter), and `features` is typically the WHOLE window
    // stack (one shuffle + sort over the fact table): without a persist
    // each branch re-executes that stack — a full extra pass at any
    // scale (guide §1.2: remove redundant passes before anything else).
    // ~60 bytes/row × 7 narrow columns, MEMORY_AND_DISK; registered with
    // [[Caches]] so long sessions release it after consuming the result
    // (Bench/Verify clear between queries). Batch-only by construction:
    // the streaming caller (StreamingCpd) runs this operator inside
    // foreachBatch, where the micro-batch frame is a plain batch frame.
    import graft.operators.Caches.Persisted
    val f = features.select("device_date", "timestamp",
      "load_weight_rate_of_change", "speed_rolling_avg_5s",
      "altitude_rate_of_change", "has_reliable_payload", "raw_event_hash_id")
      .persistTracked

    // Per-device-date gates in ONE aggregation pass: raw count, the branch
    // flag (the reference reads it off the first row), and both branches'
    // clean counts as conditional counts — the applicable one is selected
    // after the flag is known, avoiding a second full-table agg + join.
    val gates = f.groupBy("device_date").agg(
        count(lit(1)).as("raw_rows"),
        (min_by(col("has_reliable_payload"), col("timestamp")) === true)
          .as("payload"),
        count(when(col("load_weight_rate_of_change").isNotNull, 1))
          .as("_clean_payload"),
        count(when(col("speed_rolling_avg_5s").isNotNull &&
          col("altitude_rate_of_change").isNotNull, 1)).as("_clean_kin"))
      .withColumn("clean_rows",
        when(col("payload"), col("_clean_payload"))
          .otherwise(col("_clean_kin")))
      .drop("_clean_payload", "_clean_kin")

    // one row per device_date: broadcast by plan, not by whichever AQE
    // stage happens to finish first (a runtime choice gave per-run plan
    // variants, each with its own generated code)
    val withGate = f.join(broadcast(gates), Seq("device_date"))

    // Branch-specific clean filter, then tumbling 5 s mean per signal with
    // the earliest hash per bucket. One shuffle; partial aggregation first.
    val clean = withGate.where(
      when(col("payload"), col("load_weight_rate_of_change").isNotNull)
        .otherwise(col("speed_rolling_avg_5s").isNotNull &&
          col("altitude_rate_of_change").isNotNull))

    // Partition by device_date ONCE here: the downsample aggregation's
    // finer grouping keys and the kernel's per-device-date grouping are
    // both satisfied by this clustering (subset rule), so neither plans a
    // further exchange — the post-downsample buckets never re-shuffle.
    val repartitioned = clean.repartition(col("device_date"))

    val buckets = Downsample.tumblingMean(repartitioned, "timestamp", cfg.every,
        keys = Seq("device_date", "payload", "raw_rows", "clean_rows"),
        signals = Seq("load_weight_rate_of_change", "speed_rolling_avg_5s",
          "altitude_rate_of_change"),
        firstCols = Seq("raw_event_hash_id"))
      .select(
        col("device_date"),
        col("bucket_start"),
        col("payload"),
        col("load_weight_rate_of_change").as("lw"),
        col("speed_rolling_avg_5s").as("speed"),
        col("altitude_rate_of_change").as("alt"),
        col("raw_event_hash_id").as("hash"),
        col("clean_rows"),
        col("raw_rows"))
      .as[Bucket]

    // Column-keyed grouping (not groupByKey(lambda)): the opaque lambda
    // key would defeat partitioning reuse and force a bucket re-shuffle.
    buckets.groupBy(col("device_date")).as[String, Bucket].flatMapGroups {
      (dd: String, it: Iterator[Bucket]) => detectGroup(dd, it, cfg)
    }
  }

  /** Per-partition processing metrics — the orchestrator's monitoring
    * dict (`05_cpd_orchestrator_polars.py:445-456`; statuses
    * `insufficient_data` / `insufficient_payload_data` /
    * `insufficient_kinematic_data` / `insufficient_downsampled_data` /
    * `success`, data_reduction_ratio = downsampled/original). One row per
    * device_date; pure aggregates + the same kernel, no extra passes over
    * raw data beyond candidateEvents' own plan shape. */
  def partitionMetrics(features: DataFrame, cfg: Config = Config())
      : DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    // Same single-execution guarantee as candidateEvents (r17 change
    // #1, r17 verdict #4): the projection feeds the gates aggregate,
    // the clean join, AND candidateEvents below — without the persist
    // each branch re-executes the upstream window stack. Registered
    // with [[Caches]]; batch callers clear between queries, streaming
    // callers release via Caches.scoped.
    import graft.operators.Caches.Persisted
    val f = features.select("device_date", "timestamp",
      "load_weight_rate_of_change", "speed_rolling_avg_5s",
      "altitude_rate_of_change", "has_reliable_payload", "raw_event_hash_id")
      .persistTracked
    val gates = f.groupBy("device_date").agg(
      count(lit(1)).as("original_records"),
      (min_by(col("has_reliable_payload"), col("timestamp")) === true)
        .as("payload"),
      count(when(col("load_weight_rate_of_change").isNotNull, 1))
        .as("_cp"),
      count(when(col("speed_rolling_avg_5s").isNotNull &&
        col("altitude_rate_of_change").isNotNull, 1)).as("_ck"))
      .withColumn("clean_records",
        when(col("payload"), col("_cp")).otherwise(col("_ck")))
    val clean = f.join(gates.select("device_date", "payload"),
        Seq("device_date"))
      .where(when(col("payload"), col("load_weight_rate_of_change").isNotNull)
        .otherwise(col("speed_rolling_avg_5s").isNotNull &&
          col("altitude_rate_of_change").isNotNull))
    val bucketCounts = clean
      .groupBy(col("device_date"), window(col("timestamp"), cfg.every))
      .agg(count(lit(1)).as("_n"))
      .groupBy("device_date")
      .agg(count(lit(1)).as("downsampled_records"))
    // reconstruct the day-grain device_date from each candidate (valid for
    // the reference's `device_id || '_' || DATE(ts)` partition key).
    // candidateEvents gets the PERSISTED projection (f carries exactly
    // the 7 columns it selects), so its own internal projection reads
    // the cache instead of re-running the caller's window stack.
    val cands = candidateEvents(f, cfg).toDF()
      .withColumn("device_date", concat(col("device_id"), lit("_"),
        date_format(col("timestamp_start"), "yyyy-MM-dd")))
      .groupBy("device_date")
      .agg(count(lit(1)).as("change_points"))
    gates
      .join(bucketCounts, Seq("device_date"), "left")
      .na.fill(0L, Seq("downsampled_records"))
      .join(cands, Seq("device_date"), "left")
      .na.fill(0L, Seq("change_points"))
      .withColumn("status",
        when(col("original_records") < cfg.minRawRows, "insufficient_data")
          .when(col("clean_records") < cfg.minRawRows && col("payload"),
            "insufficient_payload_data")
          .when(col("clean_records") < cfg.minRawRows,
            "insufficient_kinematic_data")
          .when(col("downsampled_records") < cfg.minBuckets,
            "insufficient_downsampled_data")
          .otherwise("success"))
      .withColumn("data_reduction_ratio",
        round(col("downsampled_records") / col("original_records"), 3))
      // reference metric parity: the orchestrator's success dict reports
      // len(df) (the ORIGINAL count) as clean_records on the success path
      // (05_cpd_orchestrator_polars.py); the branch-conditional clean count
      // is only surfaced for the insufficient_* statuses
      .withColumn("clean_records",
        when(col("status") === "success", col("original_records"))
          .otherwise(col("clean_records")))
      .select("device_date", "original_records", "clean_records",
        "downsampled_records", "change_points", "status",
        "data_reduction_ratio")
  }

  /** The per-device-date kernel over downsampled buckets. */
  private[operators] def detectGroup(deviceDate: String,
      it: Iterator[Bucket], cfg: Config): Iterator[Candidate] = {
    val rows = it.toArray.sortBy(_.bucket_start.getTime)
    if (rows.isEmpty) return Iterator.empty
    val head = rows.head
    if (head.raw_rows < cfg.minRawRows || head.clean_rows < cfg.minRawRows ||
        rows.length < cfg.minBuckets)
      return Iterator.empty

    val indices: Array[Int] =
      if (head.payload) {
        val sig = rows.flatMap(_.lw)
        if (sig.length >= cfg.minBuckets)
          Pelt.detectInterior(sig, cfg.penalty, cfg.minSize, cfg.jump)
        else Array.empty[Int]
      } else {
        // two passes over the independently null-filtered signals; the
        // reference indexes both into the same downsampled frame
        // (all-null buckets cannot occur post-filter, so the filtered
        // signal aligns with the bucket array)
        val speedSig = rows.flatMap(_.speed)
        val altSig = rows.flatMap(_.alt)
        val sp =
          if (speedSig.length >= cfg.minBuckets)
            Pelt.detectInterior(speedSig, cfg.penalty, cfg.minSize, cfg.jump)
          else Array.empty[Int]
        val al =
          if (altSig.length >= cfg.minBuckets)
            Pelt.detectInterior(altSig, cfg.penalty, cfg.minSize, cfg.jump)
          else Array.empty[Int]
        (sp ++ al).distinct.sorted
      }

    val deviceId = deviceDate.lastIndexOf('_') match {
      case -1 => deviceDate
      case i  => deviceDate.substring(0, i)
    }
    indices.iterator
      .filter(i => i >= 0 && i < rows.length)
      .map { i =>
        Candidate(deviceId, rows(i).bucket_start, rows(i).hash)
      }
  }
}
