package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STEP 5 export + load-validation surfaces (S5, S8, S9).
  */
object ExportSink {

  /** Gold feature export: parquet partitioned by `device_date`, rows
    * time-ordered within each partition, snappy — the reference's
    * `COPY → pandas → Arrow → write_to_dataset` pipeline
    * (`05_export_features_to_parquet.py:186-313`) as one write. The
    * reference's global `ORDER BY device_date, timestamp` is relaxed to
    * repartition-by-partition-column + sortWithinPartitions: identical
    * file layout, no global sort (SURVEY §2.6 O2).
    */
  def goldParquet(df: DataFrame, outDir: String): Unit =
    df.repartition(col("device_date"))
      .sortWithinPartitions("device_date", "timestamp")
      .write.mode("overwrite")
      .partitionBy("device_date")
      .option("compression", "snappy")
      .parquet(outDir)

  /** ORC twin of [[goldParquet]]: same partition layout and in-file
    * ordering contract in the other columnar format Spark ships
    * natively — for consumers standardized on ORC warehouses. */
  def goldOrc(df: DataFrame, outDir: String): Unit =
    df.repartition(col("device_date"))
      .sortWithinPartitions("device_date", "timestamp")
      .write.mode("overwrite")
      .partitionBy("device_date")
      .option("compression", "zlib")
      .orc(outDir)

  /** Candidate CSV sink (S8): header'd CSV like the orchestrator's final
    * output (`05_cpd_orchestrator_polars.py:605-612`). */
  def candidatesCsv(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(outDir)

  /** Post-load invariant checks (S9/§5.2): rowcount vs distinct PK, null
    * criticals, device/time sanity — the loader's validation block
    * (`05_load_candidates_to_db.py:197-263`) as one aggregate pass.
    * Returns (n_rows, n_distinct_hashes, n_null_critical, n_devices,
    * min_ts, max_ts); callers assert `n_rows == n_distinct_hashes` and
    * `n_null_critical == 0` before committing a load.
    *
    * Only the hash count is a DISTINCT aggregate. Two of them make Spark
    * expand the input once per distinct group, in an order hashed from
    * per-query expression ids, so each run picked one of two generated
    * sources and a warm re-run compiled anew. The device count is a
    * `collect_set` size instead: the same number (both skip nulls), over
    * a set no larger than the fleet.
    */
  def candidateLoadChecks(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("raw_event_hash_id")).as("n_distinct_hashes"),
      sum(when(col("device_id").isNull || col("timestamp_start").isNull ||
        col("raw_event_hash_id").isNull, 1).otherwise(0))
        .cast("long").as("n_null_critical"),
      size(collect_set(col("device_id"))).cast("long").as("n_devices"),
      min(col("timestamp_start")).as("min_ts"),
      max(col("timestamp_start")).as("max_ts"))
}
