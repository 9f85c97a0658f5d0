package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish testdata (TESTDATA.md).
  *
  * One parquet file per table under the sf directories. All queries in
  * [[SparkEntry.queries]] take the sf directory as a parameter so the same
  * code runs at any scale factor (and, unchanged, on a real cluster against
  * object-store paths — nothing here assumes local files).
  */
object Tables {
  /** One table of the sf directory. The timestamp reading rules (classic
    * TimestampType inference, TIMESTAMP(NANOS) as epoch-nanos long) are
    * session settings from [[GraftSession.configure]], not per read. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Older drops of the events table are written with parquet
    * TIMESTAMP(NANOS), which Spark has no native type for: the session
    * reads it as epoch-nanos long (`spark.sql.legacy.parquet.nanosAsLong`,
    * set in [[GraftSession.configure]]), converted here to a microsecond
    * TimestampType column (the generator only populates µs precision, so
    * this is lossless).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Split-starvation guard for CPU-bound per-row stages (hashing, regex
    * stacks, image codecs): when the scan yields fewer partitions than
    * cores — a small file, or one parquet row group — every downstream
    * narrow op runs on that handful of tasks while the rest of the machine
    * idles. Redistribute ONLY in that case; on a real multi-terabyte table
    * the scan already splits into >= cores partitions and this is a no-op,
    * so the pattern is scale-safe (no blind full-table shuffle).
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    // a streaming frame has no inspectable partitioning (.rdd is
    // illegal before execution) and its micro-batch splits are the
    // source's concern — pass it through so batch operators that guard
    // with this (Bloom.build, the doc queries) stay stream-legal
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
