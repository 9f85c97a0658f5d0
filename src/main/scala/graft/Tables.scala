package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided TPC-H-ish testdata (TESTDATA.md).
  *
  * One parquet file per table under the sf directories. All queries in
  * [[SparkEntry.queries]] take the sf directory as a parameter so the same
  * code runs at any scale factor (and, unchanged, on a real cluster against
  * object-store paths — nothing here assumes local files).
  *
  * Schema cache. A bare `spark.read.parquet` runs a Spark job to infer
  * the schema from the parquet footers, on every read, before the query's
  * own execution starts; with the schema supplied the read runs none
  * (a warm read of a 30k-row `lineitem` cost 63–84 ms inferred,
  * 5–12 ms supplied and 0.1–0.3 ms to list, local[4] on a 4-vCPU VM).
  * [[parquet]] keeps the schema Spark inferred per path and supplies it
  * on the next read. Inference stays the source of truth: nothing here
  * declares a table's schema.
  *  - Key: the path's [[fingerprint]] (name, modification time and length
  *    of every entry directly under it, from one `listStatus`) plus the
  *    session's values of the settings that change parquet inference
  *    ([[InferenceSettings]]). A rewritten table gets new part-file names,
  *    so its fingerprint changes and the schema is inferred again.
  *  - Bound: one entry per path, and at most [[SchemaCacheEntries]] paths
  *    (least recently read evicted), so index metadata read from a fresh
  *    directory per generation cannot grow it without limit.
  */
object Tables {
  /** One table of the sf directory, read through the schema cache. The
    * timestamp reading rules (classic TimestampType inference,
    * TIMESTAMP(NANOS) as epoch-nanos long) are session settings from
    * [[GraftSession.configure]], not per read. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema inferred at the last
    * read of `path`, while the path's files and the inference settings
    * are unchanged (see the object's doc). `path` is one file or one
    * directory, not a glob. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (fingerprint(spark, path),
      InferenceSettings.map(k => spark.conf.getOption(k)))
    schemas.synchronized(Option(schemas.get(path))) match {
      case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.synchronized(schemas.put(path, (key, df.schema)))
        df
    }
  }

  /** Name, modification time and length of every entry directly under
    * `path` (the file itself when `path` is a file), sorted by name, from
    * one `listStatus`; empty when nothing is there. Writers that mint new
    * part files, or rename or delete entries, change it. Also the key of
    * `DedupIndex`'s meta cache. */
  private[graft] def fingerprint(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
      .sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Session settings that change what parquet inference returns. */
  private val InferenceSettings: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** Paths the schema cache holds at most; a sf directory has 10 tables. */
  private val SchemaCacheEntries: Int = 256

  private type Key = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** Path → (key at inference, inferred schema), in access order. */
  private val schemas =
    new java.util.LinkedHashMap[String, (Key, StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Key, StructType)]): Boolean =
        size() > SchemaCacheEntries
    }

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
