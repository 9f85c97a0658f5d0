package graft

import graft.operators.AnnIndex
import graft.streaming.StreamingAnnIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vector ingest: micro-batches append into the persisted
  * IVF index exactly like batch appends, replays are idempotent at
  * id grain, the drift series accrues one scored row per batch, and
  * compactEvery keeps the cell-file count bounded — all without the
  * probe contract changing. */
class StreamingAnnIngestSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val queries = emb.where(col("vec_id") < 5)

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def vecRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Seq[Double])] =
    df.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq

  test("streamed micro-batches probe exactly like batch appends, and " +
      "the drift series carries one row per batch — ~0 for " +
      "same-distribution arrivals, positive for a shifted batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = tmp("ann_ingest_idx")
    val twin = tmp("ann_ingest_twin")
    val drift = tmp("ann_ingest_drift") + "/series"
    val half = emb.where(col("vec_id") % 2 === 0)
    AnnIndex.build(half, "vec_id", "embedding", idx, nlist = 8)
    AnnIndex.build(half, "vec_id", "embedding", twin, nlist = 8)
    // batch 1: same-distribution vectors; batch 2: a shifted copy of
    // them under fresh ids (the drifting-generator arrival)
    val b1 = emb.where(col("vec_id") % 2 === 1)
    val b2 = b1.select((col("vec_id") + 900000L).as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(2.5)).as("embedding"))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamingAnnIngest.start(
      input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, tmp("ann_ingest_chk"),
      driftOut = drift)
    try {
      input.addData(vecRows(b1)); q.processAllAvailable()
      input.addData(vecRows(b2)); q.processAllAvailable()
    } finally q.stop()
    // index state == the batch-append twin, probe for probe
    AnnIndex.append(b1, "vec_id", "embedding", twin)
    AnnIndex.append(b2, "vec_id", "embedding", twin)
    def probed(p: String) = AnnIndex.probe(spark, p, queries,
        "vec_id", "embedding", k = 10, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(probed(idx) == probed(twin),
      "streamed ingest must build the same index as batch appends")
    // drift series: one row per batch, scored BEFORE the append
    // against the build-time moments — b1 is in-distribution (small),
    // b2 is shifted (large); both strictly ordered
    val series = StreamingAnnIngest.driftSeries(spark, drift)
      .select("batch_epoch", "fd_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(series.map(_._1) == Seq(0L, 1L), series.toString)
    val Seq(fd1, fd2) = series.map(_._2)
    assert(fd2 > fd1 && fd2 > 1000L,
      s"shifted batch must dominate the series: $fd1 vs $fd2")
  }

  test("replay is idempotent at id grain: re-running a committed " +
      "batch appends nothing and rewrites its drift row in place") {
    import spark.implicits._
    val idx = tmp("ann_ingest_idx2")
    val drift = tmp("ann_ingest_drift2") + "/series"
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 8)
    val batch = emb.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .toDF("vec_id", "embedding")
    StreamingAnnIngest.ingestBatch(spark, batch, "vec_id", "embedding",
      idx, Some(drift), epoch = 0L)
    val rows = spark.read.parquet(s"$idx/assignments").count()
    val once = StreamingAnnIngest.driftSeries(spark, drift).collect()
    // crash-replay of the SAME epoch: every id already present — the
    // existence check (scoped to the batch's own cells) drops them all
    StreamingAnnIngest.ingestBatch(spark, batch, "vec_id", "embedding",
      idx, Some(drift), epoch = 0L)
    assert(spark.read.parquet(s"$idx/assignments").count() == rows,
      "replay re-appended vectors — duplicate ids would occupy top-k " +
        "rank slots")
    val twice = StreamingAnnIngest.driftSeries(spark, drift).collect()
    assert(once.length == 1 && twice.length == 1 &&
      once.head.getAs[Long]("fd_micro") == twice.head.getAs[Long]("fd_micro"),
      "the per-epoch drift row must rewrite, not duplicate")
    // a PARTIAL replay (half the ids new) appends exactly the new ones
    val half = batch.where(col("vec_id") % 4 === 1) // already present
    val fresh = batch.where(col("vec_id") % 4 === 3)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    StreamingAnnIngest.ingestBatch(spark,
      half.unionByName(fresh), "vec_id", "embedding",
      idx, None, epoch = 1L)
    assert(spark.read.parquet(s"$idx/assignments").count() ==
      rows + fresh.count(),
      "a mixed batch must append only the genuinely new ids")
    // an empty trigger is a no-op, not a moments-guard failure
    StreamingAnnIngest.ingestBatch(spark, batch.limit(0), "vec_id",
      "embedding", idx, Some(drift), epoch = 2L)
    assert(StreamingAnnIngest.driftSeries(spark, drift).count() == 1)
  }

  test("compactDriftSeries folds closed per-batch dirs into one: the " +
      "series reads identically, the newest epoch stays unfolded (the " +
      "replay-rewrite target), a replayed newest epoch still rewrites " +
      "in place, and a crashed fold commits on the next call") {
    import spark.implicits._
    val idx = tmp("ann_ingest_idx3")
    val drift = tmp("ann_ingest_drift3") + "/series"
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 8)
    (0 until 5).foreach { i =>
      StreamingAnnIngest.ingestBatch(spark,
        emb.where(col("vec_id") % 10 === (2 * i + 1))
          .select((col("vec_id") + 100000L * (i + 1)).as("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", idx, Some(drift), epoch = i.toLong)
    }
    def series(): Seq[(Long, Long)] =
      StreamingAnnIngest.driftSeries(spark, drift)
        .select("batch_epoch", "fd_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def dirs(): Seq[String] = new java.io.File(
        new java.net.URI(s"file:$drift")).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName).sorted.toSeq
    val before = series()
    assert(before.map(_._1) == (0L until 5L) && dirs().size == 5)
    StreamingAnnIngest.compactDriftSeries(spark, drift)
    // epochs 0–3 folded into one dir; epoch 4 (the only replayable
    // one) untouched; the rows read back identically
    assert(dirs() == Seq("ingest_batch=0", "ingest_batch=4"), dirs())
    assert(series() == before,
      "the fold is pure layout — the series must read identically")
    // a replay of the newest epoch rewrites ITS dir in place — the
    // idempotence mechanism the fold must preserve
    StreamingAnnIngest.ingestBatch(spark,
      emb.where(col("vec_id") % 10 === 9)
        .select((col("vec_id") + 500000L).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
      "vec_id", "embedding", idx, Some(drift), epoch = 4L)
    assert(series().map(_._1) == (0L until 5L) &&
      series().size == 5, series().toString)
    // crash recovery: a COMPLETE stage (fold + _DIRS manifest) whose
    // commit never ran — the next call finishes it without loss
    StreamingAnnIngest.ingestBatch(spark,
      emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 600000L).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
      "vec_id", "embedding", idx, Some(drift), epoch = 5L)
    val all = series()
    val fs = new org.apache.hadoop.fs.Path(drift).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(drift, "_compact-crashed")
    spark.read.parquet(s"$drift/ingest_batch=0", s"$drift/ingest_batch=4")
      .coalesce(1).write.parquet(stage.toString)
    graft.index.EpochLayout.writeManifest(fs,
      new org.apache.hadoop.fs.Path(stage, "_DIRS"),
      Seq("ingest_batch=0", "ingest_batch=4"))
    StreamingAnnIngest.compactDriftSeries(spark, drift)
    assert(series() == all,
      "a recovered crashed fold must lose no rows")
    assert(!fs.exists(stage))
  }

  test("compactEvery folds maintenance into the loop: cell files stay " +
      "bounded across micro-batches and the final index probes like " +
      "its unmaintained twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def dataFiles(p: String): Int =
      TestFiles.dataFiles(s"$p/assignments").size
    def run(compactEvery: Int): (String, Seq[String]) = {
      val idx = tmp(s"ann_ingest_idx_c$compactEvery")
      AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idx, nlist = 8)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = StreamingAnnIngest.start(
        input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, tmp(s"ann_ingest_chk_c$compactEvery"),
        compactEvery = compactEvery)
      try {
        (0 until 6).foreach { i =>
          input.addData(vecRows(
            emb.where(col("vec_id") % 12 === (2 * i + 1))
              .select((col("vec_id") + 100000L * (i + 1)).as("vec_id"),
                col("embedding"))))
          q.processAllAvailable()
        }
      } finally q.stop()
      (idx, AnnIndex.probe(spark, idx, queries, "vec_id", "embedding",
          k = 10, nprobe = 4)
        .collect().map(_.toString).sorted.toSeq)
    }
    val (plain, plainProbe) = run(0)
    val (maintained, maintainedProbe) = run(2)
    assert(maintainedProbe == plainProbe,
      "maintenance must not change what the index serves")
    assert(dataFiles(maintained) < dataFiles(plain),
      s"compactEvery must bound the cell files: " +
        s"${dataFiles(maintained)} !< ${dataFiles(plain)}")
  }
}
