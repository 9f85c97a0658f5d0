package graft

import graft.operators.DedupIndex
import graft.streaming.StreamingDedupGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest gate: duplicates of the seed corpus are rejected,
  * novel docs are admitted AND extend the index, and a later
  * micro-batch duplicating an earlier batch's survivor is rejected —
  * the incremental semantics a one-shot batch probe cannot express. */
class StreamingDedupGateSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // long distinct sentences so word-trigram jaccard behaves
  private val seedText =
    "the quick brown fox jumps over the lazy dog near the old river bank"
  private val novelA =
    "completely different words about tokenizer training and vocab merges here"
  private val novelB =
    "spark catalyst optimizer pushes filters below the shuffle boundary nicely"

  test("gate rejects seed dups, admits novel docs, and rejects a dup " +
      "of an earlier micro-batch's survivor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = tmp("gate_idx")
    val out = tmp("gate_out") + "/accepted"
    val chk = tmp("gate_chk")
    DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedupGate.start(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, out, chk, threshold = 0.5)
    try {
      // batch 1: a near-copy of the seed (rejected) + a novel doc
      input.addData((10L, seedText + " extra tail"), (11L, novelA))
      q.processAllAvailable()
      // batch 2: a near-copy of batch 1's SURVIVOR (rejected — the
      // index grew), a near-copy of the seed (still rejected), novel
      input.addData((20L, novelA + " extra tail"),
        (21L, seedText + " other tail"), (22L, novelB))
      q.processAllAvailable()
      val accepted = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(accepted == Seq(11L, 22L),
        s"accepted $accepted — expected only the two novel docs")
    } finally q.stop()
  }

  test("compactEvery folds index maintenance into the gate loop: " +
      "epochs stay bounded across many micro-batches and admissions " +
      "equal the unmaintained gate's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def epochs(idx: String) =
      Option(new java.io.File(s"$idx/grams").listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("epoch="))
    def runGate(compactEvery: Int): (String, Seq[Long], Int) = {
      val idx = tmp(s"gate_idx_c$compactEvery")
      val out = tmp(s"gate_out_c$compactEvery") + "/accepted"
      DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedupGate.start(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        out, tmp(s"gate_chk_c$compactEvery"), threshold = 0.5,
        compactEvery = compactEvery)
      try {
        // six micro-batches: novel docs, dups of the seed, and dups
        // of earlier batches' survivors (the admissions must not
        // change under maintenance — compaction is pure data movement)
        (0 until 6).foreach { i =>
          input.addData(
            (100L + i, s"$novelA unique batch token$i suffix$i"),
            (200L + i, seedText + " extra tail"),
            (300L + i, s"$novelA unique batch token$i suffix$i tail"))
          q.processAllAvailable()
        }
        val accepted = spark.read.parquet(out)
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        (idx, accepted, epochs(idx))
      } finally q.stop()
    }
    val (_, baseAccepted, baseEpochs) = runGate(0)
    val (idx, accepted, nEpochs) = runGate(2)
    assert(accepted == baseAccepted,
      s"maintained gate admitted $accepted, unmaintained $baseAccepted")
    // unmaintained: 1 build + one epoch per admitting batch;
    // maintained: compaction keeps the count bounded by the interval
    assert(baseEpochs >= 6, s"fixture must accumulate epochs, got " +
      s"$baseEpochs")
    assert(nEpochs <= 3,
      s"compactEvery=2 must bound the epoch count, got $nEpochs")
    // and the maintained index still serves: a dup of a survivor is
    // rejected by a fresh probe
    val hits = DedupIndex.probe(spark,
      idx, Seq((999L, s"$novelA unique batch token0 suffix0"))
        .toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
    assert(hits.count() > 0)
  }

  test("restartable: the index reflects every committed batch, so a " +
      "fresh query over the same index keeps rejecting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = tmp("gate_idx2")
    // a fresh checkpoint restarts epochs at 0, so a new query writes
    // to its own output root (resuming the SAME checkpoint continues
    // epochs and may reuse the root — the per-epoch overwrite then
    // makes replays idempotent)
    val out1 = tmp("gate_out2a") + "/accepted"
    val out2 = tmp("gate_out2b") + "/accepted"
    DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingDedupGate.start(in1.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, out1, tmp("gate_chk2a"))
    in1.addData((10L, novelA))
    q1.processAllAvailable()
    q1.stop()
    // a NEW query against the same index still rejects dups of the
    // first query's survivor
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingDedupGate.start(in2.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, out2, tmp("gate_chk2b"))
    try {
      in2.addData((20L, novelA + " tail words"), (21L, novelB))
      q2.processAllAvailable()
      val accepted = spark.read.parquet(out2)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(accepted == Seq(21L), s"accepted $accepted")
    } finally q2.stop()
  }

  test("at-least-once replay is idempotent at id grain: re-running a " +
      "batch rewrites the same output and appends nothing to the index") {
    import spark.implicits._
    val idx = tmp("gate_idx3")
    val out = tmp("gate_out3") + "/accepted"
    DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val batch = Seq((10L, novelA), (11L, seedText + " extra tail"))
      .toDF("doc_id", "text")
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    val acceptedOnce = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val bandRows = spark.read.parquet(s"$idx/bands").count()
    val gramRows = spark.read.parquet(s"$idx/grams").count()
    // crash-replay of the SAME epoch: the survivor (10) self-matches
    // in the index and is admitted again WITHOUT a second append; the
    // per-epoch overwrite rewrites, not duplicates, the output
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    val acceptedTwice = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(acceptedOnce == Seq(10L) && acceptedTwice == Seq(10L),
      s"once $acceptedOnce twice $acceptedTwice")
    assert(spark.read.parquet(s"$idx/bands").count() == bandRows,
      "replay re-appended band rows")
    assert(spark.read.parquet(s"$idx/grams").count() == gramRows,
      "replay re-appended gram rows")
  }

  test("replay of a batch with INTRA-batch near-dups keeps both: " +
      "self-matched docs are never rejected by their cross-hit") {
    import spark.implicits._
    val idx = tmp("gate_idx4")
    val out = tmp("gate_out4") + "/accepted"
    DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    // 30 and 31 are near-dups of each other (same batch: both admitted
    // — intra-batch dedup is out of the gate's scope by contract)
    val batch = Seq((30L, novelA), (31L, novelA + " tail"))
      .toDF("doc_id", "text")
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    val once = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val gramRows = spark.read.parquet(s"$idx/grams").count()
    // replay: each doc now self-matches AND cross-matches its sibling;
    // the cross-hit must not reject it or the overwrite loses rows
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    val twice = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(once == Seq(30L, 31L) && twice == Seq(30L, 31L),
      s"once $once twice $twice")
    assert(spark.read.parquet(s"$idx/grams").count() == gramRows,
      "replay re-appended gram rows")
  }

  test("crash residual: bands-without-grams (a crash before the grams " +
      "epoch commit) is healed by replay with no duplicate probe pairs") {
    import spark.implicits._
    val idx = tmp("gate_idx_crash")
    val out = tmp("gate_out_crash") + "/accepted"
    DedupIndex.build(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    def epochs() = Option(new java.io.File(s"$idx/grams").listFiles())
      .map(_.filter(_.getName.startsWith("epoch=")).map(_.getName).toSet)
      .getOrElse(Set.empty[String])
    val before = epochs()
    val batch = Seq((40L, novelB)).toDF("doc_id", "text")
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    // simulate the crash window writeTables leaves open: the batch's
    // band rows landed, its grams epoch did not commit — delete the
    // epoch dir the append just created, keep the band files
    val created = epochs() -- before
    assert(created.size == 1, s"expected one new grams epoch: $created")
    graft.queries.DocFixtures.deleteRecursively(
      new java.io.File(s"$idx/grams/${created.head}"))
    // replay of the SAME micro-batch: the doc has band rows but no
    // grams row, so it cannot self-match — it must be re-admitted and
    // re-appended (grams presence is the self-match signal)
    StreamingDedupGate.ingestBatch(spark, batch, "doc_id", "text",
      idx, out, 0.5, epoch = 0L)
    assert(spark.read.parquet(s"$idx/grams")
      .where(col("id") === 40L).count() == 1,
      "healed index must hold exactly one grams row for the survivor")
    assert(spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(40L))
    // the duplicated band rows are harmless by construction: a probe
    // of a near-copy returns ONE pair despite two band-row copies
    val probe = DedupIndex.probe(spark, idx,
      Seq((99L, novelB + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    assert(probe.where(col("id") === 40L).count() == 1,
      "duplicate band rows leaked duplicate probe pairs")
  }
}
