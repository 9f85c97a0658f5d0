package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.EpochLayout
import graft.operators.DedupIndex

/** Streaming ingest gate over the persisted dedup index — the
  * continuous form of the [[graft.operators.DedupIndex]] cycle
  * (probe → reject hits → append survivors): every micro-batch of
  * crawled documents is probed against the index, near-duplicates of
  * ANYTHING already admitted (the seed corpus or a survivor of an
  * earlier micro-batch) are rejected, and the survivors are appended
  * to both the output corpus and the index itself.
  *
  * Built on `foreachBatch` deliberately, not on stream-static joins:
  * the probe needs batch-only plan shapes (candidate dedup, broadcast
  * of the batch side) AND the index must GROW as batches are admitted
  * — a stream-static join snapshots the static side per batch but
  * cannot express "batch N+1 probes against batch N's survivors"
  * without the append in between. Inside `foreachBatch` each
  * micro-batch is an ordinary DataFrame, so the whole batch operator
  * is reused verbatim (the one-kernel-two-modes discipline); exactness
  * of the per-batch step is therefore [[DedupIndex.probe]]'s own
  * oracle-checked contract.
  *
  * Replay safety: `foreachBatch` is AT-LEAST-ONCE — a crash between
  * the side effects and the epoch commit re-runs the batch — so the
  * batch step is made idempotent at document-id grain (ids must be
  * globally unique, the standard crawl-pipeline contract):
  *  - survivors land in a PER-EPOCH directory
  *    (`outPath/ingest_batch=<epoch>`) written with overwrite, so a
  *    replayed epoch rewrites the same files instead of appending a
  *    second copy;
  *  - a probe hit with `id == batch_id` is an EXACT self-match — the
  *    document is already IN the index, i.e. this is a replay of a
  *    previously-appended survivor. Self-matched docs are still
  *    admitted to the (overwritten) output but are NOT re-appended to
  *    the index; only docs with no self-match append.
  * Residual window: [[DedupIndex.writeTables]] commits the grams
  * epoch LAST (staged invisibly, renamed in after the bands job), so
  * a crash mid-append can leave a survivor with band rows but no
  * grams row; the replay re-appends it (grams presence is the
  * self-match signal), and the duplicated band rows are harmless —
  * probe dedups candidates before verification. Grams-without-bands —
  * which WOULD duplicate probe pairs on replay — cannot occur.
  *
  * Otherwise the query is stateless (no watermark, no state store) —
  * all state lives in the index directories, so a restart resumes from
  * the checkpoint with the index reflecting every committed batch. At
  * 100 TB the index is the same partitioned parquet the batch path
  * uses; per-trigger cost is batch-sized banding + candidate-sized
  * verification, never corpus-sized. */
object StreamingDedupGate {

  /** Start the gate: `docs` is a streaming DataFrame of
    * (idCol, textCol); survivors land under `outPath` (one
    * `ingest_batch=<epoch>` partition directory per micro-batch) and
    * are appended to the index at `indexPath` (which must already
    * exist — seed it with [[DedupIndex.build]] on the initial corpus).
    * Scope note: the gate rejects duplicates of ADMITTED documents;
    * two near-duplicates arriving in the SAME micro-batch both survive
    * (run [[graft.operators.Dedup.minhashDupPairs]] within the batch
    * first if intra-batch dedup is also wanted).
    *
    * `compactEvery > 0` folds the index's maintenance verb into the
    * very loop that creates the need for it: every append commits one
    * tiny `grams/epoch=<uuid>` dir, so an unmaintained gate walks a
    * month of micro-batches straight into the small-files cliff
    * ([[DedupIndex.compact]]'s scaladoc; SCALING.md prices 20 epochs
    * at 4.8× the compacted probe latency). Before ingesting every
    * compactEvery-th micro-batch the gate runs compact() — legal
    * because foreachBatch serializes the gate's own batches and the
    * gate owns the index (compact's exclusive-access contract), and
    * crash-safe because compact recovers its own interrupted state
    * FIRST and Structured Streaming replays the failed epoch: a crash
    * anywhere inside compact re-runs it before the epoch's probe, so
    * no probe ever sees a half-committed tree. A crash after compact
    * but mid-ingest re-runs one redundant (correct, bounded)
    * recompaction on replay — the price of keeping the step inside
    * the idempotent batch.
    *
    * The gate compacts TIERED (`compactMaxEpochBytes`, default one
    * [[EpochLayout.CompactionFileBytes]] target file): a repeating
    * maintenance loop that ran FULL rewrites would re-read and
    * re-write the whole corpus every compactEvery batches — lifetime
    * I/O quadratic in ingest (the r15 verdict's cost model) — while
    * the tier + promotion policy rewrites each byte O(log) times
    * total and keeps live epochs O(log). Admissions are unaffected
    * either way: compaction is pure data movement. Pass
    * `Long.MaxValue` to restore full rewrites. */
  def start(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      threshold: Double = 0.5, compactEvery: Int = 0,
      compactMaxEpochBytes: Long = EpochLayout.CompactionFileBytes)
      : StreamingQuery = {
    require(compactEvery >= 0,
      s"compactEvery=$compactEvery must be >= 0 (0 = never)")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          DedupIndex.compact(batch.sparkSession, indexPath,
            maxEpochBytes = compactMaxEpochBytes)
        ingestBatch(batch.sparkSession, batch, idCol, textCol,
          indexPath, outPath, threshold, epoch)
      }
      .start()
  }

  /** One idempotent ingest step — package-visible so the spec can
    * replay it and pin the exactly-once-at-id-grain contract. */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, indexPath: String, outPath: String,
      threshold: Double, epoch: Long): Unit = {
    // try/finally over EVERY checkpoint: a failed probe/write/append
    // must not leak blocks across streaming retries on a long-lived
    // session (the release-after-consume discipline)
    val chks = scala.collection.mutable.ListBuffer[DataFrame]()
    try {
      // the micro-batch feeds three consumers (probe, anti-join,
      // append) — pin it so the source is read once
      val b = batch.localCheckpoint()
      chks += b
      val hits = DedupIndex.probe(spark, indexPath, b, idCol, textCol,
          threshold)
        .select(col("id"), col("batch_id"))
        .localCheckpoint()
      chks += hits
      // exact self-match == this doc is already indexed (a replay)
      val selfIds = hits.where(col("id") === col("batch_id"))
        .select(col("batch_id").as("_self_id")).distinct()
      // a self-matched doc is ALWAYS re-admitted, even if it also
      // cross-matches something else: two intra-batch near-dups are
      // both admitted and appended on the first run, so on replay each
      // self-matches AND cross-matches the other — counting the
      // cross-hit would reject both and the epoch overwrite would LOSE
      // previously-admitted rows
      val rejectIds = hits.where(col("id") =!= col("batch_id"))
        .select(col("batch_id").as("_hit_id")).distinct()
        .join(broadcast(selfIds), col("_hit_id") === col("_self_id"),
          "left_anti")
      val survivors = b.join(broadcast(rejectIds),
          b(idCol) === col("_hit_id"), "left_anti")
        .localCheckpoint()
      chks += survivors
      survivors.write.mode("overwrite")
        .parquet(s"$outPath/ingest_batch=$epoch")
      val toAppend = survivors.join(broadcast(selfIds),
        survivors(idCol) === col("_self_id"), "left_anti")
      DedupIndex.append(toAppend, idCol, textCol, indexPath)
    } finally chks.foreach(graft.operators.Caches.releaseResult)
  }
}
