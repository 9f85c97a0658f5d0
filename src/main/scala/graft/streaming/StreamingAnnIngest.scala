package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.AnnIndex

/** Streaming vector ingest into the persisted [[graft.operators.AnnIndex]]
  * — the vector-table twin of [[StreamingDedupGate]]: every micro-batch
  * of embeddings is (optionally) drift-scored against the index's
  * frozen build-time moments, committed as one fresh assignments
  * epoch, and every `compactEvery`-th batch the index (and the drift
  * series) maintains itself. This is
  * the serving loop a continuously-embedded corpus needs: the index
  * grows batch by batch, the drift signal that says "the quantizer no
  * longer fits what is arriving" accrues as a queryable time series
  * instead of a decision nobody is equipped to make
  * ([[graft.operators.AnnIndex.driftSince]]'s instrument, run at the
  * only moment it is free — the batch is already in hand), and the
  * small-files accumulation is repaired inside the loop that creates
  * it.
  *
  * Built on `foreachBatch` for the same reasons as the gate: appends
  * must mutate the index BETWEEN batches, and the existence check
  * needs batch-only plan shapes. Replay safety: `foreachBatch` is
  * AT-LEAST-ONCE, and a blind re-append would duplicate every replayed
  * vector (duplicate ids then occupy top-k rank slots — the r15 advice
  * failure mode at the streaming grain). The batch step is therefore
  * made idempotent at vector-id grain (globally-unique ids, the crawl
  * contract):
  *
  *  - the batch is ASSIGNED first (row-local, broadcast centroids);
  *    its distinct cells — bounded by min(|batch|, nlist) — scope an
  *    existence scan to exactly the partitions the batch could live
  *    in, so the check costs cells-touched reads, never a corpus scan;
  *  - already-present ids (the replay) are dropped by a
  *    batch-bounded semi-join collapse + broadcast anti-join (the
  *    [[graft.operators.DedupIndex.probe]] plan discipline: the big
  *    side streams, only batch-sized frames broadcast);
  *  - the drift row (when `driftOut` is set) lands in a PER-EPOCH
  *    directory written with overwrite, so a replayed epoch rewrites
  *    its row instead of appending a second copy.
  *
  * All state lives in the index tree + the drift table, so a restart
  * resumes from the checkpoint with both reflecting every committed
  * batch. Per-trigger cost: one |batch|-row assignment, one
  * cell-scoped existence check, one additive write, and (optionally)
  * one |dim|-row drift aggregate. */
object StreamingAnnIngest {

  /** Start the ingest: `vectors` is a streaming DataFrame of
    * (idCol, vecCol); the index at `indexPath` must already exist
    * (seed it with [[graft.operators.AnnIndex.build]]).
    *
    * `driftOut` (when non-empty) receives one row per micro-batch —
    * the [[graft.operators.AnnIndex.driftSince]] output plus a
    * `batch_epoch` column, under `driftOut/ingest_batch=<epoch>` —
    * scored BEFORE the append, so the series reads "what arrived"
    * against the build-time distribution. Requires the index to carry
    * frozen moments (any [[graft.operators.AnnIndex.build]] since the
    * instrument; run freezeMoments on older trees first).
    *
    * `compactEvery > 0` folds [[graft.operators.AnnIndex.compact]]
    * into the loop before every Nth batch (the [[StreamingDedupGate]]
    * argument verbatim: foreachBatch serializes the loop's own
    * batches, the loop owns the index, compact recovers its own
    * crashed state first, and the failed epoch replays) — TIERED at
    * `compactMaxEpochBytes` (default one
    * [[graft.index.EpochLayout.CompactionFileBytes]], the gate's
    * own default): a full-rewrite pass every N batches would re-read
    * and re-write the whole corpus per cycle, O(corpus²/batch)
    * lifetime I/O; under the tier each byte is rewritten O(log) times
    * total. When `driftOut` is set, the same tick also folds the
    * drift series' closed per-batch dirs ([[compactDriftSeries]]) —
    * the small-files lesson applied to the monitoring table the loop
    * itself mints. */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String,
      driftOut: String = "", compactEvery: Int = 0,
      compactMaxEpochBytes: Long =
        graft.index.EpochLayout.CompactionFileBytes): StreamingQuery = {
    require(compactEvery >= 0,
      s"compactEvery=$compactEvery must be >= 0 (0 = never)")
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0) {
          AnnIndex.compact(batch.sparkSession, indexPath,
            maxEpochBytes = compactMaxEpochBytes)
          if (driftOut.nonEmpty)
            compactDriftSeries(batch.sparkSession, driftOut)
        }
        ingestBatch(batch.sparkSession, batch, idCol, vecCol, indexPath,
          if (driftOut.isEmpty) None else Some(driftOut), epoch)
      }
      .start()
  }

  /** One idempotent ingest step — package-visible so the spec can
    * replay it and pin the exactly-once-at-id-grain contract. */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, indexPath: String,
      driftOut: Option[String], epoch: Long): Unit = {
    val chks = scala.collection.mutable.ListBuffer[DataFrame]()
    try {
      // the micro-batch feeds up to three consumers (drift, assign,
      // anti-join) — pin it so the source is read once
      val b = batch.localCheckpoint()
      chks += b
      // an empty trigger (restart hiccup, idle source) has nothing to
      // append AND no distribution to score — fdFromMoments would
      // rightly fail its missing-dimension guard on an empty side
      if (b.isEmpty) return
      driftOut.foreach { out =>
        AnnIndex.driftSince(spark, indexPath, b, vecCol)
          .withColumn("batch_epoch", lit(epoch))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$out/ingest_batch=$epoch")
      }
      // duplicate ids WITHIN one micro-batch all pass the
      // index-existence anti-join together (none is in the index yet),
      // so they must collapse here or a source hiccup that re-delivers
      // a row inside a single trigger appends it twice — duplicate
      // vectors then occupy top-k rank slots, the exact failure mode
      // the id-grain idempotence exists to prevent (r16 advice)
      val assigned = AnnIndex.assigned(b, idCol, vecCol, indexPath)
        .dropDuplicates("id")
        .localCheckpoint()
      chks += assigned
      // existence check scoped to the batch's OWN cells (partition
      // pruning bounds the scan by what the batch touches, not the
      // corpus) over the LIVE epoch set (retired epochs would serve
      // phantom ids), collapsed to a batch-bounded id set by a
      // semi-join so the anti-join's build side is always
      // broadcast-sized
      val cells = assigned.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      val existing = AnnIndex.liveAssignments(spark, indexPath)
        .where(col("cell").isin(cells: _*))
        .select("id")
        .join(broadcast(assigned.select("id")), Seq("id"), "left_semi")
      val fresh = assigned.join(broadcast(existing), Seq("id"),
        "left_anti")
      AnnIndex.appendAssigned(fresh, indexPath)
    } finally chks.foreach(graft.operators.Caches.releaseResult)
  }

  /** Read the accumulated drift series at `driftOut` — one row per
    * committed micro-batch, ordered by epoch. The monitoring query a
    * serving pipeline alerts on (the dedup gate has no analogue: its
    * admission decisions ARE its signal; the vector index's quantizer
    * degrades silently, which is the point of the series). */
  def driftSeries(spark: SparkSession, driftOut: String): DataFrame =
    spark.read.parquet(driftOut).orderBy("batch_epoch")

  /** Fold the drift series' CLOSED per-batch directories into one —
    * the engine's own small-files lesson applied to the monitoring
    * table this loop mints: one ~1-row `ingest_batch=<epoch>` dir per
    * trigger is ~40 k tiny directories after a month of 1-minute
    * batches, all of which [[driftSeries]] must enumerate. The
    * newest-epoch dir is NEVER folded: it is the only one an
    * at-least-once replay can rewrite (its overwrite-per-epoch layout
    * is the idempotence mechanism), so folding strictly-older epochs
    * preserves replay safety — a folded epoch is checkpoint-committed
    * and can never arrive again. Rows carry their own `batch_epoch`
    * column, so the fold is pure layout: the series reads identically
    * before and after (the partition directory a folded row lives in
    * is a storage detail).
    *
    * Crash-safe by the index tables' manifest discipline: the fold is
    * staged to an underscore dir (invisible to readers), its `_DIRS`
    * manifest commits atomically (temp + rename) as the completion
    * marker, and commit = delete the listed dirs + rename the stage to
    * the lowest folded epoch's name; the NEXT call finishes or
    * discards whatever a crash left. [[start]] folds automatically on
    * the `compactEvery` tick when `driftOut` is set. */
  def compactDriftSeries(spark: SparkSession, driftOut: String): Unit = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(driftOut)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    Option(fs.globStatus(new Path(s"$driftOut/_compact-*")))
      .getOrElse(Array.empty[FileStatus])
      .foreach { st =>
        if (fs.exists(new Path(st.getPath, "_DIRS")))
          commitDriftStage(fs, root, st.getPath)
        else fs.delete(st.getPath, true)
      }
    val epochs = Option(fs.listStatus(root))
      .getOrElse(Array.empty[FileStatus])
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("ingest_batch="))
      .map(_.getPath.getName)
    // fold only when at least two CLOSED dirs exist — folding one dir
    // into itself every tick would re-rewrite the same bytes for no
    // layout gain (the tiered-compaction amortization argument)
    if (epochs.length < 3) return
    val maxEpoch = epochs
      .maxBy(_.stripPrefix("ingest_batch=").toLong)
    val closed = epochs.filterNot(_ == maxEpoch).toSeq.sorted
    val stage = new Path(driftOut,
      s"_compact-${java.util.UUID.randomUUID().toString}")
    spark.read.parquet(closed.map(n => s"$driftOut/$n"): _*)
      .coalesce(1).write.parquet(stage.toString)
    graft.index.EpochLayout.writeManifest(fs,
      new Path(stage, "_DIRS"), closed)
    commitDriftStage(fs, root, stage)
  }

  /** Commit a COMPLETE drift-fold stage (has `_DIRS`): delete the
    * folded dirs, rename the stage in as the lowest folded epoch.
    * Idempotent across crashes — listed dirs that are already gone
    * skip, and the stage (which holds every folded row) is only
    * renamed, never deleted, so no crash point loses data. Readers
    * racing the delete-to-rename window can see the folded rows
    * missing momentarily — acceptable at a monitoring table (alerts
    * re-read), NOT the snapshot isolation the index tables get; a
    * series reader that must be exact should not race the fold. */
  private def commitDriftStage(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      stage: org.apache.hadoop.fs.Path): Unit = {
    val lines = graft.index.EpochLayout.readLines(fs,
      new org.apache.hadoop.fs.Path(stage, "_DIRS"))
    lines.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    val dest = new org.apache.hadoop.fs.Path(root,
      lines.minBy(_.stripPrefix("ingest_batch=").toLong))
    require(fs.rename(stage, dest),
      s"compactDriftSeries: failed to commit $stage -> $dest")
  }
}
