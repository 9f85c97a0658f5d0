package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EvalMetrics

/** Streaming embedding-distribution drift — the moments twin of
  * [[graft.operators.EvalMetrics.embedFrechetDiag]] for a LIVE
  * generation stream: drift is exactly the signal one wants DURING
  * generation, not after the corpus lands, and the metric's per-dim
  * (n, Σq, Σq²) state is a textbook sufficient statistic — exact
  * integers that commute under any partitioning and any micro-batch
  * arrival order. The register frame is maintained as a native
  * streaming aggregation whose state is structurally bounded at |dim|
  * rows, so — the [[StreamingHll]] argument — it needs NO watermark
  * and is safe in complete mode forever; corpus size never enters the
  * state.
  *
  * Serving shape: freeze a REFERENCE corpus's moments once
  * ([[writeReferenceMoments]] — |dim| rows, one tiny parquet), run
  * [[momentStream]] over the generator's output, and score any
  * snapshot against the frozen baseline with [[driftAgainst]] — the
  * same [[EvalMetrics.fdFromMoments]] kernel the batch form runs, so
  * stream and batch scores are bit-identical on the same data
  * (StreamingEmbedDriftSpec pins snapshot == batch across interleaved
  * micro-batches).
  */
object StreamingEmbedDrift {

  /** Continuously-maintained per-dimension (dim, n, s, ss) moment
    * registers over a vector stream. Run with
    * `outputMode("complete")`; feed any snapshot to
    * [[EvalMetrics.fdFromMoments]] (or [[driftAgainst]]) for the
    * drift score.
    *
    * DELEGATES to [[EvalMetrics.vecMoments]] — the batch expression
    * chain (quantize → posexplode → one keyed agg, with the
    * null-element guard) is stream-legal, and sharing it is what
    * guarantees stream snapshots and batch moment frames stay
    * merge-compatible (the gramRegisters
    * one-key-function/two-execution-modes discipline). */
  def momentStream(vectors: DataFrame, vecCol: String,
      scale: Int = 1024): DataFrame =
    EvalMetrics.vecMoments(vectors, vecCol, scale)

  /** Freeze a reference corpus's moments at `path` (overwrites):
    * (dim, n, s, ss, scale) — the quantization scale rides along so a
    * later [[driftAgainst]] at a different scale fails fast instead
    * of silently comparing registers quantized in different units. */
  def writeReferenceMoments(corpus: DataFrame, vecCol: String,
      path: String, scale: Int = 1024): Unit =
    EvalMetrics.vecMoments(corpus, vecCol, scale)
      .withColumn("scale", lit(scale))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Drift of a live moments snapshot (any [[momentStream]] state, or
    * any [[EvalMetrics.vecMoments]] frame) against the frozen
    * reference at `path`: one row, the [[EvalMetrics.embedFrechetDiag]]
    * output contract — snapshot is side A, reference side B. Fails
    * fast when `scale` does not match the reference's persisted one. */
  def driftAgainst(spark: SparkSession, snapshot: DataFrame,
      refPath: String, scale: Int = 1024): DataFrame = {
    val ref = graft.Tables.parquet(spark, refPath)
    // headOption, not head(): an EMPTY reference table (frozen from an
    // all-null-vector corpus, or a partially-written dir) must fail as
    // a named contract error, not an opaque NoSuchElementException
    // (r15 advice)
    val storedScale = ref.select("scale").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"reference moments at $refPath are empty — not a frozen " +
          "vecMoments table (freeze one with writeReferenceMoments " +
          "over a corpus with at least one non-null vector)"))
      .getInt(0)
    require(storedScale == scale,
      s"snapshot quantized at scale=$scale but the reference at " +
        s"$refPath was frozen at scale=$storedScale — the moment " +
        "registers are in different units; rebuild one side")
    EvalMetrics.fdFromMoments(snapshot, ref.drop("scale"), scale)
  }
}
