package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.Cpd

/** Streaming change-point detection: the batch CPD stage wired behind a
  * Structured Streaming source via `foreachBatch`.
  *
  * CPD is inherently windowed-batch (PELT needs the whole device-day
  * signal), so the streaming form is micro-batch re-analysis: each trigger
  * runs the UNCHANGED batch operator (`Cpd.candidateEvents`) over the new
  * feature rows and appends candidates to the sink — the same
  * batch/stream code-sharing pattern as the silver transform
  * ([[StreamingIngest]]). Late data is bounded by the upstream watermark;
  * idempotency downstream comes from the candidate hash id, exactly like
  * the reference's truncate-and-load / hash-keyed loader semantics
  * (`05_load_candidates_to_db.py`).
  */
object StreamingCpd {

  /** Wrap a streaming feature DataFrame into a candidate-appending writer.
    * Caller picks the trigger and starts it with `.start()` after picking
    * a sink via `sink`.
    */
  def candidateWriter(features: DataFrame, cfg: Cpd.Config = Cpd.Config())(
      sink: (Dataset[Cpd.Candidate], Long) => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    features.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // scoped release: candidateEvents persistTracks its 7-column
        // projection internally; batch callers sweep it with
        // Caches.clear() between queries, but a stream's foreachBatch
        // never reaches such a point — without the scope one cached
        // frame would accumulate PER TRIGGER, unbounded memory/disk
        // growth on a long-running stream. The sink's action runs
        // inside the scope, so the cache is live exactly while the
        // batch consumes it and released the moment the trigger ends.
        graft.operators.Caches.scoped {
          sink(Cpd.candidateEvents(batch, cfg), batchId)
        }
      }
  }
}
