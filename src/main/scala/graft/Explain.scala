package graft

/** Plan-inspection utility: `runMain graft.Explain <sfDir> [query...]`
  * prints the formatted physical plan per query (checking pushdown /
  * broadcast / codegen spans) under the engine configuration every other
  * entry point runs. To time queries use `tools.QueryBench`; for the
  * minhash pipeline's per-stage costs use `tools.MinhashPhaseBench`.
  *
  * Caveat for the EAGER queries (q_minhash_pairs and the CC/PageRank
  * compositions): building the frame materializes the pipeline
  * (localCheckpoint), so plan mode pays the full run at the requested
  * SF and prints only the post-materialization checkpoint scan. Run
  * plan mode for those queries at sf0.001.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <sfDir> [query...]")
    val sfDir = args(0)
    val names = if (args.length > 1) args.tail.toSeq else Seq("q1_agg")
    val spark = GraftSession.local(8, "graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
