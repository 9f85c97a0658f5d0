package graft.tools

/** Standalone runner for [[ScaleBench.boundaryRecall]] — the SemDedup
  * boundary-pair recall/cost table without the full 10× sweep.
  * Run: sbt "Test/runMain graft.tools.SemDedupRecallBench [ks] [probes]"
  * (both comma-separated; defaults 4,8,16,32 and 1,2). */
object SemDedupRecallBench {
  def main(args: Array[String]): Unit = {
    val ks = args.headOption.map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(4, 8, 16, 32))
    val probes = args.drop(1).headOption
      .map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 2))
    val spark = graft.GraftSession.local(32, "graft-semdedup-recall")
    ScaleBench.boundaryRecall(spark, ks, probes)
    spark.stop()
  }
}
