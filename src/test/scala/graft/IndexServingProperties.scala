package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{AnnIndex, DedupIndex}

/** Randomized serving-interleaving properties (r16 verdict stretch):
  * the snapshot-isolation specs pin hand-picked crash/race states;
  * these pin the CONTRACT — for a random schedule of maintenance verbs
  * in the serving configuration (`retainRetired = true`,
  * vacuum grace ≥ every probe in the run), a probe frame PLANNED at
  * any point and COLLECTED only after the whole schedule has executed
  * must return exactly what it returned when collected immediately at
  * its plan point (the sequential execution). Single-threaded by
  * design: maintenance verbs serialize with each other and with
  * appends by contract — PROBES are the lock-free party, and deferring
  * every probe's execution past arbitrary subsequent maintenance is
  * precisely the freedom the contract grants. */
object IndexServingProperties
    extends Properties("graft.indexServing") {
  import SparkTestSession._

  // each case builds an index and runs real Spark jobs — a handful of
  // random schedules per property is the budget (the hand-picked
  // states stay in the example specs)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4).withWorkers(1)

  private lazy val docs = graft.Tables.documents(spark, sf)
    .select("doc_id", "text").where(col("text").isNotNull)
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** append | full compact | tiered compact | vacuum(grace) | probe —
    * probes weighted up so most schedules carry at least one. */
  private sealed trait Op
  private case object Append extends Op
  private case object Compact extends Op
  private case object Tiered extends Op
  private case object Vacuum extends Op
  private case object Probe extends Op

  private def schedule(extra: Seq[(Int, Op)] = Nil): Gen[List[Op]] =
    Gen.listOfN(5, Gen.frequency(
      (Seq(3 -> (Append: Op), 2 -> (Compact: Op), 2 -> (Tiered: Op),
        2 -> (Vacuum: Op), 4 -> (Probe: Op)) ++ extra)
        .map { case (w, op) => (w, Gen.const(op)) }: _*))

  property("dedup: probes planned anywhere in a random append/compact/" +
      "vacuum schedule equal their sequential execution") =
    forAll(schedule()) { ops =>
      val path = tmp("dedup_serving_prop")
      try {
        DedupIndex.build(docs.where(col("doc_id") % 8 === 0),
          "doc_id", "text", path)
        val batch = docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" crawl extra tail")).as("text"))
        def rows(df: DataFrame): Seq[String] =
          df.select(col("id"), col("batch_id"),
              round(col("jaccard"), 9).as("j"))
            .collect().map(_.toString).sorted.toSeq
        var slice = 1
        val pending =
          scala.collection.mutable.ListBuffer[(DataFrame, Seq[String])]()
        ops.foreach {
          case Append =>
            if (slice < 8) {
              DedupIndex.append(docs.where(col("doc_id") % 8 === slice),
                "doc_id", "text", path)
              slice += 1
            }
          case Compact =>
            DedupIndex.compact(spark, path, retainRetired = true)
          case Tiered =>
            DedupIndex.compact(spark, path,
              maxEpochBytes = 512L * 1024, retainRetired = true)
          case Vacuum =>
            DedupIndex.vacuum(spark, path, olderThanMillis = 3600000L)
          case Probe =>
            val f = DedupIndex.probe(spark, path, batch,
              "doc_id", "text", threshold = 0.5)
            pending += ((f, rows(f))) // immediate collect = sequential
        }
        pending.forall { case (f, truth) => rows(f) == truth }
      } finally graft.queries.DocFixtures.deleteRecursively(
        new java.io.File(path))
    }

  /** The ANN alphabet adds RETRAIN — the verb that swaps the whole
    * generation under the probe's feet (pointer-rename commit). */
  private case object Retrain extends Op

  property("ann: probes planned anywhere in a random append/compact/" +
      "retrain/vacuum schedule equal their sequential execution") =
    forAll(schedule(extra = Seq(2 -> (Retrain: Op)))) { ops =>
      val path = tmp("ann_serving_prop")
      try {
        AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
          "vec_id", "embedding", path, nlist = 8)
        val queries = emb.where(col("vec_id") < 5)
        def rows(df: DataFrame): Seq[String] =
          df.collect().map(_.toString).sorted.toSeq
        var slice = 1
        val pending =
          scala.collection.mutable.ListBuffer[(DataFrame, Seq[String])]()
        ops.foreach {
          case Append =>
            if (slice < 8) {
              // fresh ids per slice — append is id-blind by contract
              AnnIndex.append(
                emb.where(col("vec_id") % 8 === slice)
                  .select((col("vec_id") + 100000L * slice)
                    .as("vec_id"), col("embedding")),
                "vec_id", "embedding", path)
              slice += 1
            }
          case Compact =>
            AnnIndex.compact(spark, path, retainRetired = true)
          case Tiered =>
            AnnIndex.compact(spark, path,
              maxEpochBytes = 256L * 1024, retainRetired = true)
          case Retrain =>
            AnnIndex.retrain(spark, path, nlist = 8,
              retainRetired = true)
          case Vacuum =>
            AnnIndex.vacuum(spark, path, olderThanMillis = 3600000L)
          case Probe =>
            val f = AnnIndex.probe(spark, path, queries,
              "vec_id", "embedding", k = 10, nprobe = 4)
            pending += ((f, rows(f))) // immediate collect = sequential
        }
        pending.forall { case (f, truth) => rows(f) == truth }
      } finally graft.queries.DocFixtures.deleteRecursively(
        new java.io.File(path))
    }
}
