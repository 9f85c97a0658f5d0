package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Events-side twin of [[ScaleBench]]: the round-10 analytics family
  * (EWMA, funnel, retention, Markov, KS/PSI drift, changelog apply,
  * Z-order) reads the EVENTS table, which the documents-scaling
  * harness never grows. Synthesize a ~`copies`× events corpus by
  * cloning the user population (each copy's users get fresh ids, so
  * per-user series/sessions/cohorts multiply while per-user depth
  * stays fixed — the fleet-grows shape, which is how an events corpus
  * actually scales) and re-time the family at both scales.
  *
  * Caveat (r10 advice): cloned ids are `user_id + k·10⁶`, so
  * MODULO-DERIVED keys don't widen the way user-keyed ones do. For
  * m | 10⁶ (q_ewma's dev = user_id % 20) the residue is PRESERVED and
  * per-group rows densify ~`copies`×; for m ∤ 10⁶ (the lat
  * derivation's % 150: 10⁶ mod 150 = 100, orbit {0, 100, 50}) each
  * base residue spreads over gcd-determined shifts, so per-group rows
  * grow ~`copies`/3× — still densification, just 3× weaker. Either
  * way these queries measure the deeper-series shape (an upper bound
  * on per-task state only for the m | 10⁶ keys); the user-keyed
  * queries (funnel/retention/Markov/KS/PSI) get the intended
  * fleet-grows shape. Timings remain fair in all cases.
  *
  * Run: sbt "Test/runMain graft.tools.EventsScaleBench [copies] [reps]"
  */
object EventsScaleBench {
  private val BaseDir = "/root/testdata/sf0.1"
  private val ScaledRoot = "/tmp/graft_scale_events"

  private val Queries = sys.env.get("EVENTS_SCALEBENCH_QUERIES")
    .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    .getOrElse(Seq(
      "q_ewma", "q_funnel", "q_retention", "q_markov",
      "q_ks_drift", "q_psi_drift", "q_changelog_apply",
      "q_zorder_layout", "q_zorder_pruning",
      // r11 additions on the events table
      "q_skew_join", "q_hist_quantiles", "q_hh_groups",
      "q_hilbert_layout", "q_hilbert_pruning", "q_sessionize"))

  def synthesize(spark: SparkSession, copies: Int): String = {
    val dir = s"$ScaledRoot/x$copies"
    val marker = new java.io.File(s"$dir/events.parquet/_SUCCESS")
    if (marker.exists()) return dir
    val base = graft.Tables.events(spark, BaseDir)
    // ts rides as epoch-nanos LONG like the driver-generated base
    // parquet, so the scaled run pays the same per-row
    // long->timestamp conversion in Tables.events as the 1x run —
    // a native-timestamp copy would measure a cheaper read path and
    // bias the ratio downward (review finding r10)
    val scaled = base
      .crossJoin(spark.range(copies).select(col("id").cast("int").as("_k")))
      .select(
        (col("event_id") + col("_k").cast("long") * 10000000000L)
          .as("event_id"),
        (unix_micros(col("ts")) * 1000L).as("ts"),
        (col("user_id") + col("_k").cast("long") * 1000000L)
          .as("user_id"),
        col("event_type"), col("value"), col("props"))
    scaled.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    dir
  }

  private def time(q: (SparkSession, String) => DataFrame,
      spark: SparkSession, dir: String, reps: Int): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.operators.Caches.clear()
      sec
    }.min

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(32, "graft-events-scalebench")
    val scaledDir = synthesize(spark, copies)
    val qs = graft.SparkEntry.queries
    println(s"| query | sf0.1 (s) | ${copies}x (s) | ratio | verdict |")
    println("|---|---|---|---|---|")
    Queries.filter(qs.contains).foreach { name =>
      try {
        val base = time(qs(name), spark, BaseDir, reps)
        val scaled = time(qs(name), spark, scaledDir, reps)
        val ratio = scaled / base
        val verdict =
          if (ratio <= copies * 1.5) "linear-ok" else "SUPERLINEAR"
        println(f"| $name | $base%.2f | $scaled%.2f | ${ratio}%.1fx | $verdict |")
      } catch {
        case e: Throwable =>
          println(s"| $name | ERR | ERR | - | ${e.toString.take(60)} |")
      }
    }
    spark.stop()
  }
}
