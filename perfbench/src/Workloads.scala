package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Cpd, DedupIndex, FeatureEngineering, TelemetryTransform}
import graft.sources.{ExportSink, TelemetryCsv}

/** What a workload needs from the harness during one iteration. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File) {
  var checks = 0
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  /** An output check; a false one counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += s"iteration ${tracer.iteration}: $what"
  }

  /** Releases what the calls of one operation left cached, outside its
    * span — as graft's own bench does between queries. */
  def release(): Unit = {
    spark.catalog.clearCache()
    Caches.clear()
  }
}

/** The summary one workload reports from its untraced iterations. */
final case class Summary(itemsPerS: Double, cycleP50S: Double, storedBytesRatio: Double,
    detail: Map[String, Any])

trait Workload {
  def name: String
  /** Writes this workload's seeded input files under `dir`. */
  def generate(seed: Long, dir: File): Unit
  /** Set-up that needs the session, after [[generate]]. */
  def prepare(spark: SparkSession, dir: File): Unit = ()
  /** One iteration, its calls wrapped in spans. */
  def iterate(ctx: Ctx, dir: File): Unit
  /** Names of the spans that time one call: each is one attempted
    * operation. */
  def spanNames: Seq[String]
  /** Spans that get the 10 layer metrics in a traced run. */
  def layerSpans: Seq[String] = spanNames
  /** Set-up rounds after the first, cold one; `setup_s` is their median. */
  def setupRounds: Int = 10
  def summarize(spans: Seq[Span]): Summary
}

object Workload {
  val all: Seq[Workload] = Seq(Pipeline, EdaMix, IndexIngest)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def walls(spans: Seq[Span], name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.wallS)

  def timing(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val (q1, q3) = Stats.quartiles(xs)
      Map("p50" -> Stats.median(xs), "q1" -> q1, "q3" -> q3, "n" -> xs.size)
    }
}

/** The paper's batch chain, CSV to candidate events, one call per stage. */
object Pipeline extends Workload {
  val name = "pipeline"
  val devices = 8
  val days = 2
  val secondsPerDay = 1800
  val spanNames = Seq("ingest", "transform", "features", "cpd", "load_checks")

  private var input: Inputs.Telemetry = _
  private var reference: String = _

  def generate(seed: Long, dir: File): Unit =
    input = Inputs.telemetry(seed, new File(dir, "telemetry.csv"), devices, days,
      secondsPerDay)

  def iterate(ctx: Ctx, dir: File): Unit = {
    import ctx.{spark, tracer => tr}
    val out = new File(ctx.work, "pipeline")
    Workload.deleteTree(out)
    def p(sub: String) = new File(out, sub).getPath
    val csv = new File(dir, "telemetry.csv").getPath
    tr.span("iteration") {
      tr.span("ingest") {
        TelemetryCsv.bronzeSink(TelemetryCsv.read(spark, csv), p("bronze"))
      }
      tr.span("transform") {
        TelemetryTransform.transform(spark.read.parquet(p("bronze")))
          .write.mode("overwrite").parquet(p("silver"))
      }
      tr.span("features") {
        ExportSink.goldParquet(FeatureEngineering.features(
          spark.read.parquet(p("silver")), FeatureEngineering.zonesDf(spark)), p("gold"))
      }
      tr.span("cpd") {
        ExportSink.candidatesCsv(Cpd.candidateEvents(spark.read.parquet(p("gold"))).toDF(),
          p("candidates"))
      }
      ctx.release()
      val chk = tr.span("load_checks") {
        ExportSink.candidateLoadChecks(candidates(spark, p("candidates"))).head()
      }
      ctx.check(chk.getAs[Long]("n_rows") == chk.getAs[Long]("n_distinct_hashes"),
        s"candidate hashes not unique: $chk")
      ctx.check(chk.getAs[Long]("n_null_critical") == 0, s"null critical columns: $chk")
    }
    // untimed output checks
    val rows = candidates(spark, p("candidates")).collect()
    val digest = Workload.sha256(rows.map(r =>
      s"${r.getString(0)},${r.getTimestamp(1).getTime},${r.getString(2)}").toSeq)
    if (reference == null) reference = digest
    ctx.check(digest == reference, s"candidate set digest $digest != $reference")
    val byDevice = rows.groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(_.getTimestamp(1).getTime / 1000) }
    val missed = input.steps.filterNot(s => byDevice.getOrElse(s.deviceId, Array.empty[Long])
      .exists(t => math.abs(t - s.epochSec) <= 10))
    ctx.check(missed.isEmpty, s"${missed.size} of ${input.steps.size} planted load " +
      s"steps have no candidate within 10 s, first ${missed.take(3)}")
    lastStored = Seq("bronze", "silver", "gold", "candidates")
      .map(s => Workload.bytes(new File(out, s))).sum.toDouble / input.bytes
    lastCandidates = rows.length
  }

  private var lastStored = 0.0
  private var lastCandidates = 0

  private def candidates(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.schema.Schemas.candidateEvents).option("header", "true")
      .csv(dir)

  def summarize(spans: Seq[Span]): Summary = {
    val iters = Workload.walls(spans, "iteration")
    val p50 = Stats.median(iters)
    Summary(input.rows / p50, p50, lastStored, Map(
      "input_rows" -> input.rows,
      "csv_bytes" -> input.bytes,
      "rows_per_s" -> input.rows / p50,
      "stored_bytes_ratio" -> lastStored,
      "candidates" -> lastCandidates,
      "planted_load_steps" -> input.steps.size,
      "iteration_s" -> Workload.timing(iters)) ++
      spanNames.map(s => s"${s}_s" -> Workload.timing(Workload.walls(spans, s))))
  }
}

/** The reference's STEP-3 style of analytics, bound by per-query
  * overhead: a pass runs 6 of the driver queries over seeded
  * TPC-H-shaped tables, each to the `noop` sink, in an order the seed
  * permutes per pass. The queries cover grouped aggregation, an
  * interval join, a window, graft's as-of join and gap filling, and an
  * aggregate-filtered semi-join. */
object EdaMix extends Workload {
  val name = "eda_mix"
  val queryNames = Seq("q1_agg", "q_interval_join", "q_window_lag", "q_asof",
    "q_gap_fill", "q_tpch_q18")
  val spanNames = queryNames.map(q => s"query.$q")
  override val layerSpans = Seq("queries")
  // half the query testdata's sf0.01 tables; events as at sf0.01
  val customers = 750
  val orders = 7500
  val lineitems = 30000
  val events = 10000
  // each set-up round stores four tables through the session
  override val setupRounds = 5

  private var seed = 0L
  private var tables: Inputs.TableSet = _
  private var stored = 0.0
  /** Row count and digest of each query's result in the first pass. */
  private val reference = scala.collection.mutable.Map[String, (Long, Long)]()

  def generate(seed: Long, dir: File): Unit = {
    this.seed = seed
    tables = Inputs.tables(seed, new File(dir, "text"), customers, orders, lineitems, events)
  }

  /** The queries read parquet: each text table is stored through the
    * session as `tables/<name>.parquet`, the tables concurrently. */
  override def prepare(spark: SparkSession, dir: File): Unit = {
    import scala.collection.parallel.CollectionConverters._
    Inputs.tableSchemas.par.foreach { case (t, ddl) =>
      spark.read.schema(ddl).option("sep", "\t").option("quote", "\u0000")
        .option("timestampFormat", Inputs.tableTimestampFormat)
        .csv(new File(dir, s"text/$t.tsv").getPath)
        .write.mode("overwrite").parquet(new File(dir, s"tables/$t.parquet").getPath)
    }
    stored = Workload.bytes(new File(dir, "tables")).toDouble / tables.textBytes
  }

  def iterate(ctx: Ctx, dir: File): Unit = {
    import ctx.{spark, tracer => tr}
    val data = new File(dir, "tables").getPath
    val order = new scala.util.Random(seed * 1000003L + tr.iteration).shuffle(queryNames)
    val results = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    tr.span("iteration") {
      tr.span("queries") {
        order.foreach { q =>
          // row count and order-insensitive digest, gathered in the same
          // execution as the noop write
          val obs = new Observation()
          tr.span(s"query.$q") {
            val df = graft.SparkEntry.queries(q)(spark, data)
            val cols = df.columns.map(c => col(s"`$c`"))
            df.observe(obs, count(lit(1)).as("n"),
              coalesce(sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1L << 40))), lit(0L))
                .as("h"))
              .write.format("noop").mode("overwrite").save()
          }
          val m = obs.get
          results += ((q, m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
          ctx.release()
        }
      }
    }
    results.foreach { case (q, n, h) =>
      ctx.check(n > 0, s"$q returned no rows")
      val ref = reference.getOrElseUpdate(q, (n, h))
      ctx.check(ref == ((n, h)), s"$q rows/digest ($n, $h) != first pass $ref")
    }
  }

  def summarize(spans: Seq[Span]): Summary = {
    val queryWalls = spans.filter(_.name.startsWith("query.")).map(_.wallS)
    val passP50 = Stats.median(Workload.walls(spans, "iteration"))
    val queryP50 = Stats.median(queryWalls)
    // every query weighs the same: the geometric mean of each query's
    // median wall (the median over the mixed walls jumps between queries)
    val perQuery = spanNames.map(s => Stats.median(Workload.walls(spans, s)))
    val queryGeoMean = math.exp(perQuery.map(math.log).sum / perQuery.size)
    // the highest whole percentile with at least 10 samples beyond it
    val n = queryWalls.size
    val tailPct = math.floor(100.0 * (n - 10) / n).toInt
    val tail = if (tailPct < 50) Map("query_tail_percentile" -> null, "query_tail_s" -> null)
      else Map("query_tail_percentile" -> tailPct, "query_tail_s" ->
        queryWalls.sorted.apply(math.ceil(tailPct / 100.0 * n).toInt - 1))
    Summary(1 / queryGeoMean, passP50, stored, Map(
      "tables" -> tables.rows,
      "text_bytes" -> tables.textBytes,
      "queries_per_s" -> queryNames.size / passP50,
      "query_p50_s" -> queryP50,
      "query_geomean_s" -> queryGeoMean,
      "query_samples" -> n,
      "stored_bytes_ratio" -> stored,
      "pass_s" -> Workload.timing(Workload.walls(spans, "iteration"))) ++ tail ++
      spanNames.map(s => s"${s}_s" -> Workload.timing(Workload.walls(spans, s))))
  }
}

/** The persisted dedup index serving an ingest: build over a base corpus,
  * then per crawl batch a probe, dropping every batch document with a
  * pair, and an append of the rest; compaction closes the cycle. */
object IndexIngest extends Workload {
  val name = "index_ingest"
  val baseDocs = 4000
  val batches = 2
  val batchDocs = 500
  /** Floor on planted near-duplicates caught: the word-3-shingle Jaccard
    * of a copy with 5% of its words replaced sits near 0.75, where the
    * index's 8x4 banding catches a pair with probability about 0.9. */
  val recallBound = 0.8
  val spanNames = Seq("build", "probe", "append", "compact")

  private var corpus: Inputs.Corpus = _
  private var reference: String = _
  private var lastRecall = 0.0
  private var lastStored = 0.0
  private var lastFalsePairs = 0

  def generate(seed: Long, dir: File): Unit =
    corpus = Inputs.corpus(seed, new File(dir, "corpus"), baseDocs, batches, batchDocs)

  private def docs(spark: SparkSession, f: File): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t")
      .option("quote", "\u0000").csv(f.getPath)

  def iterate(ctx: Ctx, dir: File): Unit = {
    import ctx.{spark, tracer => tr}
    val path = new File(ctx.work, "index")
    Workload.deleteTree(path)
    val pairs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    tr.span("iteration") {
      tr.span("build") {
        DedupIndex.build(docs(spark, new File(dir, "corpus/base.tsv")), "doc_id", "text",
          path.getPath)
      }
      ctx.release()
      for (b <- 0 until batches) {
        val batch = docs(spark, new File(dir, s"corpus/batch-$b.tsv"))
        val hits = tr.span("probe") {
          DedupIndex.probe(spark, path.getPath, batch, "doc_id", "text")
            .select("id", "batch_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ctx.release()
        pairs ++= hits
        val dropped = hits.map(_._2).distinct.toSeq
        tr.span("append") {
          DedupIndex.append(batch.where(!col("doc_id").isin(dropped: _*)), "doc_id",
            "text", path.getPath)
        }
        ctx.release()
      }
      tr.span("compact") { DedupIndex.compact(spark, path.getPath) }
      ctx.release()
    }
    val digest = Workload.sha256(pairs.map { case (a, b) => s"$a,$b" }.toSeq)
    if (reference == null) reference = digest
    ctx.check(digest == reference, s"probe pair digest $digest != $reference")
    val flagged = pairs.map(_._2).toSet
    val planted = corpus.planted.toSet
    lastRecall = corpus.planted.count(flagged).toDouble / corpus.planted.size
    lastFalsePairs = flagged.count(id => !planted(id))
    ctx.check(lastRecall >= recallBound,
      f"planted recall $lastRecall%.4f below $recallBound")
    lastStored = Workload.bytes(path).toDouble / corpus.textBytes
  }

  def recall: Double = lastRecall

  def summarize(spans: Seq[Span]): Summary = {
    val batchWalls = spans.filter(_.name == "probe").zip(spans.filter(_.name == "append"))
      .map { case (p, a) => p.wallS + a.wallS }
    val ingestS = Stats.median(batchWalls)
    Summary(batchDocs / ingestS, Stats.median(Workload.walls(spans, "iteration")),
      lastStored, Map(
        "base_docs" -> baseDocs,
        "batch_docs" -> batchDocs,
        "batches" -> batches,
        // batches this small take the broadcast probe plan; the keyed
        // plan for backfill-sized batches is not exercised
        "probe_plan" -> (if (batchDocs <= DedupIndex.MaxBroadcastBatchDefault)
          "broadcast (keyed plan bypassed)" else "keyed"),
        "planted" -> corpus.planted.size,
        "docs_per_s" -> batchDocs / ingestS,
        "stored_bytes_ratio" -> lastStored,
        "planted_recall" -> lastRecall,
        "unplanted_flagged" -> lastFalsePairs,
        "iteration_s" -> Workload.timing(Workload.walls(spans, "iteration"))) ++
        spanNames.map(s => s"${s}_s" -> Workload.timing(Workload.walls(spans, s))))
  }
}
