package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up validation (VERDICT r9 next-2): synthesize a
  * ~`COPIES`× documents corpus from sf0.1 by duplicate+perturb, run the
  * slowest extra queries at both scales, and report the per-query
  * time ratio. A design that "would survive 100 TB" must scale ≲
  * linearly here (ratio ≤ ~1.5× the copy factor on a fixed 32-core
  * box); anything super-linear is a real scale bug.
  *
  * Perturbation: ~30% of each copy's words get a copy-specific suffix,
  * so copies of the same document are NOT near-duplicates of each other
  * (word-shingle Jaccard ≈ (0.7)³ ≈ 0.34 < threshold) — the near-dup
  * graph grows ~linearly with the corpus instead of quadratically by
  * construction, vocabulary grows sub-linearly (real-corpus shape), and
  * the planted docsWithDups exact/near copies still fire per copy.
  *
  * Run: sbt "Test/runMain graft.tools.ScaleBench [copies] [reps]"
  * Writes markdown rows to stdout; paste into SCALING.md.
  */
object ScaleBench {
  private val BaseDir = "/root/testdata/sf0.1"
  private val ScaledRoot = "/tmp/graft_scale"

  private val SlowQueries = sys.env.get("SCALEBENCH_QUERIES")
    .map(_.split(",").toSeq)
    .getOrElse(Seq(
      "q_pagerank", "q_dedup_canonical", "q_dedup_clusters",
      "q_minhash_pairs", "q_kn5_logprob", "q_ccnet_bands",
      "q_bpe_pairs", "q_bpe_encode", "q_bpe_roundtrip",
      "q_containment", "q_exact_substr", "q_train_examples",
      "q_hll_groups",
      // late-r11 additions; the scaled dir now carries a synthesized
      // embeddings table too ([[synthesizeEmbeddings]]), so the
      // MIPS/bitext family sweeps by default (events-keyed queries
      // still go through EventsScaleBench)
      "q_keyword_tags", "q_url_canonical", "q_mips", "q_mips_alsh",
      "q_mips_alsh_planned",
      "q_bitext_banded", "q_bitext_planned", "q_dpo_pairs", "q_mmr",
      "q_bt_rank",
      "q_label_prop", "q_kanon", "q_kanon_rows", "q_dedup_index_probe",
      "q_curriculum", "q_cluster_balance", "q_semdedup",
      // r13 additions: the planned-k semdedup recounts the scaled
      // corpus (k grows 10x), distinct-n is corpus-proportional,
      // chrF/CER are pair-bounded (the 200-pair stratum is fixed —
      // flat ratios expected, the q_ranking_metrics shape)
      "q_semdedup_planned", "q_chrf", "q_cer", "q_distinct_ngrams",
      "q_token_f1", "q_log_bleu",
      // r14 additions: the approx twin must show the exact form's
      // supra-linear-vocab ratio collapsing toward linear (bounded
      // register state); rouge-l is pair-bounded (flat expected);
      // the migrate cycle is the probe cycle + pure file moves
      "q_distinct_ngrams_approx", "q_rouge_l", "q_rouge_2",
      "q_dedup_index_migrate", "q_semdedup_probe2", "q_embed_fd",
      // r15 additions: the planned 2-probe plan should hold the
      // single-probe planned ratio (~3.4x) now that the planner
      // scales k by probeCells; rouge-lsum is pair-bounded (flat);
      // the compact cycle is the probe cycle + one bounded rewrite
      "q_semdedup_probe2_planned", "q_rouge_lsum",
      "q_dedup_index_compact"))

  def synthesize(spark: SparkSession, copies: Int): String = {
    val dir = s"$ScaledRoot/x$copies"
    synthesizeEmbeddings(spark, copies, dir)
    val marker = new java.io.File(s"$dir/documents.parquet/_SUCCESS")
    if (marker.exists()) return dir
    val base = spark.read.parquet(s"$BaseDir/documents.parquet")
    val scaled = base
      .crossJoin(spark.range(copies).select(col("id").cast("int").as("_k")))
      .select(
        (col("doc_id") + col("_k").cast("long") * 1000000L).as("doc_id"),
        when(col("_k") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => when(pmod(xxhash64(w, col("_k")), lit(10)) < 3,
              concat(w, lit("v"), col("_k").cast("string")))
              .otherwise(w)), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    scaled.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  /** Embeddings twin of the documents synthesis (r11, for the
    * MIPS/bitext family): copies offset vec_id by k·10⁶ and perturb
    * every component with a deterministic hash-derived ±5·10⁻⁴ jitter,
    * so copies are distinct vectors with the same distribution (no
    * artificial duplicate cliques) while labels keep their shape. */
  private def synthesizeEmbeddings(spark: SparkSession, copies: Int,
      dir: String): Unit = {
    val marker = new java.io.File(s"$dir/embeddings.parquet/_SUCCESS")
    if (marker.exists()) return
    val base = spark.read.parquet(s"$BaseDir/embeddings.parquet")
    val scaled = base
      .crossJoin(spark.range(copies).select(col("id").cast("int").as("_k")))
      .select(
        (col("vec_id") + col("_k").cast("long") * 1000000L).as("vec_id"),
        when(col("_k") === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => x +
              (pmod(xxhash64(col("vec_id"), col("_k"), j), lit(1000))
                .cast("double") / 1e6 - 0.0005)))
          .cast("array<float>").as("embedding"),
        col("label"))
    scaled.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  // NOTE: the bitext scale evidence is q_bitext_banded, not
  // q_bitext_mine — the driver's exact query is an A × broadcast B
  // brute-force truth (quadratic by definition), mirroring how
  // q_ann_lsh rather than q_ann_cosine carries the ANN scale evidence.

  private def time(q: (SparkSession, String) => DataFrame,
      spark: SparkSession, dir: String, reps: Int): Double = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.operators.Caches.clear()
      sec
    }
    runs.min
  }

  /** Targeted growth sweeps (r11 verdict item 6): two operators whose
    * scale axis is NOT corpus rows — Bradley–Terry's work lives in
    * MATCHES (the driver query pins 120 docs and a ±4 pairing window),
    * k-anonymity's in GROUP COUNT with sizes at the k boundary (the
    * driver corpus's organic QI groups grow in SIZE at 10×, which
    * leaves the window per-group work constant) — so grow exactly that
    * axis and report the usual ratio rows. */
  private def grownSweeps(spark: SparkSession, scaledDir: String,
      copies: Int, reps: Int): Unit = {
    import graft.functions.TextFunctions

    // BT with the pairing window as the match-count dial: window w
    // mints ~120·w matches over the fixed 120-doc item set
    def bt(window: Long)(s: SparkSession, dir: String): DataFrame = {
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 120 && col("text").isNotNull)
        .select(col("doc_id"),
          TextFunctions.prefScore(col("text")).as("score"))
      val a = scored.select(col("doc_id").as("a_id"),
        col("score").as("a_score"))
      val b = scored.select(col("doc_id").as("b_id"),
        col("score").as("b_score"))
      val m = a.join(b,
          col("b_id") > col("a_id") && col("b_id") <= col("a_id") + window)
        .select(
          when(col("a_score") >= col("b_score"), col("a_id"))
            .otherwise(col("b_id")).as("winner"),
          when(col("a_score") >= col("b_score"), col("b_id"))
            .otherwise(col("a_id")).as("loser"))
      graft.operators.Graph.bradleyTerryQ6(m, "winner", "loser",
        iters = 5).orderBy("item")
    }

    // k-anonymity with every group AT the k boundary (cell = doc_id
    // div 5 → size-5 groups, block tails dip below k and suppress);
    // the scaled corpus multiplies GROUP COUNT, not group size
    def kanonBoundary(s: SparkSession, dir: String): DataFrame = {
      val qi = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") / 5).cast("long").as("cell"))
      graft.operators.Privacy.kAnonymize(qi,
        Seq("lang", "source", "cell"), k = 5L)
    }

    val btBase = time(bt(4), spark, BaseDir, reps)
    val btGrown = time(bt(4L * copies), spark, BaseDir, reps)
    val btRatio = btGrown / btBase
    println(f"| q_bt_rank[matches x$copies] | $btBase%.2f | $btGrown%.2f " +
      f"| ${btRatio}%.1fx | ${if (btRatio <= copies * 1.5) "linear-ok"
        else "SUPERLINEAR"} |")
    val kBase = time(kanonBoundary, spark, BaseDir, reps)
    val kGrown = time(kanonBoundary, spark, scaledDir, reps)
    val kRatio = kGrown / kBase
    println(f"| q_kanon_rows[k-boundary groups x$copies] | $kBase%.2f " +
      f"| $kGrown%.2f | ${kRatio}%.1fx | ${if (kRatio <= copies * 1.5)
        "linear-ok" else "SUPERLINEAR"} |")

    // backfill-sized probe: the batch IS the odd half of the corpus,
    // with the broadcast threshold forced to 1 so the KEYED fallback
    // carries the whole cycle (build + keyed probe) — the
    // DedupIndex.probe degrade path measured at its intended scale
    def probeBackfill(s: SparkSession, dir: String): DataFrame = {
      import graft.operators.DedupIndex
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").where(col("text").isNotNull)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_scale_didx_").toString
      try {
        DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text", tmp, bands = 16, rowsPerBand = 2)
        DedupIndex.probe(s, tmp, docs.where(col("doc_id") % 2 === 1)
            .select((col("doc_id") + 500000000L).as("doc_id"),
              col("text")),
          "doc_id", "text", threshold = 0.5, maxBroadcastBatch = 1)
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(tmp))
      }
    }
    val pBase = time(probeBackfill, spark, BaseDir, reps)
    val pGrown = time(probeBackfill, spark, scaledDir, reps)
    val pRatio = pGrown / pBase
    println(f"| q_dedup_index_probe[keyed backfill x$copies] | $pBase%.2f " +
      f"| $pGrown%.2f | ${pRatio}%.1fx | ${if (pRatio <= copies * 1.5)
        "linear-ok" else "SUPERLINEAR"} |")

    // SemDedup hot cell (r12 verdict item 1): HALF the scaled embedding
    // corpus collapses into ONE quantizer cell — the degenerate
    // semantic-dedup input. Same exact pair set both runs (the split is
    // exact); the row compares the unguarded plan (the whole m-row cell
    // on one join key = one straggler task) against the grid split at
    // cap 2048. Columns here are unguarded (s) | grid split (s) |
    // split/unguarded; guard-ok when the split does not LOSE time —
    // the win is straggler/OOM removal, with total work unchanged.
    def semdedupHot(cap: Long)(s: SparkSession, dir: String): DataFrame = {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // hot rows: base 8.0 on axis 0 + deterministic ±0.8/component
      // jitter → all assign together, but pairwise cosine ≈ 0.82 stays
      // below the 0.99 threshold (sparse pair graph — the cost is the
      // m² candidate JOIN, not the output)
      val skewed = emb.select(col("vec_id"),
        when(col("vec_id") % 2 === 0,
          transform(sequence(lit(0), lit(63)),
            j => when(j === 0, lit(8.0)).otherwise(lit(0.0)) +
              (pmod(xxhash64(col("vec_id"), j), lit(2001)).cast("double")
                - lit(1000.0)) * 0.0008))
          .otherwise(col("embedding").cast("array<double>"))
          .as("embedding"))
      val prior = s.conf.getOption("graft.semdedup.maxCellRows")
      s.conf.set("graft.semdedup.maxCellRows", cap.toString)
      // the cell probe (and so the plan choice) happens INSIDE
      // verdicts, before the finally resets the conf
      try graft.operators.SemDedup.verdicts(skewed, "vec_id",
        "embedding", k = 8, threshold = 0.99)
      finally prior match {
        case Some(p) => s.conf.set("graft.semdedup.maxCellRows", p)
        case None => s.conf.unset("graft.semdedup.maxCellRows")
      }
    }
    val sdUnguarded = time(semdedupHot(Long.MaxValue), spark, scaledDir, 1)
    val sdSplit = time(semdedupHot(2048L), spark, scaledDir, 1)
    val sdRatio = sdSplit / sdUnguarded
    println(f"| q_semdedup[hot cell x$copies: unguarded vs grid split] " +
      f"| $sdUnguarded%.2f | $sdSplit%.2f | ${sdRatio}%.2fx | " +
      f"${if (sdRatio <= 1.1) "guard-ok" else "GUARD-SLOWER"} |")

    boundaryRecall(spark)
  }

  /** SemDedup boundary-pair recall vs k, probeCells 1 vs 2 (r13
    * verdict #7): the documented cross-cell recall trade, measured.
    * Fixture: for every even base vector, plant a near-dup PAIR
    * sitting ON the midline between that vector and its successor —
    * a = 0.5002·u + 0.4998·w and b the mirror, so cos(a, b) ≈ 1 ≥
    * 0.99 while the pair straddles whatever cell boundary separates
    * u's and w's regions (more cells ⇒ more boundaries ⇒ more
    * straddles). Recall = fraction of planted pairs whose members
    * share a verdict component. Cost rides along so the 2-probe
    * recall gain is priced. */
  private[tools] def boundaryRecall(spark: SparkSession,
      ks: Seq[Int] = Seq(4, 8, 16, 32),
      probes: Seq[Int] = Seq(1, 2)): Unit = {
    val emb = spark.read.parquet(s"$BaseDir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    // partner = a DISTANT vector (i + 997 mod n), so the pair's
    // midpoint plausibly sits between two different cells' regions;
    // 0.53/0.47 mixing keeps cos(a, b) >= 0.9928 even for orthogonal
    // endpoints (a·b = 2·0.53·0.47, |a|² = 0.53² + 0.47² at equal
    // norms) while separating the members by 0.06·(u − w) — wide
    // enough for a cell boundary to pass between them
    val far = emb.select(
      ((col("vec_id") + 997) % 2000).as("vec_id"),
      col("embedding").as("w"))
    val mid = emb.where(col("vec_id") % 2 === 0)
      .join(far, Seq("vec_id"))
    def blend(a: Double, b: Double) =
      zip_with(col("embedding"), col("w"), (x, y) => x * a + y * b)
    val planted = mid.select((col("vec_id") + 20000000L).as("vec_id"),
        blend(0.53, 0.47).as("embedding"))
      .unionByName(mid.select((col("vec_id") + 30000000L).as("vec_id"),
        blend(0.47, 0.53).as("embedding")))
    val corpus = emb.unionByName(planted)
    val nPairs = mid.count()
    println(s"| semdedup boundary recall ($nPairs planted near-" +
      "boundary pairs) | k (straddle%) | " +
      probes.map(p => s"probeCells=$p").mkString(" | ") +
      " | recall gain |")
    ks.foreach { k =>
      // straddle% — the fraction of planted pairs whose members
      // ASSIGN to different cells: the population the single-cell
      // scan cannot examine directly
      val cs = graft.operators.KMeans.initCentroids(corpus, "vec_id",
        "embedding", k, 1024)
      val straddle = 100.0 * graft.operators.KMeans
        .assign(corpus.where(col("vec_id") >= 20000000L)
          .select(col("vec_id"), col("embedding").as("v")), "v", 1024, cs)
        .select((col("vec_id") % 10000000L).as("pid"), col("cluster"))
        .groupBy("pid").agg(countDistinct("cluster").as("nc"))
        .where(col("nc") > 1).count() / nPairs
      val r = probes.map { pc =>
        val t0 = System.nanoTime()
        val comp = graft.operators.SemDedup.verdicts(corpus, "vec_id",
            "embedding", k = k, threshold = 0.99, probeCells = pc)
          .select(col("vec_id"), col("component"))
        val caught = comp.where(col("vec_id") >= 20000000L)
          .select((col("vec_id") % 10000000L).as("pid"),
            col("component"))
          .groupBy("pid")
          .agg(countDistinct("component").as("nc"))
          .where(col("nc") === 1).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); graft.operators.Caches.clear()
        (100.0 * caught / nPairs, sec)
      }
      val cells = r.map { case (rec, sec) => f"$rec%.1f%% ($sec%.1f s)" }
        .mkString(" | ")
      println(f"| | k=$k ($straddle%.1f%%) | " + cells +
        f" | +${r.last._1 - r.head._1}%.1f pts |")
    }
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(32, "graft-scalebench")
    val scaledDir = synthesize(spark, copies)
    val qs = graft.SparkEntry.queries
    println(s"| query | sf0.1 (s) | ${copies}x (s) | ratio | verdict |")
    println("|---|---|---|---|---|")
    SlowQueries.filter(qs.contains).foreach { name =>
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
    try grownSweeps(spark, scaledDir, copies, reps)
    catch {
      case e: Throwable =>
        println(s"| grown-sweeps | ERR | ERR | - | ${e.toString.take(60)} |")
    }
    spark.stop()
  }
}
