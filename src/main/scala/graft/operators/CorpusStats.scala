package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Caches.Persisted

/** Corpus-profiling statistics for training-data curation: the vocabulary
  * frequency/coverage profile (the Zipf curve a tokenizer budget is sized
  * against) and adjacent-bigram pointwise mutual information (the
  * collocation signal used for phrase mining and embedding co-occurrence
  * prep, Church & Hanks 1990).
  *
  * Both are one-corpus-pass aggregations: token explode → keyed agg with
  * map-side combine; everything after runs on vocab-sized frames (top-k
  * via TakeOrderedAndProject, scalar totals carried in-plan as 1-row
  * broadcast crossJoins — never a driver round-trip).
  */
object CorpusStats {

  /** Top-`k` vocabulary with rank and cumulative corpus coverage:
    * (rank, word, freq, cum_frac). `cum_frac` is the fraction of ALL
    * running tokens covered by ranks 1..i — the Zipf coverage curve —
    * floor-quantized to 1e-6 for engine-exact comparison (cumulative and
    * total counts are exact integers; their double quotient is the same
    * IEEE value in any engine, and floor of identical doubles is exact).
    *
    * Plan shape: corpus-sized word agg → distributed top-k (
    * TakeOrderedAndProject, no global sort) → rank/cumsum window over the
    * k-row result partitioned on a constant non-foldable bucket (the
    * q_bm25 pattern: a foldable literal would be stripped by
    * EliminateWindowPartitions and trip the single-partition warning). */
  def vocabStats(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    // The vocab feeds two plan branches (top-k + the coverage total);
    // without the persist each branch re-runs the corpus-sized explode +
    // agg — an extra full corpus pass at scale. Registered with
    // [[Caches]]: consumers release via Caches.clear() after their
    // action (Bench does per query; StorageHygieneSpec gates it).
    val freq = Tokenizer.wordFreq(docs, textCol)
      .persistTracked
    val total = freq.agg(sum("freq").as("_total"))
    val top = freq.orderBy(col("freq").desc, col("word")).limit(k)
    val bucket = coalesce(substring(col("word"), 1, 0), lit(""))
    val w = Window.partitionBy(bucket)
      .orderBy(col("freq").desc, col("word"))
    val cum = Window.partitionBy(bucket)
      .orderBy(col("freq").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_frac",
        floor(sum(col("freq")).over(cum).cast("double") * 1000000 /
          col("_total")) / 1000000)
      .select("rank", "word", "freq", "cum_frac")
  }

  /** Per-document unigram log-probability — the cheap LM quality signal
    * of the CCNet-style filtering pipelines (Wenzek et al. 2020: docs are
    * binned by language-model perplexity; the unigram model is the
    * zero-dependency floor of that family). For each document:
    * `sum_q6` = Σ_tokens floor(ln(freq(tok)/N) · 1e6) and the per-token
    * mean `avg_logprob` = sum_q6 / (1e6 · n_tokens).
    *
    * Determinism is the point of the quantization: a float sum over an
    * unordered partition reduce is run-order-dependent, but the per-token
    * contributions are exact integers (ln of identical IEEE quotients,
    * floored), so their sum commutes and the emitted mean is the same
    * bits on every engine — the q_bm25 discipline.
    *
    * Overflow bound (KernelProperties, shared by the whole quantized
    * logprob family incl. KN): |cq| ≤ 43.8·10^6 for any representable
    * probability (ln 2^−63 ≈ −43.7), and every sum_q6 is PER-DOCUMENT —
    * wrap needs a single document of ~2.1·10^11 tokens, and Spark 4's
    * default ANSI mode would error rather than wrap silently even then.
    *
    * Plan: corpus-sized unigram agg (map-side combine) → vocab broadcast
    * back onto the exploded corpus → per-doc agg. */
  def unigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
    // persisted: the vocab feeds the broadcast join AND the token total —
    // unpersisted, each consumer re-runs the corpus-sized agg (see
    // vocabStats note)
    val uni = words.groupBy("word").agg(count(lit(1)).as("n_w"))
      .persistTracked
    val nTok = uni.agg(sum("n_w").as("_n_tok"))
    words
      .join(broadcast(uni), Seq("word"))
      .crossJoin(broadcast(nTok))
      .select(col(idCol),
        floor(log(col("n_w").cast("double") / col("_n_tok")) * 1000000)
          .cast("long").as("cq"))
      .groupBy(idCol)
      .agg(sum("cq").as("sum_q6"), count(lit(1)).as("n_tokens"))
      .withColumn("avg_logprob",
        col("sum_q6").cast("double") / (col("n_tokens") * 1000000))
  }

  /** Per-document smoothed bigram log-probability — one rung up the LM
    * ladder from [[unigramLogProb]] toward the CCNet perplexity signal:
    * mean over a document's bigrams of ln P(w_i | w_{i-1}) with add-one
    * smoothing, P = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V). Counts and
    * V are exact integers, so the quotient is the same IEEE double in
    * any engine and the floor-quantized per-bigram contributions sum
    * exactly (the [[unigramLogProb]] discipline).
    *
    * Plan: bigram + unigram corpus aggs (map-side combine), broadcast /
    * keyed-joined back onto the per-doc exploded bigrams, per-doc agg.
    * Only the VOCAB-sized `uni` is persisted (it feeds the broadcast join
    * and the scalar V). `docBigrams` feeds two branches (the `bi` agg and
    * the join left side) and deliberately RECOMPUTES its corpus-sized
    * explode in each: re-running a narrow explode over the scan is
    * cheaper at 100 TB than pinning a corpus-sized cache (the
    * [[unigramLogProb]] / DocJsonl discipline — persist vocab-sized
    * frames only). Documents with < 2 tokens have no bigram and get no
    * row. */
  def bigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > 0).as("tk"))
    val docBigrams = toks.where(size(col("tk")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("tk")) - 2),
          i => struct(element_at(col("tk"), i + 1).as("w_a"),
            element_at(col("tk"), i + 2).as("w_b")))).as("p"))
      .select(col(idCol), col("p.w_a").as("w_a"), col("p.w_b").as("w_b"))
    val uni = toks.select(explode(col("tk")).as("w_a"))
      .groupBy("w_a").agg(count(lit(1)).as("n_a")).persistTracked
    val vocabSize = uni.agg(count(lit(1)).as("_v"))
    val bi = docBigrams.groupBy("w_a", "w_b")
      .agg(count(lit(1)).as("n_ab"))
    // bi is bigram-vocab-sized (can exceed broadcast limits at corpus
    // scale) → keyed join, AQE may still broadcast when small; the
    // unigram vocab and scalar V broadcast as usual
    docBigrams
      .join(bi, Seq("w_a", "w_b"))
      .join(broadcast(uni), Seq("w_a"))
      .crossJoin(broadcast(vocabSize))
      .select(col(idCol),
        floor(log((col("n_ab").cast("double") + 1.0) /
            (col("n_a").cast("double") + col("_v")))
          * 1000000).cast("long").as("cq"))
      .groupBy(idCol)
      .agg(sum("cq").as("sum_q6"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_logprob",
        col("sum_q6").cast("double") / (col("n_bigrams") * 1000000))
  }

  /** Per-document interpolated Kneser-Ney bigram log-probability — the
    * top rung of this LM-quality family ([[unigramLogProb]] →
    * [[bigramLogProb]] → here), the smoothing the CCNet-style perplexity
    * filters actually use (Chen & Goodman 1999). For each document bigram
    * (a,b):
    *
    *   P_KN(b|a) = max(c(a,b) − D, 0)/c(a·)
    *             + (D · N1+(a,·)/c(a·)) · N1+(·,b)/N1+(··)
    *
    * with D = 0.75 (the classic absolute discount, exact in binary),
    * c(a·) = Σ_b c(a,b), N1+(a,·)/N1+(·,b) the distinct continuation
    * type counts and N1+(··) the total bigram type count. Every input is
    * an exact integer (or the exact 0.75), and the arithmetic tree is
    * mirrored operation-for-operation in the SQL oracle, so the IEEE
    * result is bit-identical across engines and the floor-quantized
    * per-bigram contributions (`·1e6`) sum commutatively — the
    * [[unigramLogProb]] discipline.
    *
    * Plan: ONE corpus-sized bigram agg (map-side combine), persisted —
    * it feeds the context/continuation/type-total aggs AND the scoring
    * join, all bigram-vocab-sized; the score folds at vocab grain and
    * every join key is a pre-hashed 8-byte xxhash64 (the [[kn5LogProb]]
    * discipline — the text-keyed oracle proves losslessness).
    * `docBigrams` recomputes its narrow explode per branch (the
    * [[bigramLogProb]] discipline: never pin a corpus-sized cache).
    * Documents with < 2 tokens get no row. */
  def knLogProb(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > 0).as("tk"))
    // pre-hashed 8-byte keys (_k2 = bigram, _pa = left word, _kb =
    // right word) — the kn5LogProb discipline: strings never leave this
    // projection, and the score folds at bigram-vocab grain so the
    // corpus-sized stream pays one 8-byte-keyed scoring join
    val docBigrams = toks.where(size(col("tk")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("tk")) - 2),
          i => struct(element_at(col("tk"), i + 1).as("w_a"),
            element_at(col("tk"), i + 2).as("w_b")))).as("p"))
      .select(col(idCol),
        xxhash64(col("p.w_a"), col("p.w_b")).as("_k2"),
        xxhash64(col("p.w_a")).as("_pa"),
        xxhash64(col("p.w_b")).as("_kb"))
    val bi = docBigrams.groupBy(col("_k2"))
      .agg(count(lit(1)).as("n_ab"), max("_pa").as("_pa"),
        max("_kb").as("_kb")).persistTracked
    // context stats c(a·) and N1+(a,·); continuation types N1+(·,b);
    // type total N1+(··) — all bigram-vocab-sized, broadcastable
    val ctx = bi.groupBy(col("_pa"))
      .agg(sum("n_ab").as("c_a"), count(lit(1)).as("n1p_a"))
    val cont = bi.groupBy(col("_kb")).agg(count(lit(1)).as("t_b"))
    val types = bi.agg(count(lit(1)).as("_t_all"))
    val d = lit(discount)
    val score2 = bi
      .join(broadcast(ctx), Seq("_pa"))
      .join(broadcast(cont), Seq("_kb"))
      .crossJoin(broadcast(types))
      .select(col("_k2"),
        floor(log(
          greatest(col("n_ab").cast("double") - d, lit(0.0)) /
            col("c_a").cast("double") +
            (d * col("n1p_a").cast("double") / col("c_a").cast("double")) *
              (col("t_b").cast("double") / col("_t_all").cast("double")))
          * 1000000).cast("long").as("cq"))
    docBigrams
      .select(col(idCol), col("_k2"))
      .join(score2, Seq("_k2"))
      .groupBy(idCol)
      .agg(sum("cq").as("sum_q6"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_logprob",
        col("sum_q6").cast("double") / (col("n_bigrams") * 1000000))
  }

  /** Per-document interpolated Kneser-Ney TRIGRAM log-probability — one
    * rung above [[knLogProb]] toward the 5-gram KenLM CCNet filters use.
    * Full Chen & Goodman recursion, lower orders built from continuation
    * counts of the order above (all derived from ONE trigram table):
    *
    *   P(c|a,b) = max(c(abc) − D, 0)/c(ab·) + D·N1+(ab·)/c(ab·) · P(c|b)
    *   P(c|b)   = max(N1+(·bc) − D, 0)/N1+(·b·)
    *            + D·N1+(b·)/N1+(·b·) · P(c)
    *   P(c)     = N1+(·c) / N1+(··)
    *
    * with D = 0.75 (exact in binary), N1+(·bc) the distinct-predecessor
    * count of trigram (·,b,c), N1+(·b·) = Σ_c N1+(·bc), N1+(b·) the
    * distinct continuations of b, N1+(·c)/N1+(··) the unigram
    * continuation distribution over the (b,c) type table. Every input is
    * an exact integer (or the exact 0.75) and the arithmetic tree is
    * mirrored operation-for-operation in the SQL oracle, so quantized
    * per-trigram contributions (`·1e6`) compare bit-for-bit and sum
    * commutatively — the [[knLogProb]] discipline.
    *
    * Plan: ONE corpus-sized trigram agg (map-side combine), persisted —
    * every lower-order stat is an agg over it or over the (b,c)
    * continuation table (also persisted; both trigram/bigram-VOCAB-sized,
    * not corpus-sized). The backoff recursion folds into a per-trigram
    * score table at trigram-vocab grain (tri/ctx2/cont2 keyed joins —
    * bigram-vocab keys can exceed broadcast limits at corpus scale; AQE
    * broadcasts when small — unigram-sized ctx1/cont1 and the scalar
    * type total broadcast), so the corpus-sized doc-trigram stream pays
    * exactly ONE keyed scoring join — and every join key is a pre-hashed
    * 8-byte xxhash64, never a 1-3-string tuple (the [[kn5LogProb]]
    * discipline; collision risk n²/2⁶⁴, and the text-keyed oracle proves
    * losslessness at the gate). `docTrigrams` recomputes its narrow
    * explode per branch (never pin a corpus-sized cache). Documents with
    * < 3 tokens get no row. */
  def kn3LogProb(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > 0).as("tk"))
    // pre-hashed 8-byte join keys, the kn5LogProb discipline: _k3 is
    // the trigram identity, _p3 = (a,b) its context, _k2 = (b,c) the
    // continuation key, _p2 = (b), _k1 = (c); word strings never leave
    // this projection. Collisions n²/2⁶⁴; the oracle joins by TEXT, so
    // the exact gate also proves the hashed plan lossless.
    val docTrigrams = toks.where(size(col("tk")) >= 3)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("tk")) - 3),
          i => struct(element_at(col("tk"), i + 1).as("w_a"),
            element_at(col("tk"), i + 2).as("w_b"),
            element_at(col("tk"), i + 3).as("w_c")))).as("p"))
      .select(col(idCol),
        xxhash64(col("p.w_a"), col("p.w_b"), col("p.w_c")).as("_k3"),
        xxhash64(col("p.w_a"), col("p.w_b")).as("_p3"),
        xxhash64(col("p.w_b"), col("p.w_c")).as("_k2"),
        xxhash64(col("p.w_b")).as("_p2"),
        xxhash64(col("p.w_c")).as("_k1"))
    val tri = docTrigrams.groupBy(col("_k3"))
      .agg(count(lit(1)).as("n_abc"), max("_p3").as("_p3"),
        max("_k2").as("_k2"), max("_p2").as("_p2"), max("_k1").as("_k1"))
      .persistTracked
    // highest-order context stats c(ab·), N1+(ab·)
    val ctx2 = tri.groupBy(col("_p3"))
      .agg(sum("n_abc").as("c_ab"), count(lit(1)).as("n1p_ab"))
    // (b,c) continuation types N1+(·bc) — the middle order's "counts";
    // persisted: feeds its own context/continuation/type-total aggs AND
    // the scoring join
    val cont2 = tri.groupBy(col("_k2"))
      .agg(count(lit(1)).as("n1p_bc"), max("_p2").as("_p2"),
        max("_k1").as("_k1")).persistTracked
    val ctx1 = cont2.groupBy(col("_p2"))
      .agg(sum("n1p_bc").as("tot_b"), count(lit(1)).as("typ_b"))
    val cont1 = cont2.groupBy(col("_k1")).agg(count(lit(1)).as("n1p_c"))
    val types = cont2.agg(count(lit(1)).cast("double").as("_t_all"))
    val d = lit(discount)
    // per-trigram quantized score at trigram-vocab grain: the backoff
    // joins run between vocab-sized tables and the corpus-sized
    // doc-trigram stream pays exactly ONE keyed join (the kn5LogProb
    // one-scoring-join discipline)
    val score3 = tri
      .join(ctx2, Seq("_p3"))
      .join(cont2.select("_k2", "n1p_bc"), Seq("_k2"))
      .join(broadcast(ctx1), Seq("_p2"))
      .join(broadcast(cont1), Seq("_k1"))
      .crossJoin(broadcast(types))
      .select(col("_k3"),
        floor(log(
          greatest(col("n_abc").cast("double") - d, lit(0.0)) /
            col("c_ab").cast("double") +
            (d * col("n1p_ab").cast("double") / col("c_ab").cast("double")) *
              (greatest(col("n1p_bc").cast("double") - d, lit(0.0)) /
                col("tot_b").cast("double") +
                (d * col("typ_b").cast("double") /
                  col("tot_b").cast("double")) *
                  (col("n1p_c").cast("double") / col("_t_all"))))
          * 1000000).cast("long").as("cq"))
    docTrigrams
      .select(col(idCol), col("_k3"))
      .join(score3, Seq("_k3"))
      .select(col(idCol), col("cq"))
      .groupBy(idCol)
      .agg(sum("cq").as("sum_q6"), count(lit(1)).as("n_trigrams"))
      .withColumn("avg_logprob",
        col("sum_q6").cast("double") / (col("n_trigrams") * 1000000))
  }

  /** Per-document interpolated Kneser-Ney 5-GRAM log-probability — the
    * full CCNet grain (their KenLM perplexity filter is a 5-gram model),
    * completing the [[unigramLogProb]] → [[bigramLogProb]] →
    * [[knLogProb]] → [[kn3LogProb]] ladder. Chen & Goodman recursion
    * over FOUR backoff levels, each lower order built from continuation
    * counts of the order above:
    *
    *   c_5 = raw 5-gram counts;  c_i(g) = N1+(·g) over the c_{i+1} table
    *   P_i(w | ctx) = max(c_i − D, 0)/tot_i + D·typ_i/tot_i · P_{i-1}
    *   P_1(w)       = N1+(·w) / N1+(··)   (over the c_2 type table)
    *
    * where tot_i/typ_i are the context's count-sum and distinct-
    * continuation count at level i. Every input is an exact integer (or
    * the exact 0.75) and the 4-deep arithmetic tree is mirrored
    * operation-for-operation in the SQL oracle — the [[kn3LogProb]]
    * discipline, two rungs deeper.
    *
    * Plan: ONE corpus-sized 5-gram agg (map-side combine), persisted;
    * each lower-level continuation table is a grouped count of the level
    * above (g4 ← g5, g3 ← g4, g2 ← g3 — all n-gram-vocab-sized,
    * shrinking, persisted where multi-consumed). The ENTIRE backoff
    * recursion is folded into one per-gram score table at the 5-gram-
    * vocab grain — every level/context join happens between vocab-sized
    * tables, and P_5 depends only on gram counts, so the corpus-sized
    * doc-gram stream pays exactly ONE keyed scoring join (it used to pay
    * four, shuffling the corpus once per backoff level). Gram-keyed
    * joins stay keyed (AQE broadcasts when small); the scalar type total
    * broadcasts. `docGrams` recomputes its narrow explode per branch.
    * Documents with < 5 tokens get no row. */
  def kn5LogProb(docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    val n = 5
    val wcols = (1 to n).map(i => s"w$i")
    val toks = docs.select(col(idCol),
      filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > 0).as("tk"))
    // every join key below is pre-hashed to 8 bytes HERE and the word
    // strings never leave this projection: _kI is level-I's gram
    // identity (suffix w_{6-I}..w5), _pI its context (that suffix minus
    // the last word). A word-soup corpus has a near-corpus-sized 5-gram
    // vocab, so the g5→g2 chain and the corpus-sized scoring join used
    // to shuffle 2-5 STRING columns as keys; hashed keys carry 8 bytes.
    // Collision risk n²/2⁶⁴ (the q_ngram_span_dedup discipline) — and
    // the oracle joins by gram TEXT, so the exact-hash gate also proves
    // the hashed plan lossless.
    def h(cs: Seq[String]) = xxhash64(cs.map(col): _*)
    val docGrams = toks.where(size(col("tk")) >= n)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("tk")) - n),
          i => struct(wcols.zipWithIndex.map { case (w, j) =>
            element_at(col("tk"), i + j + 1).as(w) }: _*))).as("p"))
      .select(col(idCol) +: wcols.map(w => col(s"p.$w").as(w)): _*)
      .select(col(idCol),
        h(wcols).as("_k5"), h(wcols.dropRight(1)).as("_p5"),
        h(wcols.drop(1)).as("_k4"), h(wcols.slice(1, 4)).as("_p4"),
        h(wcols.drop(2)).as("_k3"), h(wcols.slice(2, 4)).as("_p3"),
        h(wcols.drop(3)).as("_k2"), h(Seq("w4")).as("_p2"),
        h(Seq("w5")).as("_k1"))
    // c_5 raw counts, then each level's continuation-type table is a
    // grouped row-count of the level above (drop the leading word);
    // each carries the lower levels' key/context hashes through the agg
    // (max = "any": within a group they are identical absent collisions)
    def carry(names: String*) = names.map(c => max(c).as(c))
    val g5 = docGrams.groupBy(col("_k5"))
      .agg(count(lit(1)).as("c5"),
        carry("_p5", "_k4", "_p4", "_k3", "_p3", "_k2", "_p2", "_k1"): _*)
      .persistTracked
    val g4 = g5.groupBy(col("_k4"))
      .agg(count(lit(1)).as("c4"),
        carry("_p4", "_k3", "_p3", "_k2", "_p2", "_k1"): _*).persistTracked
    val g3 = g4.groupBy(col("_k3"))
      .agg(count(lit(1)).as("c3"),
        carry("_p3", "_k2", "_p2", "_k1"): _*).persistTracked
    val g2 = g3.groupBy(col("_k2"))
      .agg(count(lit(1)).as("c2"), carry("_p2", "_k1"): _*).persistTracked
    // per-level context stats (count-sum + distinct continuations),
    // pre-joined onto their gram tables at VOCAB scale so the
    // corpus-sized doc-gram stream pays 5 scoring joins, not 9 — the
    // merged tables are the same size as the gram tables they extend
    val ctx5 = g5.groupBy(col("_p5"))
      .agg(sum("c5").as("tot5"), count(lit(1)).as("typ5"))
    val ctx4 = g4.groupBy(col("_p4"))
      .agg(sum("c4").as("tot4"), count(lit(1)).as("typ4"))
    val ctx3 = g3.groupBy(col("_p3"))
      .agg(sum("c3").as("tot3"), count(lit(1)).as("typ3"))
    val ctx2 = g2.groupBy(col("_p2"))
      .agg(sum("c2").as("tot2"), count(lit(1)).as("typ2"))
    val c1 = g2.groupBy(col("_k1")).agg(count(lit(1)).as("n1p_w"))
    val types = g2.agg(count(lit(1)).cast("double").as("_t_all"))
    val g5e = g5.join(ctx5, Seq("_p5"))
    val g4e = g4.select("_k4", "c4", "_p4").join(ctx4, Seq("_p4"))
    val g3e = g3.select("_k3", "c3", "_p3").join(ctx3, Seq("_p3"))
    val g2e = g2.join(ctx2, Seq("_p2")).join(c1, Seq("_k1"))
    val d = lit(discount)
    def dbl(c: String) = col(c).cast("double")
    val p1 = dbl("n1p_w") / col("_t_all")
    val p2 = greatest(dbl("c2") - d, lit(0.0)) / dbl("tot2") +
      (d * dbl("typ2") / dbl("tot2")) * p1
    val p3 = greatest(dbl("c3") - d, lit(0.0)) / dbl("tot3") +
      (d * dbl("typ3") / dbl("tot3")) * p2
    val p4 = greatest(dbl("c4") - d, lit(0.0)) / dbl("tot4") +
      (d * dbl("typ4") / dbl("tot4")) * p3
    val p5 = greatest(dbl("c5") - d, lit(0.0)) / dbl("tot5") +
      (d * dbl("typ5") / dbl("tot5")) * p4
    // per-gram quantized score, computed entirely at 5-gram-vocab grain
    val score5 = g5e
      .join(g4e, Seq("_k4"))
      .join(g3e, Seq("_k3"))
      .join(g2e, Seq("_k2"))
      .crossJoin(broadcast(types))
      .select(col("_k5"), floor(log(p5) * 1000000).cast("long").as("cq"))
    docGrams
      .select(col(idCol), col("_k5"))
      .join(score5, Seq("_k5"))
      .select(col(idCol), col("cq"))
      .groupBy(idCol)
      .agg(sum("cq").as("sum_q6"), count(lit(1)).as("n_grams"))
      .withColumn("avg_logprob",
        col("sum_q6").cast("double") / (col("n_grams") * 1000000))
  }

  /** CCNet-style perplexity banding (Wenzek et al. 2020): score every
    * document with the 5-gram KN LM ([[kn5LogProb]]), fit head/middle
    * band bounds from a BOUNDED deterministic sample, and label each
    * scorable document head / middle / tail — the LM-quality partition
    * CCNet feeds into training-data selection.
    *
    * Scale/determinism choices, each deliberate:
    *  - bounds come from a content-stable md5-draw sample capped at
    *    `maxSample` (CCNet fits its bounds offline on a sample too);
    *    an exact global percentile would buffer every doc's score in
    *    one aggregator at 100 TB.
    *  - bounds are NEAREST-RANK order statistics (value at rank
    *    ceil(n/3), ceil(2n/3) of the sample ordered desc), not
    *    interpolated percentiles: interpolation formulas differ at the
    *    ulp level across engines, and an integer-vs-integer comparison
    *    against an order statistic cannot flip on a ulp. The rank-k
    *    VALUE is tie-stable, so no tiebreak column is needed. The
    *    single-task rank window is bounded by `maxSample`, not the
    *    corpus.
    *  - the narrow per-doc score frame is persisted: it feeds both the
    *    sample and the final labeling, and recomputing it means
    *    re-running kn5's ten-join pipeline; at ~24 bytes/doc this is
    *    orders of magnitude below corpus size (the one documented
    *    exception to "persist vocab-sized only").
    *
    * Returns (idCol, avg_q6 = floor(avg_logprob·1e6), band); documents
    * with < 5 tokens are unscorable and get no row. */
  def perplexityBands(docs: DataFrame, idCol: String, textCol: String,
      maxSample: Int = 50000, salt: String = "ppl|"): DataFrame = {
    import graft.functions.Hashing
    val scored = kn5LogProb(docs, idCol, textCol)
      .select(col(idCol),
        floor(col("avg_logprob") * 1000000).cast("long").as("avg_q6"))
      .persistTracked
    val sample = scored
      .orderBy(Hashing.md5Long56(
        concat(lit(salt), col(idCol).cast("string"))), col(idCol))
      .limit(maxSample)
    // Both bounds in ONE aggregation pass over the sample: sorting the
    // collected scores in the aggregator gives the same rank-k values
    // the previous shape computed with a row_number window plus a
    // SECOND TakeOrdered execution for the count plus a crossJoin —
    // three consumers of the sample collapsed to one (guide §1.2). The
    // collected array is capped at `maxSample` rows, exactly the bound
    // the single-task rank window already relied on. `get` is 0-based
    // and null out-of-bounds, so an empty sample yields null bounds —
    // the same nulls the old empty-crossJoin agg produced (and scored
    // is empty then too, so no label row ever compares against them).
    val bounds = sample
      .agg(sort_array(collect_list(col("avg_q6")), asc = false).as("_arr"),
        count(lit(1)).as("_n"))
      .select(
        get(col("_arr"), (greatest(ceil(col("_n") / 3.0), lit(1L)) - 1)
          .cast("int")).as("_b_head"),
        get(col("_arr"), (greatest(ceil(col("_n") * 2.0 / 3.0), lit(1L)) - 1)
          .cast("int")).as("_b_mid"))
    scored.crossJoin(broadcast(bounds))
      .select(col(idCol), col("avg_q6"),
        when(col("avg_q6") >= col("_b_head"), lit("head"))
          .when(col("avg_q6") >= col("_b_mid"), lit("middle"))
          .otherwise(lit("tail")).as("band"))
  }

  /** Adjacent-bigram PMI: for each token bigram (a,b) with count >=
    * `minCount`, pmi = ln(P(a,b) / (P(a)·P(b))) with P(a,b) = n_ab/N_big
    * and P(x) = n_x/N_tok. Emitted floor-quantized (`pmi_q6` = floor(pmi ·
    * 1e6), the q_bm25 discipline: ln over identical IEEE doubles is
    * engine-exact, so quantized values compare bit-for-bit).
    *
    * Plan: two corpus-sized keyed aggs (unigrams, bigrams) with map-side
    * combine; unigram vocab broadcast-joined twice onto the bigram table;
    * scalar totals ride in-plan via 1-row broadcast crossJoins. Nothing
    * after the aggs touches corpus-sized data. */
  def bigramPmi(docs: DataFrame, textCol: String,
      minCount: Long = 5): DataFrame = {
    val toks = docs.select(
      filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > 0).as("tk"))
    // both aggs feed two consumers (stats + their totals) — persist so
    // the corpus-sized explodes run once (see vocabStats note)
    val uni = toks.select(explode(col("tk")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w")).persistTracked
    val nTok = uni.agg(sum("n_w").as("_n_tok"))
    val bi = toks.where(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("w_a"),
          element_at(col("tk"), i + 2).as("w_b")))).as("p"))
      .groupBy(col("p.w_a").as("w_a"), col("p.w_b").as("w_b"))
      .agg(count(lit(1)).as("n_ab")).persistTracked
    val nBig = bi.agg(sum("n_ab").as("_n_big"))
    bi.where(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("word").as("w_a"),
        col("n_w").as("n_a"))), Seq("w_a"))
      .join(broadcast(uni.select(col("word").as("w_b"),
        col("n_w").as("n_b"))), Seq("w_b"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBig))
      .select(col("w_a"), col("w_b"), col("n_ab"),
        floor(log(
          (col("n_ab").cast("double") / col("_n_big")) /
            ((col("n_a").cast("double") / col("_n_tok")) *
              (col("n_b").cast("double") / col("_n_tok"))))
          * 1000000).cast("long").as("pmi_q6"))
  }

  /** Word2vec-style skip-gram (center, context) pair counts with
    * frequency subsampling (Mikolov et al. 2013 §2.3, "Distributed
    * representations of words and phrases"): each occurrence of word w
    * is kept with probability min(1, sqrt(t·N / n_w)); kept tokens are
    * COMPACTED per document (the reference C implementation deletes
    * subsampled words from the stream before windowing, stretching the
    * effective context over dropped words — matched here via a per-doc
    * rank), then every kept token pairs with its ±`window` kept
    * neighbors. The output (w_center, w_context, n_pairs) table is the
    * training-pair distribution embedding trainers consume.
    *
    * Determinism: the keep draw is a portable md5 hash of (doc, pos)
    * against the floor-quantized keep probability — exact-integer
    * compare, so membership replays bit-for-bit in SQL (sqrt of an
    * identical IEEE quotient is correctly rounded on both engines — the
    * [[bigramPmi]] ln discipline).
    *
    * Scale shape: one corpus-sized (word) agg builds the vocab; the
    * vocab (with counts) broadcasts back onto the token stream; the
    * per-doc rank is a doc-keyed window (bounded by doc length); pair
    * formation is an EQUI-join on (doc, rank) against 2·window exploded
    * offset rows per kept token — linear in the corpus, never a per-doc
    * cartesian; the final count is one keyed agg with map-side combine.
    * For web-scale vocabularies drop the broadcast hint (minCount
    * already shrinks the joined side). */
  def skipGramPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 5,
      subsampleT: Double = 1e-3): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col(idCol).as("_id"),
        filter(split(lower(trim(col(textCol))), "\\s+"),
          t => length(t) > 0).as("tk"))
      .select(col("_id"), posexplode(col("tk")).as(Seq("pos", "word")))
    val vocab = pos.groupBy("word").agg(count(lit(1)).as("n_w"))
      .persistTracked
    val nTok = vocab.agg(sum("n_w").as("_n_tok"))
    val kept = pos
      .join(broadcast(vocab.where(col("n_w") >= minCount)), Seq("word"))
      .crossJoin(broadcast(nTok))
      .where(graft.functions.Hashing.md5Long56(
          concat_ws(":", col("_id").cast("string"),
            col("pos").cast("string"))) % 1000000 <
        least(lit(1000000L),
          floor(sqrt(lit(subsampleT) * col("_n_tok").cast("double") /
            col("n_w").cast("double")) * 1000000).cast("long")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("_id").orderBy("pos")))
      .select("_id", "rk", "word")
      // two consumers (center + context join sides) — persist so the
      // tokenize/draw/rank pipeline runs once (the bigramPmi note)
      .persistTracked
    val offsets = ((-window to window).filter(_ != 0)).map(lit(_))
    val centers = kept
      .select(col("_id"), col("word").as("w_center"),
        explode(array(offsets: _*)).as("off"),
        col("rk"))
      .select(col("_id"), col("w_center"), (col("rk") + col("off")).as("rk"))
    centers
      .join(kept.select(col("_id"), col("rk"),
        col("word").as("w_context")), Seq("_id", "rk"))
      .groupBy("w_center", "w_context")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-slice unigram KL divergence and cross-entropy against the REST
    * of the corpus — the distribution-shift profile behind mixture
    * decisions (which sources look alike, which are outliers) and the
    * information-theoretic sibling of [[graft.operators.DataPrep]]'s
    * DSIR importance weights (Xie et al. score documents by exactly this
    * kind of source-vs-target likelihood ratio).
    *
    * For slice s with the rest of the corpus r, over the JOINT vocab V
    * with add-one smoothing: P(w) = (c_s(w)+1)/(N_s+V), Q(w) =
    * (c_r(w)+1)/(N_r+V); KL(P‖Q) = Σ_w P·ln(P/Q) ≥ 0 and H(P,Q) =
    * −Σ_w P·ln Q. Per-word contributions are floor-quantized at 1e9
    * (exact-integer counts → identical IEEE quotients → identical ln →
    * identical floor — the [[unigramLogProb]] discipline), so the sums
    * commute and compare bit-for-bit cross-engine.
    *
    * Plan: ONE corpus-sized (slice, word) agg with map-side combine;
    * everything after is vocab-sized — global word counts and per-slice
    * totals derive from the persisted count table, the dense slice ×
    * vocab grid is a broadcast cross of the (tiny) totals frame onto the
    * vocab, and scalar totals ride in-plan as 1-row broadcasts. */
  def unigramDivergence(docs: DataFrame, sliceCol: String,
      textCol: String): DataFrame = {
    val counts = docs
      .select(col(sliceCol).as("slice"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("slice", "word").agg(count(lit(1)).as("n_sw"))
      .persistTracked
    val vocab = counts.groupBy("word").agg(sum("n_sw").as("n_w"))
    val totals = counts.groupBy("slice").agg(sum("n_sw").as("n_s"))
    val scalars = vocab.agg(sum("n_w").as("_n_tok"),
      count(lit(1)).as("_v"))
    // dense slice × vocab grid: smoothing gives every joint-vocab word
    // mass in every slice, including words the slice never uses
    val p = col("_cp").cast("double") / col("_np")
    val q = col("_cq").cast("double") / col("_nq")
    vocab.crossJoin(broadcast(totals))
      .join(counts, Seq("slice", "word"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("slice"), col("n_s"),
        (coalesce(col("n_sw"), lit(0L)) + 1).as("_cp"),
        (col("n_s") + col("_v")).as("_np"),
        (col("n_w") - coalesce(col("n_sw"), lit(0L)) + 1).as("_cq"),
        (col("_n_tok") - col("n_s") + col("_v")).as("_nq"))
      .select(col("slice"), col("n_s"),
        floor(p * log(p / q) * 1e9).cast("long").as("_kl_c"),
        floor(-p * log(q) * 1e9).cast("long").as("_ce_c"))
      .groupBy("slice")
      .agg(min("n_s").as("n_tokens"),
        sum("_kl_c").as("kl_q9"), sum("_ce_c").as("ce_q9"))
      .select(col("slice"), col("n_tokens"), col("kl_q9"), col("ce_q9"),
        (col("kl_q9").cast("double") / 1e9).as("kl"),
        (col("ce_q9").cast("double") / 1e9).as("cross_entropy"))
  }

  /** Sequence-length histogram in power-of-two buckets — the standard
    * corpus profile behind context-length and packing-budget decisions
    * (how much of the corpus is truncated at 2k/8k/32k, what packing
    * efficiency a budget buys).
    *
    * The bucket is `length(bin(n)) - 1` — the binary-digit count, an
    * EXACT integer log2 in both engines — rather than `floor(log2(n))`,
    * whose float rounding at power-of-two boundaries is libm-dependent
    * and would flake the cross-engine hash compare.
    *
    * One narrow token-count pass → two-phase agg on ≤64 bucket keys. */
  def tokenHistogram(docs: DataFrame, textCol: String): DataFrame = {
    val n = graft.functions.TextFunctions.tokenCountWs(col(textCol))
    docs.select(n.as("_n")).where(col("_n") > 0)
      .select((length(bin(col("_n"))) - 1).cast("long").as("bucket"),
        col("_n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("_n").cast("long").as("total_tokens"),
        min("_n").cast("long").as("min_tokens"),
        max("_n").cast("long").as("max_tokens"))
  }

  /** word2vec negative-sampling draws (Mikolov et al. 2013 §2.2):
    * `negatives` words per document from the unigram^(3/4) distribution
    * over the top-`vocabSize` vocabulary (the standard practical
    * truncation — tail words effectively never win the draw anyway).
    *
    * Shape at 100 TB: ONE corpus word agg → distributed top-V
    * (TakeOrderedAndProject) → the cumulative-weight table built on the
    * DRIVER from the V collected rows (bounded by `vocabSize`, the
    * IvfTopK-sample discipline) and carried into a narrow per-draw
    * binary-search kernel — draws never shuffle, there is no vocab join
    * and no global window.
    *
    * Engine-exact: the weight is floor(sqrt(cnt·sqrt(cnt))·10⁶) — two
    * IEEE-754 CORRECTLY-ROUNDED sqrts and one multiply, identical
    * doubles on any engine, where pow(cnt, 0.75) is not correctly
    * rounded and could flip a floor boundary; draws are the portable
    * md5Long56 of "neg|<doc>:<j>" mod the total weight, so the SQL
    * oracle replays every pick with a range join on [lo, hi).
    * Long bound: Σ weights ≤ V·10⁶·maxCnt^0.75 — safe to ~10¹¹
    * occurrences of the top word at V = 10⁴ (documented, not checked
    * per row).
    *
    * @return (doc_id, j, neg_word), `negatives` rows per document */
  def negativeSamples(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 10000, negatives: Int = 3): DataFrame = {
    require(vocabSize >= 1 && vocabSize <= 1000000,
      s"vocabSize=$vocabSize outside [1, 1e6]")
    // negatives = 0 would make sequence(0, -1) infer step -1 and emit
    // TWO draws (j = 0, -1) instead of zero — reject outside [1, ...)
    require(negatives >= 1, s"negatives=$negatives must be >= 1")
    val top = Tokenizer.wordFreq(docs, textCol)
      .orderBy(col("freq").desc, col("word"))
      .limit(vocabSize)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(top.nonEmpty, "empty corpus vocabulary")
    val words = top.map(_._1)
    // lo(i) exclusive-prefix sums of the quantized ^0.75 weights
    val lo = new Array[Long](words.length + 1)
    var i = 0
    while (i < words.length) {
      val cnt = top(i)._2.toDouble
      lo(i + 1) = lo(i) + math.floor(math.sqrt(cnt * math.sqrt(cnt)) * 1e6)
        .toLong
      i += 1
    }
    val total = lo(words.length)
    val pickUdf = udf { (u: Long) =>
      // greatest i with lo(i) <= u  (u < total by construction)
      var a = 0; var b = words.length
      while (b - a > 1) {
        val m = (a + b) >>> 1
        if (lo(m) <= u) a = m else b = m
      }
      words(a)
    }
    docs
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(0L), lit(negatives - 1L))).as("j"))
      .withColumn("u",
        pmod(graft.functions.Hashing.md5Long56(
          concat(lit("neg|"), col("doc_id").cast("string"),
            lit(":"), col("j").cast("string"))), lit(total)))
      .select(col("doc_id"), col("j"), pickUdf(col("u")).as("neg_word"))
  }
}
