package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions
import graft.operators.KeywordTag
import DocFixtures._

/** Corpus curation and evaluation queries: text-quality signals and
  * filters, language ID, PII, cleanup, sampling and mixtures, privacy
  * gates, generation-eval metrics and preference data. Fixtures shared
  * with other families: [[DocFixtures]].
  */
object CurationQueries {

  /** q_keyword_tags lexicon: nested patterns on purpose (able⊂table,
    * can⊂scan, win⊂window) — the oracle duplicates these literally in
    * its VALUES clause (kept independent, not generated; a drift fails
    * the gate loudly). */
  private val keywordLexicon: Seq[(String, String)] = Seq(
    "table" -> "schema", "able" -> "schema",
    "scan" -> "exec", "can" -> "exec",
    "window" -> "exec", "win" -> "exec",
    "stream" -> "exec", "he" -> "pronoun")

  /** Dirty web snippet prefixed to the q_web_clean fixture docs: a
    * tagged block with entities (incl. the `&amp;lt;` double-escape
    * order case), five mojibake forms, and a script block that must
    * vanish wholesale. The SAME literal rides into the generated
    * oracle SQL. */
  private val webDirtyPrefix: String =
    "<div class=\"post\">CafÃ© &amp; crÃ¨me â€” itâ€™s &lt;fine&gt; " +
      "&amp;lt;kept&amp;gt;</div><script>var x = 1 &lt; 2;</script> "

  /** Unrolled Bradley–Terry MM iterations (the pageRankCtes pattern):
    * expects CTEs `sym(src, dst, n)`, `items(item, wins, n_matches)`
    * and `nn(n_items)` upstream; emits it0..it`iters` where each
    * iteration replays the operator's integer arithmetic exactly —
    * per-edge floor-divided terms, clamped raw strengths, mean
    * normalization with the same greatest() guards. */
  private def btCtes(iters: Int): String =
    """, it0 AS MATERIALIZED (
      |  SELECT item, CAST(1000000 AS BIGINT) AS p FROM items
      |)""".stripMargin +
    (1 to iters).map { k =>
      s""", raw$k AS MATERIALIZED (
         |  SELECT i.item,
         |    least((i.wins * 1000000000) //
         |      greatest(coalesce(d.denom, 0), 1),
         |      1000000000000) AS praw
         |  FROM items i LEFT JOIN (
         |    SELECT s.src AS item,
         |      CAST(sum((s.n * 1000000000) // (pa.p + pb.p)) AS BIGINT)
         |        AS denom
         |    FROM sym s JOIN it${k - 1} pa ON s.src = pa.item
         |      JOIN it${k - 1} pb ON s.dst = pb.item
         |    GROUP BY s.src) d ON i.item = d.item
         |), it$k AS MATERIALIZED (
         |  SELECT item, CAST(greatest((praw * 1000000) //
         |    greatest((SELECT sum(praw) FROM raw$k) //
         |      (SELECT n_items FROM nn), 1), 1) AS BIGINT) AS p
         |  FROM raw$k
         |)""".stripMargin
    }.mkString

  /** DuckDB twin of [[TextFunctions.langId]] + [[TextFunctions.qualityScore]]
    * — generated from the SAME stopword tables so the two can't drift. The
    * lang pick mirrors Spark's array_max over (hits, lang) structs: max
    * hits, ties to the lexicographically greatest lang (checked in
    * reverse-lex order). */
  private val langQualityOracle: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(",")
    val langs = TextFunctions.langStopwords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (l, ws) =>
      s"len(list_filter(toks, x -> x IN (${inList(ws)}))) AS h_$l"
    }.mkString(",\n    ")
    val caseArms = langs.map(_._1).sorted.reverse
      .map(l => s"WHEN h_$l = m THEN '$l'").mkString("\n      ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, text, toks,
       |    $hitCols
       |  FROM t
       |), scored AS (
       |  SELECT doc_id, text,
       |    greatest(${langs.map("h_" + _._1).mkString(", ")}) AS m,
       |    ${langs.map("h_" + _._1).mkString(", ")},
       |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS len_score,
       |    greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))
       |        AS DOUBLE) / length(text) END) * 4) AS punct_score,
       |    greatest(0.0, 1.0 - (CASE
       |      WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
       |        / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END) * 2)
       |      AS case_score,
       |    least((CASE WHEN len(toks) = 0 OR (len(toks) = 1 AND toks[1] = '')
       |      THEN 0.0
       |      ELSE CAST(h_en AS DOUBLE) / len(toks) END) * 5, 1.0) AS stop_score
       |  FROM h
       |)
       |SELECT doc_id,
       |  CASE WHEN m = 0 THEN 'und'
       |      $caseArms
       |      ELSE 'und' END AS lang_detected,
       |  floor((len_score + punct_score + case_score + stop_score) / 4 * 1e6)
       |    / 1e6 AS quality,
       |  count(*) OVER (PARTITION BY
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |    AS n_same_fingerprint
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of the q_curation_funnel filter stack — sub-score
    * expressions copied verbatim from [[langQualityOracle]] (proven
    * bit-exact there), stopword tables generated from the source of
    * truth. */
  private val curationOracle: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(",")
    val langs = TextFunctions.langStopwords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (l, ws) =>
      s"len(list_filter(toks, x -> x IN (${inList(ws)}))) AS h_$l"
    }.mkString(",\n    ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
       |         WHEN doc_id % 13 = 0 THEN text || ' mail me: x' ||
       |           CAST(doc_id AS VARCHAR) || '@spam.net'
       |         ELSE text END AS text
       |  FROM documents
       |), t AS (
       |  SELECT doc_id, source, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |      ' ') AS tk
       |  FROM d
       |), h AS (
       |  SELECT doc_id, source, text, toks, tk,
       |    $hitCols
       |  FROM t
       |), scored AS (
       |  SELECT doc_id, source, text, tk,
       |    greatest(${langs.map("h_" + _._1).mkString(", ")}) AS m,
       |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS len_score,
       |    greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))
       |        AS DOUBLE) / length(text) END) * 4) AS punct_score,
       |    greatest(0.0, 1.0 - (CASE
       |      WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
       |        / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END) * 2)
       |      AS case_score,
       |    least((CASE WHEN len(toks) = 0 OR (len(toks) = 1 AND toks[1] = '')
       |      THEN 0.0
       |      ELSE CAST(h_en AS DOUBLE) / len(toks) END) * 5, 1.0) AS stop_score,
       |    greatest(len(tk) - 2, 0) AS rep_total,
       |    len(list_distinct(list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS rep_distinct,
       |    len(regexp_extract_all(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) +
       |    len(regexp_extract_all(text,
       |      '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) +
       |    len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
       |      AS n_pii
       |  FROM h
       |)
       |SELECT source,
       |  CASE WHEN m = 0 THEN 'drop_lang'
       |       WHEN (len_score + punct_score + case_score + stop_score) / 4
       |         < 0.4 THEN 'drop_quality'
       |       WHEN (CASE WHEN rep_total <= 0 THEN 0.0
       |         ELSE CAST(rep_total - rep_distinct AS DOUBLE) / rep_total END)
       |         > 0.2 THEN 'drop_repetition'
       |       WHEN n_pii > 0 THEN 'drop_pii'
       |       ELSE 'keep' END AS verdict,
       |  count(*) AS n
       |FROM scored
       |GROUP BY source, verdict
       |ORDER BY source, verdict""".stripMargin
  }

  /** BM25 twin: identical expression tree (same association order, same
    * constant arithmetic) so every double matches bit for bit; per-term
    * contributions are floor-quantized before the per-doc sum, making the
    * score independent of summation order in both engines. */
  private val bm25Oracle: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
      |      ' ') AS toks
      |  FROM documents
      |), dls AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base
      |), tf AS (
      |  SELECT doc_id, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS t FROM base)
      |  WHERE t IN ('vector', 'stream', 'window')
      |  GROUP BY doc_id, t
      |), dfs AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), corpus AS (
      |  SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dls
      |), contrib AS (
      |  -- force DOUBLE promotion at the head of every arithmetic chain:
      |  -- bare decimal literals are DECIMAL in DuckDB (exact-decimal
      |  -- products like tf*2.2), which is 1-ulp off Spark's all-double
      |  -- math and could flip a floor boundary
      |  SELECT tf.doc_id,
      |    CAST(floor(
      |      ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) *
      |        (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
      |        (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl /
      |          (CAST(total_dl AS DOUBLE) / n_docs)))
      |      * 1000000) AS BIGINT) AS cq
      |  FROM tf
      |  JOIN dfs USING (term)
      |  JOIN dls USING (doc_id)
      |  CROSS JOIN corpus
      |), scores AS (
      |  SELECT doc_id,
      |    CAST(sum(cq) AS DOUBLE) / 1000000 AS score,
      |    count(*) AS n_terms_hit
      |  FROM contrib GROUP BY doc_id
      |)
      |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
      |    AS rank,
      |  doc_id, n_terms_hit, score
      |FROM scores
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- text analysis: token counting + quality signals ----
    Query("q_doc_stats", (s, d) => {
      docsPar(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        TextFunctions.tokenCountWs(col("text")).as("n_tokens_ws"),
        TextFunctions.tokenCountBpeish(col("text")).as("n_tokens_bpeish"),
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          t => t.isInCollection(TextFunctions.enStopwords)))
          .cast("long").as("stop_hits"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id")
    },
      Some(("""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |  END AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '\w{1,4}|[^\w\s]')) AS BIGINT)
        |    AS n_tokens_bpeish,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN (""" + graft.functions.TextFunctions.enStopwords
          .map(w => s"'$w'").mkString(",") + """))) AS BIGINT) AS stop_hits,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
        |      AS DOUBLE) / length(text) END, 6) AS punct_ratio
        |FROM documents ORDER BY doc_id""").stripMargin)),

    // ---- BM25 relevance ranking (Okapi k1=1.2 b=0.75) of a fixed query
    // against the corpus: TF via keyed shuffle, DF/IDF broadcast back,
    // corpus scalars in-plan, distributed top-k — engine-deterministic
    // via per-term contribution quantization (integer sums commute;
    // float sums don't) ----
    Query("q_bm25", (s, d) => {
      import graft.operators.Relevance
      val ranked = Relevance.bm25(docsPar(s, d), "doc_id", "text",
          Seq("vector", "stream", "window"), quantize = Some(1000000L))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
      // rank stamped on the 20-row result (tiny single partition), not on
      // the corpus — the top-k itself is TakeOrderedAndProject. The window
      // partitions on a constant bucket derived from a real column
      // (substring(doc_id, 1, 0) = "" for every row): a foldable literal
      // would be stripped by EliminateWindowPartitions and re-trip
      // WindowExec's "No Partition Defined" warning, which on a full-size
      // frame flags a genuine scale bug — keep it meaningful.
      import org.apache.spark.sql.expressions.Window
      // coalesce: substring of a NULL doc_id is NULL (not ""), which would
      // split the window into two partitions and duplicate ranks
      ranked.withColumn("rank",
          row_number().over(
            Window.partitionBy(coalesce(
                substring(col("doc_id").cast("string"), 1, 0), lit("")))
              .orderBy(col("score").desc, col("doc_id"))))
        .select("rank", "doc_id", "n_terms_hit", "score")
        .orderBy("rank")
    },
      Some(bm25Oracle)),

    // ---- deterministic source-mixture sampling (dataset mixing):
    // md5-draw keep/drop per source weight; the oracle recomputes each
    // draw exactly via md5_number_upper, so membership is row-for-row ----
    Query("q_mixture", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.mixtureSample(docsPar(s, d).select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
            "src3" -> 0.1, "src4" -> 0.75))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, source FROM documents
        |WHERE CAST(md5_number_upper(CAST(doc_id AS VARCHAR)) % 1000000
        |    AS DOUBLE) / 1e6 <
        |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |    WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
        |    WHEN 'src4' THEN 0.75 ELSE 0.0 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- per-document TF-IDF keyword extraction (the classic summary /
    // routing signal): top-3 terms per doc by tf · floor(ln(N/df)·1e6),
    // ties broken lexicographically. The integer-quantized IDF makes the
    // ranking engine-exact (ln of an identical ratio of exact integers —
    // the q_bm25 discipline); the per-doc top-3 runs as a
    // WindowGroupLimit (bounded per-task state), never a full sort. ----
    Query("q_tfidf_keywords", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stats = graft.operators.Relevance.termStats(
        docsPar(s, d), "doc_id", "text")
      val nd = stats.select("doc_id").distinct().agg(count(lit(1)).as("n"))
      val scored = stats.crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          (col("tf") * floor(log(col("n").cast("double") / col("df")) *
            1000000).cast("long")).as("score_q6"))
      scored
        .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score_q6").desc, col("term"))))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("score_q6"))
        .orderBy("doc_id", "rk")
    },
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |    unnest(string_split(regexp_replace(lower(trim(text)),
        |      '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nd AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf
        |), sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * CAST(floor(ln(
        |      CAST((SELECT n FROM nd) AS DOUBLE) / df.df) * 1000000)
        |      AS BIGINT) AS BIGINT) AS score_q6
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id, rk, term, score_q6 FROM (
        |  SELECT doc_id, term, score_q6,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_q6 DESC, term) AS rk
        |  FROM sc)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ---- URL extraction + registered-domain blocklist (the C4/RefinedWeb
    // domain-filter step): URLs injected deterministically (corpus has
    // none), extracted with the shared RE2∩Java pattern, reduced to the
    // last-two-label registered domain, flagged against a blocklist ----
    Query("q_url_filter", (s, d) => {
      val injected = docsPar(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" see http://sub"), (col("doc_id") % 5).cast("string"),
              lit(".site"), (col("doc_id") % 7).cast("string"),
              lit(".example/p"), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            concat(lit(" http://ads.example/x"), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
      injected.select(col("doc_id"),
          size(TextFunctions.urls(col("text"))).cast("long").as("n_urls"),
          when(size(TextFunctions.urls(col("text"))) > 0,
            element_at(TextFunctions.domains(col("text")), 1))
            .otherwise(lit("")).as("first_domain"),
          TextFunctions.domainBlocked(col("text"), Seq("ads.example"))
            .as("blocked"))
        .orderBy("doc_id")
    },
      // same injected URLs, same RE2∩Java patterns, same last-two-label
      // domain rule — byte-for-byte replay of the Spark expressions
      Some("""WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' see http://sub' ||
        |      CAST(doc_id % 5 AS VARCHAR) || '.site' ||
        |      CAST(doc_id % 7 AS VARCHAR) || '.example/p' ||
        |      CAST(doc_id AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' http://ads.example/x' ||
        |      CAST(doc_id AS VARCHAR) ELSE '' END AS text
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(/[^ \t\n]*)?')
        |      AS urls
        |  FROM d
        |), dom AS (
        |  SELECT doc_id, urls,
        |    list_transform(urls, x -> array_to_string(
        |      string_split(regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1),
        |        '.')[greatest(len(string_split(
        |          regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1),
        |          '.')) - 1, 1):], '.')) AS doms
        |  FROM u
        |)
        |SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls,
        |  CASE WHEN len(urls) > 0 THEN doms[1] ELSE '' END AS first_domain,
        |  list_has_any(doms, ['ads.example']) AS blocked
        |FROM dom ORDER BY doc_id""".stripMargin)),

    // ---- language ID + quality scoring, oracle-checked: the DuckDB side
    // mirrors the stopword-table max and the clamped sub-score average
    // term by term. quality is compared floor-scaled (floor of an
    // identical double is engine-exact; round-to-decimal is not). The raw
    // xxhash64 fingerprint has no DuckDB twin, so the fingerprint is
    // compared through its collision structure (docs sharing a
    // fingerprint == docs sharing normalized text). ----
    Query("q_lang_quality", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      docsPar(s, d).select(
        col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang_detected"),
        (floor(TextFunctions.qualityScore(col("text")) * 1e6) / 1e6)
          .as("quality"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .withColumn("n_same_fingerprint",
          count(lit(1)).over(Window.partitionBy("fingerprint")))
        .select("doc_id", "lang_detected", "quality", "n_same_fingerprint")
        .orderBy("doc_id")
    },
      Some(langQualityOracle)),

    // ---- NFC normalization through the native codegen'd expression,
    // cross-engine vs DuckDB's utf8proc nfc_normalize (a JDK-vs-ICU
    // implementation parity gate). The ASCII corpus is invariant under
    // NFC, so each row is decorated with deterministic DEnormalized
    // prefixes (combining accents, the Angstrom singleton, a ligature
    // NFC must preserve) — the same composition in the oracle — making
    // the gate non-vacuous: post_len < pre_len on every row. ----
    Query("q_nfc_normalize", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      // \u escapes, not raw glyphs (an NFC-normalizing editor would
      // silently recompose them and vacuate the gate): combining acute,
      // Angstrom-sign singleton, combining diaeresis, fi ligature
      val deco = concat(
        lit("Cafe\u0301 \u212B nai\u0308ve \uFB01ne "),
        substring(col("text"), 1, 40))
      docsPar(s, d).select(col("doc_id"), deco.as("deco"))
        .select(
          col("doc_id"),
          TextFunctions.unicodeNormalize(col("deco"), "NFC").as("nfc_text"),
          length(col("deco")).cast("long").as("pre_len"),
          length(TextFunctions.unicodeNormalize(col("deco"), "NFC"))
            .cast("long").as("post_len"))
        .orderBy("doc_id")
    },
      // same decorated composition as the Spark side (chr codepoints:
      // 769 = U+0301 combining acute, 8491 = U+212B Angstrom sign,
      // 776 = U+0308 combining diaeresis, 64257 = U+FB01 fi ligature)
      Some("""WITH deco AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || ' ' || chr(8491) || ' nai' || chr(776)
        |      || 've ' || chr(64257) || 'ne ' || substr(text, 1, 40)
        |      AS deco
        |  FROM documents
        |)
        |SELECT doc_id, nfc_normalize(deco) AS nfc_text,
        |  CAST(length(deco) AS BIGINT) AS pre_len,
        |  CAST(length(nfc_normalize(deco)) AS BIGINT) AS post_len
        |FROM deco ORDER BY doc_id""".stripMargin)),

    // ---- multimodal: REAL PNG encode → javax.imageio decode → pixel
    // features, oracle-checked against the closed-form fixture spec (the
    // synthetic media are solid-color PNGs whose dimensions and RGB are
    // pure functions of the id — Multimodal.syntheticSpec — so the decoded
    // channel means have exact integer expected values) ----
    Query("q_multimodal_features", (s, d) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.syntheticMedia(
        docsPar(s, d).select(col("doc_id")), "doc_id")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("decode_ok"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          // channel means of a solid image are exactly rgb/255; scale back
          // and snap to the integer — engine-exact compare
          floor(element_at(col("embedding"), 1) * 255 + 0.5).as("r"),
          floor(element_at(col("embedding"), 2) * 255 + 0.5).as("g"),
          floor(element_at(col("embedding"), 3) * 255 + 0.5).as("b"))
        .orderBy("media_id")
    },
      // closed-form twin of Multimodal.syntheticSpec: what the real ImageIO
      // decode must recover from each generated solid-color PNG
      Some("""SELECT doc_id AS media_id, true AS decode_ok,
        |  doc_id % 64 + 32 AS width,
        |  doc_id % 48 + 24 AS height,
        |  (doc_id * 7) % 256 AS r,
        |  (doc_id * 13) % 256 AS g,
        |  (doc_id * 29) % 256 AS b
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- deterministic content-hash train/val/test split (counts per
    // source × split; sha256 parity with the oracle is pinned by
    // q_hash_id) ----
    Query("q_hash_split", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.hashSplit(docsPar(s, d).select("doc_id", "source"),
          "doc_id", Seq("train" -> "cc", "val" -> "e6"), rest = "test")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },
      Some("""SELECT source,
        |  CASE WHEN substr(sha256('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substr(sha256('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |         THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // ---- Efraimidis–Spirakis weighted sampling without replacement:
    // per-source top-20 by u^(1/w) with w = n_chars — sample long docs
    // preferentially, deterministically (the weighted upgrade of
    // q_stratified_sample). Ranked by ln(u)/w: same order, no pow() in
    // the plan; the oracle replays the exact md5 uniform and key. ----
    Query("q_weighted_sample", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.weightedSample(
          docsPar(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "doc_id", "source", col("n_chars"), n = 20)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    },
      Some("""WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    ln((CAST(md5_number_upper('ws|' || CAST(doc_id AS VARCHAR))
        |        % 72057594037927936 AS BIGINT) + 1)
        |      / 72057594037927936.0)
        |    / greatest(CAST(n_chars AS DOUBLE), 1e-9) AS key
        |  FROM documents
        |)
        |SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY key DESC, doc_id) AS rk
        |  FROM k)
        |WHERE rk <= 20
        |ORDER BY source, doc_id""".stripMargin)),

    // ---- the curation funnel: the full pretraining filter stack (lang →
    // quality → repetition → PII) composed into one per-source accounting
    // query, first-failing-rule attribution — every component is
    // individually oracle-proven above; this pins their composition ----
    Query("q_curation_funnel", (s, d) => {
      val docs = docsPar(s, d).select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" "),
          col("text")))                                   // repetition
          .when(col("doc_id") % 13 === 0, concat(col("text"),
            lit(" mail me: x"), col("doc_id"), lit("@spam.net")))  // PII
          .otherwise(col("text")).as("text"))
      val raw = TextFunctions.qualityScore(col("text"))
      val rep = TextFunctions.repetitionRatio(col("text"), 3)
      val (em, ip, ph) = TextFunctions.piiCounts(col("text"))
      val verdict =
        when(TextFunctions.langId(col("text")) === "und", "drop_lang")
          .when(raw < 0.4, "drop_quality")
          .when(rep > 0.2, "drop_repetition")
          .when(em + ip + ph > 0, "drop_pii")
          .otherwise("keep")
      docs.withColumn("verdict", verdict)
        .groupBy("source", "verdict")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "verdict")
    },
      Some(curationOracle)),

    // ---- PII scrubbing (emails/IPs/phones): deterministic PII appended
    // in-query (same expression both sides), counted and redacted with
    // typed placeholders; the regexes stay in the RE2 ∩ Java dialect ----
    Query("q_pii", (s, d) => {
      val docs = docsPar(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("10.0."), (col("doc_id") % 256).cast("string"), lit(".1 "),
          lit("555-867-"), lpad((col("doc_id") % 10000).cast("string"),
            4, "0")))
          .otherwise(col("text")).as("text"))
      val (e, i, p) = TextFunctions.piiCounts(col("text"))
      docs.select(col("doc_id"), e.as("n_emails"), i.as("n_ips"),
          p.as("n_phones"),
          length(TextFunctions.redactPii(col("text"))).cast("long")
            .as("redacted_len"))
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text ||
        |      ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or ' ||
        |      '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ' ||
        |      '555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
        |    AS n_ips,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
        |      '<IP>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(length(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |          '<EMAIL>', 'g'),
        |        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
        |        '<IP>', 'g'),
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
        |    AS BIGINT) AS redacted_len
        |FROM d ORDER BY doc_id""".stripMargin)),

    // ---- intra-document repetition (Gopher/C4 duplicate-n-gram filter):
    // docs doubled in place (doc_id%5=0, same expression both sides) must
    // score ~0.5+, originals near 0 — exact integer-count math ----
    Query("q_repetition", (s, d) => {
      val docs = docsPar(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" "),
          col("text"))).otherwise(col("text")).as("text"))
      val raw = TextFunctions.repetitionRatio(col("text"), 3)
      // flag compares the RAW exact ratio (identical doubles both
      // engines); the emitted ratio is floor-scaled for display
      docs.select(col("doc_id"),
          (floor(raw * 1e6) / 1e6).as("rep_ratio"),
          (raw > 0.2).as("flagged"))
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text
        |         ELSE text END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS tk
        |  FROM d
        |), g AS (
        |  SELECT doc_id,
        |    greatest(len(tk) - 2, 0) AS total,
        |    len(list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS n_distinct
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN total <= 0 THEN 0.0
        |       ELSE floor(CAST(total - n_distinct AS DOUBLE) / total * 1e6)
        |         / 1e6 END AS rep_ratio,
        |  CASE WHEN total <= 0 THEN false
        |       ELSE CAST(total - n_distinct AS DOUBLE) / total > 0.2
        |       END AS flagged
        |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- Gopher repetition-filter suite (Rae et al. 2021 Table A1):
    // duplicate-line fractions + top/dup n-gram char fractions, one
    // row-local kernel pass (no shuffle). Lines are synthesized
    // deterministically (replace ' the ' with newline — plain
    // non-overlapping string replace, identical both engines) since the
    // synthetic corpus is single-line; emitted ratios floor-scaled, the
    // q_repetition convention ----
    Query("q_gopher_repetition", (s, d) => {
      val lined = docsPar(s, d).select(col("doc_id"),
        replace(col("text"), lit(" the "), lit("\n")).as("text"))
      def q6(c: org.apache.spark.sql.Column) = floor(c * 1e6) / 1e6
      lined
        .select(col("doc_id"),
          TextFunctions.gopherStats(col("text"), topN = 2, dupN = 5)
            .as("g"))
        .select(col("doc_id"),
          q6(col("g._1")).as("dup_line_frac"),
          q6(col("g._2")).as("dup_line_char_frac"),
          q6(col("g._3")).as("top_2gram_char_frac"),
          q6(col("g._4")).as("dup_5gram_char_frac"))
        .orderBy("doc_id")
    },
      // replays the Gopher kernel's line/gram group-counting with per-doc
      // unnest + GROUP BY; every fraction is exact-integer arithmetic
      // widened once to double, so the floor-quantized values match
      // bit-for-bit (the q_repetition convention)
      Some("""WITH lined AS (
        |  SELECT doc_id, replace(text, ' the ', chr(10)) AS text
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, trim(l) AS line FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |    FROM lined)
        |  WHERE length(trim(l)) > 0
        |), lg AS (
        |  SELECT doc_id, line, count(*) AS c
        |  FROM lines GROUP BY doc_id, line
        |), lstat AS (
        |  SELECT doc_id,
        |    CAST(sum(c) - count(*) AS DOUBLE) /
        |      CAST(sum(c) AS BIGINT) AS dlf,
        |    CASE WHEN sum(c * length(line)) > 0 THEN
        |      CAST(sum((c - 1) * length(line)) AS DOUBLE) /
        |        CAST(sum(c * length(line)) AS BIGINT)
        |      ELSE 0.0 END AS dlcf
        |  FROM lg GROUP BY doc_id
        |), w AS (
        |  SELECT doc_id, string_split(nt, ' ') AS t,
        |    length(nt) AS total_chars
        |  FROM (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |    FROM lined)
        |), g2c AS (
        |  SELECT doc_id, total_chars, gram, count(*) AS c FROM (
        |    SELECT doc_id, total_chars,
        |      unnest(list_transform(range(1, len(t)),
        |        i -> t[i] || ' ' || t[i+1])) AS gram
        |    FROM w WHERE len(t) >= 2)
        |  GROUP BY doc_id, total_chars, gram
        |), top2 AS (
        |  SELECT doc_id,
        |    CAST(c * length(gram) AS DOUBLE) / total_chars AS tf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY c DESC, gram) AS rn
        |  FROM g2c
        |), g5c AS (
        |  SELECT doc_id, gram, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(t) - 3),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
        |          || t[i+3] || ' ' || t[i+4])) AS gram
        |    FROM w WHERE len(t) >= 5)
        |  GROUP BY doc_id, gram
        |), dup5 AS (
        |  SELECT doc_id,
        |    CASE WHEN sum(c * length(gram)) > 0 THEN
        |      CAST(sum(CASE WHEN c >= 2 THEN c * length(gram)
        |        ELSE 0 END) AS DOUBLE) /
        |        CAST(sum(c * length(gram)) AS BIGINT)
        |      ELSE 0.0 END AS df
        |  FROM g5c GROUP BY doc_id
        |)
        |SELECT l.doc_id,
        |  floor(coalesce(s.dlf, 0.0) * 1e6) / 1e6 AS dup_line_frac,
        |  floor(coalesce(s.dlcf, 0.0) * 1e6) / 1e6 AS dup_line_char_frac,
        |  floor(coalesce(t2.tf, 0.0) * 1e6) / 1e6 AS top_2gram_char_frac,
        |  floor(coalesce(d5.df, 0.0) * 1e6) / 1e6 AS dup_5gram_char_frac
        |FROM lined l
        |LEFT JOIN lstat s USING (doc_id)
        |LEFT JOIN (SELECT doc_id, tf FROM top2 WHERE rn = 1) t2
        |  USING (doc_id)
        |LEFT JOIN dup5 d5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- web-text cleanup (scraped-corpus ingestion): HTML strip +
    // pinned entity unescape + UTF-8-as-cp1252 mojibake repair +
    // whitespace collapse, all codegen'd builtins, zero shuffle. The
    // fixture prefixes every 9th doc with a dirty snippet covering
    // script-block removal, tag→space, entity order (&amp; last), and
    // five mojibake forms; the oracle SQL is GENERATED from the same
    // replacement tables (TextFunctions.webCleanSql) so it cannot
    // drift ----
    Query("q_web_clean", (s, d) => {
      docsPar(s, d).where(col("doc_id") % 9 === 0)
        .select(col("doc_id"),
          TextFunctions.webClean(
            concat(lit(webDirtyPrefix), col("text"))).as("clean"))
        .orderBy("doc_id")
    },
      // GENERATED from the same replacement tables as the implementation
      // (TextFunctions.webCleanSql) — regexes, entity order, and mojibake
      // digraphs are byte-identical by construction
      Some({
      val raw = "'" + webDirtyPrefix.replace("'", "''") + "' || text"
      s"""SELECT doc_id, ${TextFunctions.webCleanSql(raw)} AS clean
         |FROM documents WHERE doc_id % 9 = 0
         |ORDER BY doc_id""".stripMargin
    })),

    // ---- trained language ID: Cavnar–Trenkle character-trigram rank
    // profiles from the doc_id%5=0 labeled split, out-of-place distance
    // scoring against broadcast profiles — the classifier rung above
    // q_lang_quality's stopword heuristic. Integer distances with a
    // total-order rank (count DESC, trigram ASC), so the oracle replays
    // the whole classifier exactly ----
    Query("q_lid_rank", (s, d) => {
      graft.operators.LangId.rankProfileLid(docsPar(s, d), "doc_id",
          "text", "lang", col("doc_id") % 5 === 0, topN = 20)
        .orderBy("doc_id")
    },
      // replays the Cavnar–Trenkle classifier end to end: per-doc and
      // per-lang (train split doc_id%5=0) top-20 trigram rank profiles,
      // out-of-place distance with miss penalty 20, argmin by
      // (dist, lang)
      Some("""WITH nrm AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
        |  WHERE length(lower(trim(text))) >= 3
        |), tr AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, length(t) - 1),
        |      p -> t[p:p+2])) AS tri
        |  FROM nrm
        |), dc AS (
        |  SELECT doc_id, tri, count(*) AS c FROM tr GROUP BY 1, 2
        |), dp AS (
        |  SELECT doc_id, tri, r_doc FROM (
        |    SELECT doc_id, tri, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY c DESC, tri) AS r_doc FROM dc)
        |  WHERE r_doc <= 20
        |), lc AS (
        |  SELECT lang, tri, count(*) AS c FROM tr
        |  WHERE doc_id % 5 = 0 GROUP BY 1, 2
        |), lp AS (
        |  SELECT lang, tri, r_lang FROM (
        |    SELECT lang, tri, row_number() OVER (PARTITION BY lang
        |      ORDER BY c DESC, tri) AS r_lang FROM lc)
        |  WHERE r_lang <= 20
        |), langs AS (
        |  SELECT DISTINCT lang FROM lp
        |), sc AS (
        |  SELECT dp.doc_id, langs.lang AS cand,
        |    CAST(sum(coalesce(abs(dp.r_doc - lp.r_lang), 20)) AS BIGINT)
        |      AS dist
        |  FROM dp CROSS JOIN langs
        |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.tri = dp.tri
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, cand AS pred_lang, dist FROM (
        |  SELECT doc_id, cand, dist, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY dist, cand) AS rk FROM sc)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ---- curriculum ordering (Bengio 2009): easy-to-hard difficulty
    // bands with sources round-robin interleaved inside each band —
    // the curriculum is the lexicographic order of the emitted sort
    // keys (no global order index column: that would be a
    // single-partition window); ONE (band, source) window shuffle ----
    Query("q_curriculum", (s, d) => {
      import graft.operators.DataPrep
      val scored = docsPar(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextFunctions.prefScore(col("text")).as("difficulty"))
      DataPrep.curriculumOrder(scored, "doc_id", "source",
          col("difficulty"), bandWidth = 2000L, maxBand = 3)
        .select(col("doc_id"), col("source"), col("difficulty"),
          col("band"), col("interleave_rank"))
        .orderBy("band", "interleave_rank", "source", "doc_id")
    },
      // same integer difficulty (prefScoreSql), same fixed-threshold
      // banding (integer //, both operands non-negative), same
      // per-(band, source) rank window
      Some(("""WITH scored AS (
        |  SELECT doc_id, source,
        |    """ + graft.functions.TextFunctions.prefScoreSql("text") +
        """ AS difficulty
        |  FROM documents WHERE text IS NOT NULL
        |), banded AS (
        |  SELECT doc_id, source, difficulty,
        |    least(greatest(difficulty, 0) // 2000, 3) AS band
        |  FROM scored
        |)
        |SELECT doc_id, source, difficulty,
        |  CAST(band AS BIGINT) AS band,
        |  CAST(row_number() OVER (PARTITION BY band, source
        |    ORDER BY greatest(difficulty, 0), doc_id) AS BIGINT)
        |    AS interleave_rank
        |FROM banded
        |ORDER BY band, interleave_rank, source, doc_id""").stripMargin)),

    // ---- k-anonymity / l-diversity release gate over
    // (lang, source, length-band) quasi-identifiers: group size,
    // distinct-sensitive count, and the publish verdict — ONE keyed
    // agg of fixed-width group keys ----
    Query("q_kanon", (s, d) => {
      val qi = docsPar(s, d).select(col("lang"), col("source"),
        expr("n_chars div 500").as("len_band"), col("text"))
      graft.operators.Privacy.kAnonymityStats(qi,
          Seq("lang", "source", "len_band"), "text", k = 5L, l = 2L)
        .orderBy("lang", "source", "len_band")
    },
      // one GROUP BY on the quasi-identifier tuple; count(DISTINCT)
      // ignores NULL sensitive values on both engines
      Some("""SELECT lang, source, n_chars // 500 AS len_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT text) AS BIGINT) AS l_div,
        |  (count(*) >= 5 AND count(DISTINCT text) >= 2) AS kept
        |FROM documents
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- row-level cell suppression twin: QI cells NULLed in
    // sub-k groups, row count preserved — one window count over the
    // same QI key ----
    Query("q_kanon_rows", (s, d) => {
      val qi = docsPar(s, d).select(col("doc_id"), col("lang"),
        col("source"), expr("n_chars div 500").as("len_band"))
      graft.operators.Privacy.kAnonymize(qi,
          Seq("lang", "source", "len_band"), k = 5L)
        .orderBy("doc_id")
    },
      // the row-level window-count twin; suppressed rows keep their
      // doc_id but lose every QI cell
      Some("""WITH qi AS (
        |  SELECT doc_id, lang, source, n_chars // 500 AS len_band,
        |    count(*) OVER (PARTITION BY lang, source, n_chars // 500)
        |      < 5 AS suppressed
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN suppressed THEN NULL ELSE lang END AS lang,
        |  CASE WHEN suppressed THEN NULL ELSE source END AS source,
        |  CASE WHEN suppressed THEN NULL ELSE len_band END AS len_band,
        |  suppressed
        |FROM qi ORDER BY doc_id""".stripMargin)),

    // ---- DSIR importance weights (Xie et al. 2023 data selection):
    // hashed unigram+bigram features, add-one-smoothed target/raw
    // bucket distributions, per-doc quantized log importance weight.
    // Both corpora reduce to <= 4096-row bucket tables (broadcast by
    // construction); the raw side pays one narrow explode + broadcast
    // join. Portable md5 buckets so the oracle replays the exact hash ----
    Query("q_dsir", (s, d) => {
      import graft.operators.DataPrep
      val docs = docsPar(s, d)
      val target = docs.where(col("source").isin("src0", "src1"))
      DataPrep.dsirWeights(docs, target, "doc_id", "text",
          buckets = 4096, portable = true)
        .orderBy("doc_id")
    },
      // replays the md5Long56 bucket hash, the add-one smoothing, and the
      // once-quantized per-bucket log ratio; per-doc sums are integer
      // sums, so they commute on both engines
      Some("""WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), ttk AS (
        |  SELECT list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents WHERE source IN ('src0', 'src1')
        |), rb AS (
        |  SELECT doc_id,
        |    CAST(md5_number_upper(gram) % 72057594037927936 AS BIGINT)
        |      % 4096 AS bucket
        |  FROM (SELECT doc_id, unnest(t || CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END) AS gram
        |    FROM tk)
        |), tb AS (
        |  SELECT
        |    CAST(md5_number_upper(gram) % 72057594037927936 AS BIGINT)
        |      % 4096 AS bucket
        |  FROM (SELECT unnest(t || CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END) AS gram
        |    FROM ttk)
        |), rc AS (
        |  SELECT bucket, count(*) AS rcnt FROM rb GROUP BY bucket
        |), tcn AS (
        |  SELECT bucket, count(*) AS tcnt FROM tb GROUP BY bucket
        |), tot AS (
        |  SELECT (SELECT CAST(sum(rcnt) AS BIGINT) FROM rc) AS rt,
        |    (SELECT CAST(sum(tcnt) AS BIGINT) FROM tcn) AS tt
        |), ratio AS (
        |  SELECT rc.bucket,
        |    CAST(floor((ln((CAST(coalesce(tcn.tcnt, 0) AS DOUBLE) + 1.0) /
        |        (CAST(tt AS DOUBLE) + 4096.0)) -
        |      ln((CAST(rc.rcnt AS DOUBLE) + 1.0) /
        |        (CAST(rt AS DOUBLE) + 4096.0))) * 1000000)
        |      AS BIGINT) AS lr
        |  FROM rc LEFT JOIN tcn USING (bucket) CROSS JOIN tot
        |)
        |SELECT rb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(sum(r.lr) AS BIGINT) AS weight_q6,
        |  CAST(sum(r.lr) AS DOUBLE) / (count(*) * 1000000) AS avg_logratio
        |FROM rb JOIN ratio r USING (bucket)
        |GROUP BY rb.doc_id ORDER BY rb.doc_id""".stripMargin)),

    // ---- generation-eval metrics: the GENERATION leg of the eval
    // family beside q_ranking_metrics' retrieval leg. chrF is
    // transcendental-free by construction (ppm-quantized per-order
    // P/R BEFORE the order average and F-score — BLEU's exp/ln would
    // never replay across engines); CER rides both engines' NATIVE
    // levenshtein; distinct-n is the mode-collapse detector over the
    // whole corpus. Pairs: evalPairs' two deterministic strata ----
    Query("q_chrf", (s, d) => {
      graft.operators.EvalMetrics.chrF(evalPairs(s, d), "doc_id",
          "hyp", "ref")
        .orderBy("doc_id")
    },
      // chrF replay: the same multiset gram extraction per order 1..6
      // (range bound exact, so no descending-sequence or short-gram
      // edge exists), side-tagged counts off ONE union (a gram absent
      // from a side reads 0 — no join), ppm quantization per order,
      // integer order-average and F-score
      Some({
      val sides = for {
        n <- 1 to 6
        (c, wh, wr) <- Seq(("hs", 1, 0), ("rs", 0, 1))
      } yield
        s"""SELECT doc_id, $n AS n,
           |  unnest(list_transform(range(1, greatest(len($c) - ${n - 1}, 0) + 1),
           |    i -> substr($c, i, $n))) AS g, $wh AS wh, $wr AS wr
           |FROM p""".stripMargin
      s"""WITH p AS (
         |  SELECT doc_id,
         |    regexp_replace(hyp, '\\s+', '', 'g') AS hs,
         |    regexp_replace(ref, '\\s+', '', 'g') AS rs
         |  FROM ($evalPairsSql)
         |), gr AS (
         |${sides.mkString("\nUNION ALL\n")}
         |), counts AS (
         |  SELECT doc_id, n, g, CAST(sum(wh) AS BIGINT) AS ch,
         |    CAST(sum(wr) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1, 2, 3
         |), per_order AS (
         |  SELECT doc_id, n, CAST(sum(least(ch, cr)) AS BIGINT) AS m,
         |    CAST(sum(ch) AS BIGINT) AS ht, CAST(sum(cr) AS BIGINT) AS rt
         |  FROM counts GROUP BY 1, 2
         |), pq AS (
         |  SELECT doc_id,
         |    coalesce(m * 1000000 // nullif(ht, 0), 0) AS pr,
         |    coalesce(m * 1000000 // nullif(rt, 0), 0) AS rc
         |  FROM per_order
         |), agg AS (
         |  SELECT doc_id, CAST(sum(pr) // 6 AS BIGINT) AS prec_ppm,
         |    CAST(sum(rc) // 6 AS BIGINT) AS rec_ppm
         |  FROM pq GROUP BY 1
         |)
         |SELECT p.doc_id, coalesce(prec_ppm, 0) AS prec_ppm,
         |  coalesce(rec_ppm, 0) AS rec_ppm,
         |  coalesce((5 * prec_ppm * rec_ppm) //
         |    nullif(4 * prec_ppm + rec_ppm, 0), 0) AS chrf_ppm
         |FROM p LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })),

    Query("q_cer", (s, d) => {
      graft.operators.EvalMetrics.cer(evalPairs(s, d), "doc_id",
          "hyp", "ref")
        .orderBy("doc_id")
    },
      // CER: both engines' levenshtein is the same plain unit-cost edit
      // distance; whitespace normalized identically before comparing
      Some(s"""WITH p AS (
         |  SELECT doc_id,
         |    regexp_replace(trim(hyp), '\\s+', ' ', 'g') AS h,
         |    regexp_replace(trim(ref), '\\s+', ' ', 'g') AS r
         |  FROM ($evalPairsSql)
         |)
         |SELECT doc_id, CAST(levenshtein(h, r) AS BIGINT) AS edit_dist,
         |  CAST(length(r) AS BIGINT) AS ref_chars,
         |  CAST(levenshtein(h, r) * 1000000 // length(r) AS BIGINT)
         |    AS cer_ppm
         |FROM p WHERE r IS NOT NULL AND length(r) > 0 AND h IS NOT NULL
         |ORDER BY doc_id""".stripMargin)),

    Query("q_distinct_ngrams", (s, d) => {
      graft.operators.EvalMetrics.distinctN(docsPar(s, d),
          "source", "text")
        .orderBy("source", "n")
    },
      // distinct-n: word n-grams per order off one token split, exact
      // COUNT(DISTINCT) both sides
      Some({
      val sides = (1 to 3).map(n =>
        s"""SELECT source, $n AS n,
           |  unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
           |    i -> array_to_string(t[i:i+${n - 1}], ' '))) AS g
           |FROM toks""".stripMargin)
      s"""WITH toks AS (
         |  SELECT source, list_filter(string_split_regex(lower(trim(text)),
         |    '\\s+'), x -> len(x) > 0) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), gr AS (
         |${sides.mkString("\nUNION ALL\n")}
         |)
         |SELECT source, n, CAST(count(*) AS BIGINT) AS total_ngrams,
         |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         |  CAST(count(DISTINCT g) * 1000000 // count(*) AS BIGINT)
         |    AS distinct_ppm
         |FROM gr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })),

    // ---- approximate distinct-n (the 100 TB twin): the exact form's
    // per-(group, order) count(DISTINCT gram) is the eval family's one
    // unbounded state — its shuffle carries a vocabulary that grows
    // supra-linearly with the corpus (SCALING.md: 5.2x work at 10x on
    // the vocab-growth fixture). The HLL sketch bounds state at
    // |groups|·|orders|·4096 registers at σ≈1.6%, and the estimator
    // replays bit-for-bit in SQL (the q_hll_distinct convention) ----
    Query("q_distinct_ngrams_approx", (s, d) => {
      graft.operators.EvalMetrics.distinctNApprox(docsPar(s, d),
          "source", "text")
        .orderBy("source", "n")
    },
      // approximate distinct-n: the same gram stream through the full
      // HLL replay (q_hll_distinct estimator SQL, keyed by (source, n),
      // registers carrying bucket counts so totals need no second gram
      // aggregation)
      Some({
      val sides = (1 to 3).map(n =>
        s"""SELECT source, $n AS n,
           |  unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
           |    i -> array_to_string(t[i:i+${n - 1}], ' '))) AS g
           |FROM toks""".stripMargin)
      s"""WITH toks AS (
         |  SELECT source, list_filter(string_split_regex(lower(trim(text)),
         |    '\\s+'), x -> len(x) > 0) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), gr AS (
         |${sides.mkString("\nUNION ALL\n")}
         |), h AS (
         |  SELECT source, n,
         |    CAST(md5_number_upper(g) % 72057594037927936 AS BIGINT) AS h
         |  FROM gr
         |), regs AS (
         |  SELECT source, n, h // 17592186044416 AS bucket,
         |    CAST(count(*) AS BIGINT) AS bc,
         |    min(CASE WHEN h % 17592186044416 = 0 THEN 0
         |      ELSE length(bin(h % 17592186044416)) END) AS min_len
         |  FROM h GROUP BY source, n, bucket
         |), agg AS (
         |  SELECT source, n, CAST(sum(bc) AS BIGINT) AS total_ngrams,
         |    CAST(count(*) AS BIGINT) AS n_present,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(min_len AS INT))
         |        AS BIGINT)
         |      + (4096 - CAST(count(*) AS BIGINT)) * 35184372088832
         |      AS s_scaled
         |  FROM regs GROUP BY source, n
         |), est AS (
         |  SELECT source, n, total_ngrams, n_present, s_scaled,
         |    CAST(floor(4.2566823519294213e20 / CAST(s_scaled AS DOUBLE))
         |      AS BIGINT) AS est_raw_q,
         |    CAST(floor(CASE
         |      WHEN 4.2566823519294213e20 / CAST(s_scaled AS DOUBLE)
         |          <= 10240.0 AND n_present < 4096
         |        THEN 4096.0 * ln(4096.0 /
         |          CAST(4096 - n_present AS DOUBLE))
         |      ELSE 4.2566823519294213e20 / CAST(s_scaled AS DOUBLE)
         |    END) AS BIGINT) AS est_q
         |  FROM agg
         |)
         |SELECT source, n, total_ngrams, n_present, s_scaled,
         |  est_raw_q, est_q,
         |  CAST(est_q * 1000000 // total_ngrams AS BIGINT)
         |    AS distinct_ppm_est
         |FROM est ORDER BY source, n""".stripMargin
    })),

    // ---- SQuAD-style token F1 (the QA/distillation span score):
    // clipped token overlap via the native row-local kernel — the
    // chrF zero-shuffle argument at token grain ----
    Query("q_token_f1", (s, d) => {
      graft.operators.EvalMetrics.tokenF1(evalPairs(s, d), "doc_id",
          "hyp", "ref")
        .orderBy("doc_id")
    },
      // token F1: the clipped-overlap replay at token grain — the
      // side-tagged union-count shape proves the native two-pointer
      // kernel against a fully relational computation
      Some(s"""WITH p AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(hyp)), '\\s+'),
         |      x -> len(x) > 0) AS ht,
         |    list_filter(string_split_regex(lower(trim(ref)), '\\s+'),
         |      x -> len(x) > 0) AS rt
         |  FROM ($evalPairsSql)
         |), gr AS (
         |  SELECT doc_id, unnest(ht) AS t, 1 AS wh, 0 AS wr FROM p
         |  UNION ALL
         |  SELECT doc_id, unnest(rt) AS t, 0 AS wh, 1 AS wr FROM p
         |), counts AS (
         |  SELECT doc_id, t, CAST(sum(wh) AS BIGINT) AS ch,
         |    CAST(sum(wr) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1, 2
         |), m AS (
         |  SELECT doc_id, CAST(sum(least(ch, cr)) AS BIGINT) AS n_match
         |  FROM counts GROUP BY 1
         |), pr AS (
         |  SELECT p.doc_id, coalesce(n_match, 0) AS n_match,
         |    CAST(len(ht) AS BIGINT) AS n_hyp,
         |    CAST(len(rt) AS BIGINT) AS n_ref,
         |    CASE WHEN len(ht) = 0 THEN 0
         |      ELSE coalesce(n_match, 0) * 1000000 // len(ht) END
         |      AS prec_ppm,
         |    CASE WHEN len(rt) = 0 THEN 0
         |      ELSE coalesce(n_match, 0) * 1000000 // len(rt) END
         |      AS rec_ppm
         |  FROM p LEFT JOIN m USING (doc_id)
         |)
         |SELECT doc_id, n_match, n_hyp, n_ref,
         |  CAST(prec_ppm AS BIGINT) AS prec_ppm,
         |  CAST(rec_ppm AS BIGINT) AS rec_ppm,
         |  CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
         |    ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END
         |    AS BIGINT) AS f1_ppm
         |FROM pr ORDER BY doc_id""".stripMargin)),

    // ---- ROUGE-L (the most-reported summarization metric): LCS
    // P/R/F1 in ppm via the native O(m·n) DP kernel — zero shuffles;
    // the oracle replays the SAME prefix-max recurrence as a
    // recursive-CTE row DP ----
    Query("q_rouge_l", (s, d) => {
      graft.operators.EvalMetrics.rougeL(evalPairs(s, d), "doc_id",
          "hyp", "ref")
        .orderBy("doc_id")
    },
      // ROUGE-L: the LCS row DP in PREFIX-MAX form as a recursive CTE —
      // dp_i[j] = max(dp_{i-1}[j], max_{j'<=j, rt[j']=ht[i]}
      // (dp_{i-1}[j'-1]+1)) — the same recurrence the Spark-side
      // cross-check fold runs (EvalMetrics.lcsLenViaFold), eliminating
      // the classic recurrence's within-row dependency so the row step
      // is one list_transform; integer DP + ppm divisions replay the
      // native kernel bit-for-bit
      Some(s"""WITH RECURSIVE p AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(hyp)), '\\s+'),
         |      x -> len(x) > 0) AS ht,
         |    list_filter(string_split_regex(lower(trim(ref)), '\\s+'),
         |      x -> len(x) > 0) AS rt
         |  FROM ($evalPairsSql)
         |), lcs AS (
         |  SELECT doc_id, ht, rt, 0 AS i,
         |    list_transform(range(0, len(rt) + 1),
         |      x -> CAST(0 AS BIGINT)) AS dp
         |  FROM p
         |  UNION ALL
         |  SELECT doc_id, ht, rt, i + 1,
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(rt) + 1), j ->
         |        greatest(dp[j + 1],
         |          coalesce(list_max(list_transform(range(1, j + 1),
         |            jp -> CASE WHEN rt[jp] = ht[i + 1]
         |              THEN dp[jp] + 1 ELSE NULL END)),
         |            CAST(0 AS BIGINT)))))
         |  FROM lcs WHERE i < len(ht)
         |), fin AS (
         |  SELECT doc_id, dp[len(rt) + 1] AS lcs_len,
         |    CAST(len(ht) AS BIGINT) AS n_hyp,
         |    CAST(len(rt) AS BIGINT) AS n_ref
         |  FROM lcs WHERE i = len(ht)
         |), pr AS (
         |  SELECT doc_id, coalesce(lcs_len, 0) AS lcs_len, n_hyp, n_ref,
         |    CASE WHEN n_hyp = 0 THEN 0
         |      ELSE coalesce(lcs_len, 0) * 1000000 // n_hyp END AS prec_ppm,
         |    CASE WHEN n_ref = 0 THEN 0
         |      ELSE coalesce(lcs_len, 0) * 1000000 // n_ref END AS rec_ppm
         |  FROM fin
         |)
         |SELECT doc_id, CAST(lcs_len AS BIGINT) AS lcs_len, n_hyp, n_ref,
         |  CAST(prec_ppm AS BIGINT) AS prec_ppm,
         |  CAST(rec_ppm AS BIGINT) AS rec_ppm,
         |  CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
         |    ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END
         |    AS BIGINT) AS rouge_l_ppm
         |FROM pr ORDER BY doc_id""".stripMargin)),

    // ---- ROUGE-2 (the trio's n-gram member): clipped bigram overlap
    // P/R/F1 via the same native array kernel — tokenF1 lifted to
    // order-2 grams, zero shuffles ----
    Query("q_rouge_2", (s, d) => {
      graft.operators.EvalMetrics.rougeN(evalPairs(s, d), "doc_id",
          "hyp", "ref", n = 2)
        .orderBy("doc_id")
    },
      // ROUGE-2: the q_token_f1 union-agg clipped-count shape over
      // bigram lists (same tokenization, same ppm arithmetic)
      Some(s"""WITH p AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(hyp)), '\\s+'),
         |      x -> len(x) > 0) AS ht,
         |    list_filter(string_split_regex(lower(trim(ref)), '\\s+'),
         |      x -> len(x) > 0) AS rt
         |  FROM ($evalPairsSql)
         |), g AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(len(ht) - 1, 0) + 1),
         |      i -> array_to_string(ht[i:i+1], ' ')) AS hg,
         |    list_transform(range(1, greatest(len(rt) - 1, 0) + 1),
         |      i -> array_to_string(rt[i:i+1], ' ')) AS rg
         |  FROM p
         |), gr AS (
         |  SELECT doc_id, unnest(hg) AS t, 1 AS wh, 0 AS wr FROM g
         |  UNION ALL
         |  SELECT doc_id, unnest(rg) AS t, 0 AS wh, 1 AS wr FROM g
         |), counts AS (
         |  SELECT doc_id, t, CAST(sum(wh) AS BIGINT) AS ch,
         |    CAST(sum(wr) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1, 2
         |), m AS (
         |  SELECT doc_id, CAST(sum(least(ch, cr)) AS BIGINT) AS n_match
         |  FROM counts GROUP BY 1
         |), pr AS (
         |  SELECT g.doc_id, coalesce(n_match, 0) AS n_match,
         |    CAST(len(hg) AS BIGINT) AS n_hyp_grams,
         |    CAST(len(rg) AS BIGINT) AS n_ref_grams,
         |    CASE WHEN len(hg) = 0 THEN 0
         |      ELSE coalesce(n_match, 0) * 1000000 // len(hg) END
         |      AS prec_ppm,
         |    CASE WHEN len(rg) = 0 THEN 0
         |      ELSE coalesce(n_match, 0) * 1000000 // len(rg) END
         |      AS rec_ppm
         |  FROM g LEFT JOIN m USING (doc_id)
         |)
         |SELECT doc_id, n_match, n_hyp_grams, n_ref_grams,
         |  CAST(prec_ppm AS BIGINT) AS prec_ppm,
         |  CAST(rec_ppm AS BIGINT) AS rec_ppm,
         |  CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
         |    ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END
         |    AS BIGINT) AS f1_ppm
         |FROM pr ORDER BY doc_id""".stripMargin)),

    // ---- ROUGE-Lsum (the rouge-score library's newline-split
    // summary-level metric, r14 verdict #6): per-reference-sentence
    // union-LCS via the alignment-independent ∃-optimal membership
    // test — kernel, spec reference, and the oracle's two recursive
    // prefix/suffix DP CTEs provably agree because the test depends
    // only on DP VALUES, never a backtrack tie-break. The word-soup
    // corpus has no newlines, so the fixture folds each side into
    // 6-word lines (the same fold in both engines) ----
    Query("q_rouge_lsum", (s, d) => {
      def fold(c: Column): Column = {
        val ws = split(c, " ")
        val nLines = ceil(size(ws) / lit(6.0)).cast("int")
        array_join(
          transform(sequence(lit(0), greatest(nLines - 1, lit(0))),
            j => array_join(slice(ws, j * 6 + 1, lit(6)), " ")), "\n")
      }
      graft.operators.EvalMetrics.rougeLsum(
        evalPairs(s, d).select(col("doc_id"),
          fold(col("hyp")).as("hyp"), fold(col("ref")).as("ref")),
        "doc_id", "hyp", "ref")
        .orderBy("doc_id")
    },
      // ROUGE-Lsum: the 6-word fold, then per-(ref sentence, hyp
      // sentence) prefix AND suffix LCS DPs as two recursive CTEs (the
      // q_rouge_l row DP run forward and over reversed lists), the
      // alignment-independent union membership test fwd(p−1,q−1) + 1 +
      // bwd(m−p,n−q) = L — DP values only, no backtrack, so it provably
      // equals the Spark kernel on every input — and rouge-score's
      // GLOBAL token clipping in closed form: per token, member
      // positions count only up to the hypothesis's supply
      // (Σ_t least(k_t, c_t) — token counters are independent, so the
      // sequential decrement order cannot matter)
      Some(s"""WITH RECURSIVE p AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(
         |      range(0, CAST(ceil(len(hw) / 6.0) AS BIGINT)),
         |      j -> array_to_string(hw[j*6+1:j*6+6], ' ')), chr(10)) AS hyp,
         |    array_to_string(list_transform(
         |      range(0, CAST(ceil(len(rw) / 6.0) AS BIGINT)),
         |      j -> array_to_string(rw[j*6+1:j*6+6], ' ')), chr(10)) AS ref
         |  FROM (SELECT doc_id, string_split(hyp, ' ') AS hw,
         |        string_split(ref, ' ') AS rw FROM ($evalPairsSql))
         |), sentH AS (
         |  SELECT doc_id, u.si AS hi, u.toks
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
         |      j -> struct_pack(si := j,
         |        toks := list_filter(
         |          string_split_regex(lower(trim(ls[j])), '\\s+'),
         |          x -> len(x) > 0)))) AS u
         |    FROM (SELECT doc_id, string_split(hyp, chr(10)) AS ls FROM p))
         |  WHERE len(u.toks) > 0
         |), sentR AS (
         |  SELECT doc_id, u.si AS ri, u.toks
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
         |      j -> struct_pack(si := j,
         |        toks := list_filter(
         |          string_split_regex(lower(trim(ls[j])), '\\s+'),
         |          x -> len(x) > 0)))) AS u
         |    FROM (SELECT doc_id, string_split(ref, chr(10)) AS ls FROM p))
         |  WHERE len(u.toks) > 0
         |), totals AS (
         |  SELECT p.doc_id,
         |    coalesce(h.n, 0) AS n_hyp, coalesce(r.m, 0) AS n_ref
         |  FROM p
         |  LEFT JOIN (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n
         |             FROM sentH GROUP BY 1) h USING (doc_id)
         |  LEFT JOIN (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS m
         |             FROM sentR GROUP BY 1) r USING (doc_id)
         |), sp AS (
         |  SELECT r.doc_id, r.ri, h.hi, r.toks AS rt, h.toks AS ct
         |  FROM sentR r JOIN sentH h USING (doc_id)
         |), fwd AS (
         |  SELECT doc_id, ri, hi, rt, ct, 0 AS i,
         |    list_transform(range(0, len(ct) + 1),
         |      x -> CAST(0 AS BIGINT)) AS dp
         |  FROM sp
         |  UNION ALL
         |  SELECT doc_id, ri, hi, rt, ct, i + 1,
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(ct) + 1), j ->
         |        greatest(dp[j + 1],
         |          coalesce(list_max(list_transform(range(1, j + 1),
         |            jp -> CASE WHEN ct[jp] = rt[i + 1]
         |              THEN dp[jp] + 1 ELSE NULL END)),
         |            CAST(0 AS BIGINT)))))
         |  FROM fwd WHERE i < len(rt)
         |), spR AS (
         |  SELECT doc_id, ri, hi, list_reverse(rt) AS rt,
         |    list_reverse(ct) AS ct
         |  FROM sp
         |), bwd AS (
         |  SELECT doc_id, ri, hi, rt, ct, 0 AS i,
         |    list_transform(range(0, len(ct) + 1),
         |      x -> CAST(0 AS BIGINT)) AS dp
         |  FROM spR
         |  UNION ALL
         |  SELECT doc_id, ri, hi, rt, ct, i + 1,
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, len(ct) + 1), j ->
         |        greatest(dp[j + 1],
         |          coalesce(list_max(list_transform(range(1, j + 1),
         |            jp -> CASE WHEN ct[jp] = rt[i + 1]
         |              THEN dp[jp] + 1 ELSE NULL END)),
         |            CAST(0 AS BIGINT)))))
         |  FROM bwd WHERE i < len(rt)
         |), tot AS (
         |  SELECT doc_id, ri, hi, dp[len(ct) + 1] AS L,
         |    len(rt) AS m, len(ct) AS n
         |  FROM fwd WHERE i = len(rt)
         |), mk AS (
         |  SELECT f.doc_id, f.ri, f.i + 1 AS pos,
         |    coalesce(list_max(list_transform(range(1, t.n + 1), q ->
         |      CASE WHEN f.rt[f.i + 1] = f.ct[q]
         |        AND f.dp[q] + 1 + b.dp[(t.n - q) + 1] = t.L
         |      THEN 1 ELSE 0 END)), 0) AS hit
         |  FROM fwd f
         |  JOIN tot t ON t.doc_id = f.doc_id AND t.ri = f.ri
         |    AND t.hi = f.hi
         |  JOIN bwd b ON b.doc_id = f.doc_id AND b.ri = f.ri
         |    AND b.hi = f.hi AND b.i = t.m - (f.i + 1)
         |  WHERE f.i < t.m
         |), um AS (
         |  SELECT doc_id, ri, pos, max(hit) AS hit FROM mk GROUP BY 1, 2, 3
         |), mtok AS (
         |  SELECT u.doc_id, r.toks[u.pos] AS tok, count(*) AS k
         |  FROM um u JOIN sentR r ON r.doc_id = u.doc_id AND r.ri = u.ri
         |  WHERE u.hit = 1
         |  GROUP BY 1, 2
         |), hypc AS (
         |  SELECT doc_id, t AS tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM sentH)
         |  GROUP BY 1, 2
         |), hits AS (
         |  SELECT m.doc_id,
         |    CAST(sum(least(m.k, h.c)) AS BIGINT) AS union_hits
         |  FROM mtok m JOIN hypc h USING (doc_id, tok)
         |  GROUP BY 1
         |), pr AS (
         |  SELECT t.doc_id, coalesce(h.union_hits, 0) AS union_hits,
         |    t.n_hyp, t.n_ref,
         |    CASE WHEN t.n_hyp = 0 THEN 0
         |      ELSE coalesce(h.union_hits, 0) * 1000000 // t.n_hyp END
         |      AS prec_ppm,
         |    CASE WHEN t.n_ref = 0 THEN 0
         |      ELSE coalesce(h.union_hits, 0) * 1000000 // t.n_ref END
         |      AS rec_ppm
         |  FROM totals t LEFT JOIN hits h USING (doc_id)
         |)
         |SELECT doc_id, CAST(union_hits AS BIGINT) AS union_hits,
         |  CAST(n_hyp AS BIGINT) AS n_hyp, CAST(n_ref AS BIGINT) AS n_ref,
         |  CAST(prec_ppm AS BIGINT) AS prec_ppm,
         |  CAST(rec_ppm AS BIGINT) AS rec_ppm,
         |  CAST(CASE WHEN prec_ppm + rec_ppm = 0 THEN 0
         |    ELSE 2 * prec_ppm * rec_ppm // (prec_ppm + rec_ppm) END
         |    AS BIGINT) AS rouge_lsum_ppm
         |FROM pr ORDER BY doc_id""".stripMargin)),

    // ---- diagonal-Fréchet embedding-distribution distance (the FID
    // construction, per-dim covariance): the DISTRIBUTION-level
    // generation signal — corpus drift in embedding space with no
    // pairing at all. Fixture: even-id embeddings vs odd-id
    // embeddings under a deterministic affine shift (x·1.02 + 0.01),
    // so both the mean and the variance terms are exercised. Exact
    // integer (n, Σq, Σq²) moments per dimension; one fixed double
    // tree on top — the oracle replays it bit-for-bit ----
    Query("q_embed_fd", (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val aSide = e.where(col("vec_id") % 2 === 0)
      val bSide = e.where(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x * 1.02 + 0.01).as("embedding"))
      graft.operators.EvalMetrics.embedFrechetDiag(aSide, bSide,
        "embedding")
    },
      // diagonal-Fréchet: exact integer per-dim moments (the Spark side
      // quantizes first, so Σq/Σq² commute), then the identical double
      // tree — μ, population var (greatest-0 clamped), (√va − √vb)²,
      // per-dim floor to micro units de-quantized by scale², integer
      // cross-dim sums
      Some("""WITH ea AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1024) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id % 2 = 0
        |), eb AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor((x * 1.02 + 0.01) * 1024) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id % 2 = 1
        |), sa AS (
        |  SELECT j AS dim, CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(sum(q[j]) AS BIGINT) AS s_a,
        |    CAST(sum(q[j] * q[j]) AS BIGINT) AS ss_a
        |  FROM ea CROSS JOIN range(1, 65) r(j) GROUP BY j
        |), sb AS (
        |  SELECT j AS dim, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(q[j]) AS BIGINT) AS s_b,
        |    CAST(sum(q[j] * q[j]) AS BIGINT) AS ss_b
        |  FROM eb CROSS JOIN range(1, 65) r(j) GROUP BY j
        |), pd AS (
        |  SELECT n_a, n_b,
        |    CAST(floor((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      * 1000000.0 / 1048576.0) AS BIGINT) AS mean_q,
        |    CAST(floor((sqrt(greatest(
        |        CAST(ss_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |          * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)), 0.0))
        |      - sqrt(greatest(
        |        CAST(ss_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |        - (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |          * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)), 0.0)))
        |      * (sqrt(greatest(
        |        CAST(ss_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |          * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)), 0.0))
        |      - sqrt(greatest(
        |        CAST(ss_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |        - (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |          * (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)), 0.0)))
        |      * 1000000.0 / 1048576.0) AS BIGINT) AS var_q
        |  FROM sa JOIN sb USING (dim)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS dims,
        |  CAST(min(n_a) AS BIGINT) AS n_a,
        |  CAST(min(n_b) AS BIGINT) AS n_b,
        |  CAST(sum(mean_q) AS BIGINT) AS mean_term_micro,
        |  CAST(sum(var_q) AS BIGINT) AS var_term_micro,
        |  CAST(sum(mean_q) + sum(var_q) AS BIGINT) AS fd_micro
        |FROM pd""".stripMargin)),

    // ---- sentence BLEU in LOG space (+1-smoothed, effective-order
    // mean, log brevity penalty): exp() never runs — ln over
    // identical IEEE doubles is the proven q_tfidf/q_ccnet floor(ln)
    // discipline, and one transcendental layer is the exactness
    // budget ----
    Query("q_log_bleu", (s, d) => {
      graft.operators.EvalMetrics.logBleu(evalPairs(s, d), "doc_id",
          "hyp", "ref")
        .orderBy("doc_id")
    },
      // log-BLEU: token n-gram clipped counts per order via the chrF
      // union-count shape, then the SAME double expression tree (ln of
      // identical IEEE ratios, same association order) — one
      // transcendental layer, no exp
      Some({
      val orders = 1 to 4
      val sides = for {
        n <- orders
        (c, wh, wr) <- Seq(("ht", 1, 0), ("rt", 0, 1))
      } yield
        s"""SELECT doc_id, $n AS n,
           |  unnest(list_transform(range(1, greatest(len($c) - ${n - 1}, 0) + 1),
           |    i -> array_to_string($c[i:i+${n - 1}], ' '))) AS g,
           |  $wh AS wh, $wr AS wr
           |FROM p""".stripMargin
      val lnSum = orders.map(n =>
        s"(CASE WHEN t$n > 0 THEN " +
          s"ln(CAST(m$n + 1 AS DOUBLE) / CAST(t$n + 1 AS DOUBLE)) " +
          s"ELSE 0.0 END)").mkString(" + ")
      val eff = orders.map(n =>
        s"(CASE WHEN t$n > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val mCols = orders.map(n =>
        s"coalesce(max(CASE WHEN n = $n THEN m END), 0) AS m$n")
        .mkString(",\n    ")
      val tCols = orders.map(n =>
        s"greatest(max(n_hyp) - ${n - 1}, 0) AS t$n")
        .mkString(",\n    ")
      s"""WITH p AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(hyp)), '\\s+'),
         |      x -> len(x) > 0) AS ht,
         |    list_filter(string_split_regex(lower(trim(ref)), '\\s+'),
         |      x -> len(x) > 0) AS rt
         |  FROM ($evalPairsSql)
         |), sized AS (
         |  SELECT doc_id, len(ht) AS n_hyp, len(rt) AS n_ref FROM p
         |  WHERE len(ht) > 0 AND len(rt) > 0
         |), gr AS (
         |${sides.mkString("\nUNION ALL\n")}
         |), counts AS (
         |  SELECT doc_id, n, g, CAST(sum(wh) AS BIGINT) AS ch,
         |    CAST(sum(wr) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1, 2, 3
         |), perorder AS (
         |  SELECT doc_id, n, CAST(sum(least(ch, cr)) AS BIGINT) AS m
         |  FROM counts GROUP BY 1, 2
         |), wide AS (
         |  SELECT s.doc_id, CAST(max(n_hyp) AS BIGINT) AS n_hyp,
         |    CAST(max(n_ref) AS BIGINT) AS n_ref,
         |    $mCols,
         |    $tCols
         |  FROM sized s LEFT JOIN perorder o USING (doc_id)
         |  GROUP BY s.doc_id
         |)
         |SELECT doc_id, n_hyp, n_ref,
         |  CAST(floor((least(0.0, 1.0 - CAST(n_ref AS DOUBLE) /
         |    CAST(n_hyp AS DOUBLE)) + ($lnSum) / CAST(($eff) AS DOUBLE))
         |    * 1000000.0) AS BIGINT) AS log_bleu_micro
         |FROM wide ORDER BY doc_id""".stripMargin
    })),

    // ---- Bradley–Terry preference-strength ranking (Hunter 2004 MM):
    // the reward-model data-prep step — banded pairwise matches decided
    // by the integer quality score (ties to the earlier doc), then 5
    // exact-integer MM iterations; two keyed joins + one keyed agg per
    // iteration, one 8-byte normalization scalar ----
    Query("q_bt_rank", (s, d) => {
      val scored = docsPar(s, d)
        .where(col("doc_id") < 120 && col("text").isNotNull)
        .select(col("doc_id"),
          TextFunctions.prefScore(col("text")).as("score"))
      val a = scored.select(col("doc_id").as("a_id"),
        col("score").as("a_score"))
      val b = scored.select(col("doc_id").as("b_id"),
        col("score").as("b_score"))
      val m = a.join(b,
          col("b_id") > col("a_id") && col("b_id") <= col("a_id") + 4L)
        .select(
          when(col("a_score") >= col("b_score"), col("a_id"))
            .otherwise(col("b_id")).as("winner"),
          when(col("a_score") >= col("b_score"), col("b_id"))
            .otherwise(col("a_id")).as("loser"))
      graft.operators.Graph.bradleyTerryQ6(m, "winner", "loser", iters = 5)
        .orderBy("item")
    },
      // full replay of the BT MM recursion: same matches, same integer
      // per-edge terms, clamps and mean normalization, 5 unrolled
      // iterations via btCtes
      Some((("""WITH scored AS (
        |  SELECT doc_id,
        |    """ + graft.functions.TextFunctions.prefScoreSql("text") +
        """ AS score
        |  FROM documents WHERE doc_id < 120 AND text IS NOT NULL
        |), m AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN a.score >= b.score THEN a.doc_id ELSE b.doc_id END
        |      AS winner,
        |    CASE WHEN a.score >= b.score THEN b.doc_id ELSE a.doc_id END
        |      AS loser
        |  FROM scored a JOIN scored b
        |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 4
        |), pairs AS (
        |  SELECT least(winner, loser) AS lo, greatest(winner, loser) AS hi,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM m GROUP BY 1, 2
        |), sym AS MATERIALIZED (
        |  SELECT lo AS src, hi AS dst, n FROM pairs
        |  UNION ALL SELECT hi, lo, n FROM pairs
        |), w AS (
        |  SELECT winner AS item, CAST(count(*) AS BIGINT) AS wins
        |  FROM m GROUP BY 1
        |), items AS MATERIALIZED (
        |  SELECT s.src AS item, coalesce(any_value(w.wins), 0) AS wins,
        |    CAST(sum(s.n) AS BIGINT) AS n_matches
        |  FROM sym s LEFT JOIN w ON s.src = w.item
        |  GROUP BY s.src
        |), nn AS MATERIALIZED (SELECT count(*) AS n_items FROM items)""")
          .stripMargin
        + btCtes(5) + """
        |SELECT i.item, i.wins, i.n_matches, t.p AS strength_q6
        |FROM items i JOIN it5 t ON i.item = t.item
        |ORDER BY i.item""".stripMargin))),

    // ---- DPO/RLHF preference-pair construction: i-th-best vs i-th-
    // worst pairing by an exact-integer quality score inside hash-
    // bucketed prompt groups (lang × md5 bucket), equal-score pairs
    // dropped. One keyed shuffle for both windows + a fixed-width
    // (key, pair_idx) join — ≤ k/2 pairs from a k-row group ----
    Query("q_dpo_pairs", (s, d) => {
      import graft.operators.DataPrep
      val scored = docsPar(s, d)
        .where(col("text").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"),
          concat(col("lang"), lit("|"),
            pmod(graft.functions.Hashing.md5Long56(
              concat(lit("dpo|"), col("doc_id").cast("string"))), lit(8L))
              .cast("string")).as("bucket"),
          TextFunctions.prefScore(col("text")).as("score"))
      DataPrep.preferencePairs(scored, "bucket", "doc_id", "score")
        .orderBy("pair_key", "pair_idx")
    },
      Some(("""WITH scored AS (
        |  SELECT doc_id,
        |    lang || '|' || CAST(
        |      CAST(md5_number_upper('dpo|' || CAST(doc_id AS VARCHAR))
        |        % 72057594037927936 AS BIGINT) % 8 AS VARCHAR) AS bucket,
        |    """ + graft.functions.TextFunctions.prefScoreSql("text") +
        """ AS score
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |), ranked AS (
        |  SELECT bucket AS pair_key, doc_id, score,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY score DESC, doc_id) AS r,
        |    count(*) OVER (PARTITION BY bucket) AS n
        |  FROM scored
        |)
        |SELECT c.pair_key, CAST(c.r AS BIGINT) AS pair_idx,
        |  c.doc_id AS chosen_id, j.doc_id AS rejected_id,
        |  CAST(c.score - j.score AS BIGINT) AS margin
        |FROM ranked c JOIN ranked j
        |  ON c.pair_key = j.pair_key AND j.r = c.n - c.r + 1
        |WHERE c.r * 2 <= c.n AND c.score > j.score
        |ORDER BY c.pair_key, pair_idx""").stripMargin)),

    // ---- GRPO group-relative advantages (DeepSeek's group-baseline
    // normalization): (x − group mean)/group σ as ONE exact-integer
    // window — adv_q = floor((n·x − Σx)·10⁶ / sqrt(n·Σx² − (Σx)²)),
    // numerator and radicand exact off one keyed shuffle, so the
    // normalized advantage replays bit-for-bit; zero-variance groups
    // (incl. singletons) emit 0 ----
    Query("q_grpo_adv", (s, d) => {
      import graft.operators.DataPrep
      val scored = docsPar(s, d)
        .where(col("text").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"),
          concat(col("lang"), lit("|"),
            pmod(graft.functions.Hashing.md5Long56(
              concat(lit("grpo|"), col("doc_id").cast("string"))), lit(8L))
              .cast("string")).as("grp"),
          TextFunctions.prefScore(col("text")).as("score"))
      DataPrep.groupAdvantages(scored, "doc_id", "grp", "score")
        .orderBy("doc_id")
    },
      // full replay of the pairing: same integer score, same dual-rank
      // windows, same i-th-best × i-th-worst join and strict-margin filter
      // same integer window sums; the only float ops are one sqrt + one
      // divide on identical doubles, so adv_q floors identically
      Some(("""WITH scored AS (
        |  SELECT doc_id,
        |    lang || '|' || CAST(
        |      CAST(md5_number_upper('grpo|' || CAST(doc_id AS VARCHAR))
        |        % 72057594037927936 AS BIGINT) % 8 AS VARCHAR) AS grp,
        |    """ + graft.functions.TextFunctions.prefScoreSql("text") +
        """ AS score
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |), g AS (
        |  SELECT doc_id, grp, score,
        |    count(*) OVER (PARTITION BY grp) AS n,
        |    sum(score) OVER (PARTITION BY grp) AS s1,
        |    sum(score * score) OVER (PARTITION BY grp) AS s2
        |  FROM scored
        |)
        |SELECT doc_id, grp, score,
        |  CASE WHEN n * s2 = s1 * s1 THEN 0
        |    ELSE CAST(floor(CAST(n * score - s1 AS DOUBLE) * 1e6
        |      / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT)
        |  END AS adv_q
        |FROM g ORDER BY doc_id""").stripMargin)),

    // ---- Aho–Corasick multi-pattern dictionary tagging: the whole
    // lexicon (PII terms / topic lexicons / blocklists) matched in ONE
    // corpus pass — vs |lexicon| regex scans at 100 TB. Substring
    // matches with overlaps (dict-suffix links), which is exactly what
    // a positional SQL replay can verify; lexicon deliberately contains
    // nested patterns (able⊂table, can⊂scan, win⊂window) so the
    // overlap-reporting grain is what the oracle checks ----
    Query("q_keyword_tags", (s, d) => {
      KeywordTag.tagCounts(docsPar(s, d), "doc_id", "text",
          keywordLexicon)
        .orderBy("tag", "term")
    },
      // positional overlapping-substring truth: count every i where
      // substr(text, i, |term|) = term — exactly the Aho–Corasick
      // dict-suffix output grain (nested lexicon terms double-count by
      // design). Lexicon duplicated literally (see keywordLexicon)
      Some("""WITH lex(term, tag) AS (VALUES
        |  ('table', 'schema'), ('able', 'schema'),
        |  ('scan', 'exec'), ('can', 'exec'),
        |  ('window', 'exec'), ('win', 'exec'),
        |  ('stream', 'exec'), ('he', 'pronoun')
        |), hits AS (
        |  SELECT d.doc_id, lex.term, lex.tag,
        |    len(list_filter(range(1, length(lower(d.text)) - length(term) + 2),
        |      i -> substr(lower(d.text), i, length(term)) = term)) AS n
        |  FROM documents d CROSS JOIN lex
        |)
        |SELECT tag, term, CAST(sum(n) AS BIGINT) AS total,
        |  count(*) FILTER (n > 0) AS docs
        |FROM hits GROUP BY tag, term ORDER BY tag, term""".stripMargin)),

    // ---- deterministic stratified sampling: exactly 20 docs per source,
    // ranked by salted content hash — WindowGroupLimit keeps per-stratum
    // state at top-n, the oracle replays the exact draw ----
    Query("q_stratified_sample", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.stratifiedSample(docsPar(s, d).select("doc_id", "source"),
          "doc_id", "source", n = 20)
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(md5_number_upper('sample|' ||
        |          CAST(doc_id AS VARCHAR)) % 72057594037927936 AS BIGINT),
        |        doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin)),

    // ---- temperature mixture sampling (α = 0.5): keep rates derived
    // from corpus shares so output composition follows p^α — integer-
    // quantized group weights, one double rate expression over exact
    // ints, row decisions in integer hash space; the oracle replays the
    // whole derivation ----
    Query("q_mixture_temperature", (s, d) => {
      import graft.operators.DataPrep
      // the corpus' sources are exactly uniform, where p^α rebalancing
      // is indistinguishable from a flat targetFrac — fold the long tail
      // into one majority group (deterministic, mirrored in the oracle)
      // so the gate actually exercises the sqrt math
      val skewed = docsPar(s, d).select(col("doc_id"),
        when(col("source").isin("src0", "src1"), col("source"))
          .otherwise(lit("src_major")).as("source"))
      DataPrep.temperatureSample(skewed, "doc_id", "source")
        .select("doc_id", "source", "keep_thresh")
        .orderBy("doc_id")
    },
      // replays temperatureSample's integer-quantized weight, the exact
      // rate expression tree, and the 2^56 hash-space decision
      Some("""WITH skewed AS (
        |  SELECT doc_id,
        |    CASE WHEN source IN ('src0', 'src1') THEN source
        |         ELSE 'src_major' END AS source
        |  FROM documents
        |), stats AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM skewed GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total FROM stats
        |), sg AS (
        |  SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE) / n_total) * 1e9) AS BIGINT)
        |      AS s
        |  FROM stats, tot
        |), ss AS (
        |  SELECT CAST(sum(s) AS BIGINT) AS s_total FROM sg
        |), th AS (
        |  SELECT source,
        |    CAST(floor(least(1.0,
        |      0.5 * CAST(n_total AS DOUBLE) * CAST(s AS DOUBLE) /
        |        (CAST(s_total AS DOUBLE) * CAST(n AS DOUBLE)))
        |      * 72057594037927936.0) AS BIGINT) AS keep_thresh
        |  FROM sg, tot, ss
        |)
        |SELECT d.doc_id, d.source, t.keep_thresh
        |FROM skewed d JOIN th t USING (source)
        |WHERE CAST(md5_number_upper('temp|' || CAST(d.doc_id AS VARCHAR))
        |    % 72057594037927936 AS BIGINT) < t.keep_thresh
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- C4 line-level cleaning (Raffel et al. 2020 §2.2): the
    // published Common-Crawl→C4 heuristics over deterministic synthetic
    // page structure (the corpus has no lines/punctuation of its own —
    // pageText plants terminal-punct, javascript, lorem-ipsum and brace
    // violations; same expression in the oracle CTE). One narrow
    // codegen-HOF pass, no shuffle ----
    Query("q_c4_clean", (s, d) => {
      import graft.operators.Curation
      val pages = docsPar(s, d).select(col("doc_id"),
        pageText(col("doc_id"), col("text")).as("page"))
      Curation.c4LineClean(pages, "doc_id", "page")
        .orderBy("doc_id")
    },
      // replays pageText + the C4 line/page rules verbatim over the same
      // synthetic page structure. (Concatenation, not interpolation into a
      // margin string: the CTE's '||' continuations would be eaten by the
      // outer stripMargin.)
      Some((s"WITH ${pageCte("documents", "doc_id")},\n" +
      """sp AS (
         |  SELECT doc_id, page, string_split(page, chr(10)) AS lines
         |  FROM pages
         |), k AS (
         |  SELECT doc_id, page, lines,
         |    list_filter(lines, l ->
         |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
         |      AND len(list_filter(string_split_regex(trim(l), '\s+'),
         |            w -> length(w) > 0)) >= 3
         |      AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM sp
         |)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
         |  (len(kept) >= 5 AND NOT contains(lower(page), 'lorem ipsum')
         |     AND NOT contains(page, '{')
         |     AND NOT contains(page, '}')) AS page_kept,
         |  CASE WHEN len(kept) >= 5
         |        AND NOT contains(lower(page), 'lorem ipsum')
         |        AND NOT contains(page, '{')
         |        AND NOT contains(page, '}')
         |       THEN array_to_string(kept, chr(10)) ELSE '' END
         |    AS cleaned_text
         |FROM k ORDER BY doc_id""".stripMargin))))
}
