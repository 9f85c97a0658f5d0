package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Tokenizer}
import DocFixtures._

/** Tokenizer, language-model and training-data-assembly queries: BPE,
  * WordPiece and unigram-LM vocabularies, n-gram and Kneser-Ney
  * log-probabilities, CCNet bands, packing, chunking, SFT rendering and
  * training examples. Fixtures shared with other families:
  * [[DocFixtures]].
  */
object LmQueries {

  /** SQL twin of [[graft.operators.SpanCorrupt.corrupt]]: the per-block
    * md5 draws and slice arithmetic verbatim, with the fold's sentinel
    * counter replayed as a window count of prior masked blocks and the
    * fragment join replayed as an ordered string_agg. */
  private val spanCorruptOracle: String = {
    def h56(salt: String) =
      s"CAST(md5_number_upper('$salt' || CAST(doc_id AS VARCHAR) || ':' " +
        "|| CAST(b AS VARCHAR)) % 72057594037927936 AS BIGINT)"
    val off = s"CAST(${h56("spanO|")} % len(block) AS INT)"
    val len = s"least(CAST(${h56("spanL|")} % 3 AS INT) + 1, " +
      s"len(block) - $off)"
    s"""WITH d AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN []
         ELSE list_filter(string_split_regex(trim(text), '\\s+'),
           t -> length(t) > 0) END AS toks
  FROM documents
), nb AS (
  SELECT doc_id, toks,
    greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1) AS nblocks
  FROM d
), blocks AS (
  SELECT doc_id, toks, unnest(range(nblocks)) AS b FROM nb
), calc AS (
  SELECT doc_id, b, toks[b*8 + 1 : b*8 + 8] AS block,
    len(toks[b*8 + 1 : b*8 + 8]) > 0 AND
      ${h56("span|")} % 100 < 40 AS masked
  FROM blocks
), numbered AS (
  SELECT doc_id, b, block, masked,
    CAST(coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
      AS k
  FROM calc
), frags AS (
  SELECT doc_id, b, masked,
    CASE WHEN masked THEN
      array_to_string(
        block[1 : $off] ||
        ['<extra_id_' || CAST(k AS VARCHAR) || '>'] ||
        block[$off + $len + 1 : len(block)], ' ')
    ELSE array_to_string(block, ' ') END AS frag,
    CASE WHEN masked THEN
      '<extra_id_' || CAST(k AS VARCHAR) || '> ' ||
      array_to_string(block[$off + 1 : $off + $len], ' ')
    END AS tgt
  FROM numbered
)
SELECT doc_id,
  coalesce(string_agg(frag, ' ' ORDER BY b), '') AS input_text,
  coalesce(string_agg(tgt, ' ' ORDER BY b)
    FILTER (masked), '') AS target_text,
  CAST(coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END), 0) AS INT)
    AS n_spans
FROM frags GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Shared core of the q_kn5_logprob / q_ccnet_bands oracles: the full
    * 5-gram KN pipeline up to the per-doc `scored` CTE (the
    * q_kn3_logprob MATERIALIZED discipline, two rungs deeper — every
    * multi-consumer CTE in the g5→g4→g3→g2 chain is materialized). */
  private val kn5OracleCore: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> length(x) > 0) AS tk
      |  FROM documents
      |), dt AS MATERIALIZED (
      |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2, p['w3'] AS w3,
      |    p['w4'] AS w4, p['w5'] AS w5
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
      |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1], w3 := tk[i+2],
      |        w4 := tk[i+3], w5 := tk[i+4]))) AS p
      |    FROM t WHERE len(tk) >= 5)
      |), g5 AS MATERIALIZED (
      |  SELECT w1, w2, w3, w4, w5, count(*) AS c5
      |  FROM dt GROUP BY w1, w2, w3, w4, w5
      |), g4 AS MATERIALIZED (
      |  SELECT w2, w3, w4, w5, count(*) AS c4
      |  FROM g5 GROUP BY w2, w3, w4, w5
      |), g3 AS MATERIALIZED (
      |  SELECT w3, w4, w5, count(*) AS c3 FROM g4 GROUP BY w3, w4, w5
      |), g2 AS MATERIALIZED (
      |  SELECT w4, w5, count(*) AS c2 FROM g3 GROUP BY w4, w5
      |), ctx5 AS (
      |  SELECT w1, w2, w3, w4, CAST(sum(c5) AS BIGINT) AS tot5,
      |    count(*) AS typ5
      |  FROM g5 GROUP BY w1, w2, w3, w4
      |), ctx4 AS (
      |  SELECT w2, w3, w4, CAST(sum(c4) AS BIGINT) AS tot4,
      |    count(*) AS typ4
      |  FROM g4 GROUP BY w2, w3, w4
      |), ctx3 AS (
      |  SELECT w3, w4, CAST(sum(c3) AS BIGINT) AS tot3,
      |    count(*) AS typ3
      |  FROM g3 GROUP BY w3, w4
      |), ctx2 AS (
      |  SELECT w4, CAST(sum(c2) AS BIGINT) AS tot2, count(*) AS typ2
      |  FROM g2 GROUP BY w4
      |), c1 AS (
      |  SELECT w5, count(*) AS n1p_w FROM g2 GROUP BY w5
      |), ty AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS t_all FROM g2
      |), c AS (
      |  SELECT doc_id,
      |    CAST(floor(ln(
      |      greatest(CAST(c5 AS DOUBLE) - 0.75, 0.0) /
      |        CAST(tot5 AS DOUBLE) +
      |      (0.75 * CAST(typ5 AS DOUBLE) / CAST(tot5 AS DOUBLE)) *
      |        (greatest(CAST(c4 AS DOUBLE) - 0.75, 0.0) /
      |          CAST(tot4 AS DOUBLE) +
      |         (0.75 * CAST(typ4 AS DOUBLE) / CAST(tot4 AS DOUBLE)) *
      |           (greatest(CAST(c3 AS DOUBLE) - 0.75, 0.0) /
      |             CAST(tot3 AS DOUBLE) +
      |            (0.75 * CAST(typ3 AS DOUBLE) / CAST(tot3 AS DOUBLE)) *
      |              (greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) /
      |                CAST(tot2 AS DOUBLE) +
      |               (0.75 * CAST(typ2 AS DOUBLE) /
      |                 CAST(tot2 AS DOUBLE)) *
      |                 (CAST(n1p_w AS DOUBLE) / t_all))))) * 1000000)
      |      AS BIGINT) AS cq
      |  FROM dt
      |  JOIN g5 USING (w1, w2, w3, w4, w5)
      |  JOIN ctx5 USING (w1, w2, w3, w4)
      |  JOIN g4 USING (w2, w3, w4, w5)
      |  JOIN ctx4 USING (w2, w3, w4)
      |  JOIN g3 USING (w3, w4, w5)
      |  JOIN ctx3 USING (w3, w4)
      |  JOIN g2 USING (w4, w5)
      |  JOIN ctx2 USING (w4)
      |  JOIN c1 USING (w5)
      |  CROSS JOIN ty
      |), scored AS MATERIALIZED (
      |  SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sum_q6,
      |    CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000) AS avg_logprob
      |  FROM c GROUP BY doc_id
      |)""".stripMargin

  /** WordPiece oracle: replays vocabulary training rank-for-rank and
    * the greedy longest-match march as an UNROLLED CTE chain — one
    * (match, advance) step per possible piece boundary; each step
    * consumes ≥ 1 char and words longer than MaxCharsPerWord are [UNK]
    * by rule, so MaxCharsPerWord steps cover every word (the pagerank
    * unrolled-iteration precedent). */
  private def wordpieceOracle: String = {
    val wp = graft.operators.WordPiece
    val steps = (1 to wp.MaxCharsPerWord).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT s.word,
         |    max(CASE WHEN s.pos = 1 THEN length(vp.piece)
         |        ELSE length(vp.piece) - 2 END) AS ml,
         |    max_by(vp.piece,
         |      CASE WHEN s.pos = 1 THEN length(vp.piece)
         |        ELSE length(vp.piece) - 2 END) AS pc
         |  FROM s${k - 1} s JOIN vp
         |    ON (s.pos = 1 AND
         |        substr(s.word, s.pos, length(vp.piece)) = vp.piece)
         |    OR (s.pos > 1 AND length(vp.piece) >= 3 AND
         |        vp.piece LIKE '##%' AND vp.piece =
         |        '##' || substr(s.word, s.pos, length(vp.piece) - 2))
         |  WHERE s.pos <= s.n AND NOT s.unk
         |  GROUP BY s.word
         |), s$k AS MATERIALIZED (
         |  SELECT s.word, s.n,
         |    CASE WHEN s.pos > s.n OR s.unk OR m.ml IS NULL THEN s.pos
         |         ELSE s.pos + m.ml END AS pos,
         |    CASE WHEN s.pos > s.n OR s.unk OR m.ml IS NULL THEN s.acc
         |         ELSE s.acc || ' ' || m.pc END AS acc,
         |    CASE WHEN s.pos > s.n OR s.unk OR m.ml IS NULL THEN s.np
         |         ELSE s.np + 1 END AS np,
         |    s.unk OR (s.pos <= s.n AND m.ml IS NULL) AS unk
         |  FROM s${k - 1} s LEFT JOIN m$k m USING (word)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH wt AS (
       |  SELECT doc_id, lower(trim(text)) AS t FROM documents
       |), ws AS (
       |  SELECT doc_id, list_filter(string_split_regex(t, '\\s+'),
       |    x -> length(x) > 0) AS l FROM wt
       |), tok AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
       |    i -> {'wp': i, 'w': l[i]})) AS u FROM ws
       |), tw AS MATERIALIZED (
       |  SELECT doc_id, u.wp AS wp, u.w AS word FROM tok
       |), wc AS (
       |  SELECT word, count(*) AS c FROM tw GROUP BY 1
       |), pcs AS (
       |  SELECT unnest(list_distinct(flatten(
       |    list_transform(range(1, length(word) + 1), p ->
       |      list_transform(
       |        range(1, least(${wp.MaxPieceLen},
       |          length(word) - p + 1) + 1),
       |        l -> CASE WHEN p = 1 THEN word[p:p+l-1]
       |             ELSE '##' || word[p:p+l-1] END))))) AS piece,
       |    c
       |  FROM wc
       |), pwt AS (
       |  SELECT piece, sum(c) AS weight FROM pcs GROUP BY 1
       |), vocab AS (
       |  SELECT piece FROM pwt
       |  WHERE length(regexp_replace(piece, '^##', '')) = 1
       |  UNION ALL
       |  SELECT piece FROM (
       |    SELECT piece,
       |      row_number() OVER (ORDER BY weight DESC, piece) AS rk
       |    FROM pwt WHERE length(regexp_replace(piece, '^##', '')) > 1)
       |  WHERE rk <= 300
       |), vp AS MATERIALIZED (
       |  SELECT piece FROM vocab
       |), dw AS (
       |  SELECT DISTINCT word FROM tw
       |), s0 AS MATERIALIZED (
       |  SELECT word, length(word) AS n, 1 AS pos, '' AS acc, 0 AS np,
       |    length(word) > ${wp.MaxCharsPerWord} AS unk
       |  FROM dw
       |), $steps, enc AS (
       |  SELECT word,
       |    CASE WHEN unk THEN '[UNK]' ELSE trim(acc) END AS ps,
       |    CASE WHEN unk THEN 1 ELSE np END AS np,
       |    CASE WHEN unk THEN 1 ELSE 0 END AS u
       |  FROM s${wp.MaxCharsPerWord}
       |)
       |SELECT tw.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
       |  CAST(sum(e.u) AS BIGINT) AS n_unk_words,
       |  string_agg(e.ps, ' ' ORDER BY tw.wp) AS pieces_text
       |FROM tw JOIN enc e USING (word)
       |GROUP BY tw.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // ---- shard packing by token budget (training-data prep): exact
    // integer running sum per source, floor-division shard id ----
    Query("q_pack_shards", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.shardByTokenBudget(
          docsPar(s, d).select("doc_id", "source", "text"),
          "doc_id", "source",
          TextFunctions.tokenCountWs(col("text")), budget = 2048L)
        .select("doc_id", "source", "tokens", "shard_id")
        .orderBy("doc_id")
    },
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, tokens,
        |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source, tokens,
        |  CAST(floor((cum - tokens) / 2048.0) AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- packed training sequences: shard docs by token budget, then
    // concatenate each shard in id order — compared BYTE-LEVEL via md5 of
    // the packed text (equal strings ⇔ equal digests, both engines) ----
    Query("q_pack_sequences", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.packSequences(
          docsPar(s, d).select("doc_id", "source", "text"),
          "doc_id", "source",
          TextFunctions.tokenCountWs(col("text")), budget = 2048L)
        .select(col("source"), col("shard_id"), col("n_docs"),
          col("total_tokens"), md5(col("packed")).as("packed_md5"))
        .orderBy("source", "shard_id")
    },
      Some("""WITH t AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, text, tokens,
        |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT source,
        |  CAST(floor((cum - tokens) / 2048.0) AS BIGINT) AS shard_id,
        |  count(*) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |  md5(string_agg(text, chr(10) || '<|doc|>' || chr(10)
        |    ORDER BY doc_id)) AS packed_md5
        |FROM c
        |GROUP BY source, CAST(floor((cum - tokens) / 2048.0) AS BIGINT)
        |ORDER BY source, shard_id""".stripMargin)),

    // ---- context-window chunking (training-data prep): split each doc
    // into 64-token chunks; emit per-chunk token count + first token —
    // the slice plumbing a tokenize-and-pack pipeline needs ----
    Query("q_chunk_docs", (s, d) => {
      val t = docsPar(s, d).select(
        col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"),
        TextFunctions.tokenCountWs(col("text")).as("n_tokens"))
      // the per-chunk struct array is built INSIDE the row and `toks` is
      // dropped BEFORE the explode — exploding chunk_idx first would make
      // every chunk row carry the whole document's token array
      // (O(doc_len × n_chunks) bytes per doc) just to read one element
      t.where(col("n_tokens") > 0)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0L), ceil(col("n_tokens") / 64.0).cast("long") - 1),
            i => struct(
              i.as("chunk_idx"),
              least(lit(64L), col("n_tokens") - i * 64).as("chunk_tokens"),
              element_at(col("toks"), (i * 64 + 1).cast("int"))
                .as("first_token")))).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_tokens"),
          col("c.first_token"))
        .orderBy("doc_id", "chunk_idx")
    },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id,
        |  unnest(range(CAST(ceil(n_tokens / 64.0) AS BIGINT))) AS chunk_idx,
        |  least(64, n_tokens -
        |    unnest(range(CAST(ceil(n_tokens / 64.0) AS BIGINT))) * 64)
        |    AS chunk_tokens,
        |  toks[CAST(unnest(range(CAST(ceil(n_tokens / 64.0) AS BIGINT))) * 64
        |    + 1 AS BIGINT)] AS first_token
        |FROM t WHERE n_tokens > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- overlapping passage windows (RAG / long-context chunking):
    // 64-token windows at stride 32 — every token lands in ≤ 2 chunks,
    // chunk boundaries never split the stride grid. Same row-local
    // discipline as q_chunk_docs: the per-chunk struct array is built
    // INSIDE the row and `toks` dropped before the explode. ----
    Query("q_chunk_stride", (s, d) => {
      val win = 64L
      val stride = 32L
      val t = docsPar(s, d).select(
        col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"),
        TextFunctions.tokenCountWs(col("text")).as("n_tokens"))
      t.where(col("n_tokens") > 0)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0L),
              ceil(greatest(col("n_tokens") - win, lit(0L)) /
                lit(stride.toDouble)).cast("long")),
            i => struct(
              i.as("chunk_idx"),
              (i * stride).as("start_tok"),
              least(lit(win), col("n_tokens") - i * stride)
                .as("chunk_tokens"),
              element_at(col("toks"), (i * stride + 1).cast("int"))
                .as("first_token")))).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"), col("c.start_tok"),
          col("c.chunk_tokens"), col("c.first_token"))
        .orderBy("doc_id", "chunk_idx")
    },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |    END AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens, toks,
        |    unnest(range(0, CAST(ceil(greatest(n_tokens - 64, 0) / 32.0)
        |      AS BIGINT) + 1)) AS chunk_idx
        |  FROM t WHERE n_tokens > 0
        |)
        |SELECT doc_id, chunk_idx,
        |  chunk_idx * 32 AS start_tok,
        |  least(64, n_tokens - chunk_idx * 32) AS chunk_tokens,
        |  toks[CAST(chunk_idx * 32 + 1 AS BIGINT)] AS first_token
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- per-document token-distribution Shannon entropy (a quality /
    // repetitiveness signal: low entropy = few distinct tokens dominate).
    // H = ln m − (Σ c·ln c)/m over the doc's unigram counts; the
    // Σ c·ln c term is floor-quantized per DISTINCT token (ln of an
    // identical integer-valued double, floored — the unigramLogProb
    // discipline) so the per-doc sum is an exact integer on any engine.
    // Words leave the row as xxhash64 keys (counts only need identity);
    // the oracle counts by word TEXT, so the gate proves the hashed
    // grouping lossless. ----
    Query("q_token_entropy", (s, d) => {
      val words = docsPar(s, d).select(col("doc_id"),
          explode(filter(split(lower(trim(col("text"))), "\\s+"),
            t => length(t) > 0)).as("w"))
        .select(col("doc_id"), xxhash64(col("w")).as("_wk"))
      words.groupBy("doc_id", "_wk").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") *
            floor(log(col("c").cast("double")) * 1000000).cast("long"))
            .as("sum_clnc_q6"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("sum_clnc_q6"),
          round(log(col("n_tokens").cast("double")) -
            col("sum_clnc_q6").cast("double") /
              (col("n_tokens") * 1000000), 6).as("entropy"))
        .orderBy("doc_id")
    },
      // counts by word TEXT where the engine counts by xxhash64 key —
      // the gate proves the hashed grouping lossless (collision
      // discipline); ln() of identical integer-valued doubles floors
      // identically on both engines (unigramLogProb discipline)
      Some("""WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS w
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, w, count(*) AS c FROM tk GROUP BY doc_id, w
        |)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
        |    AS BIGINT)) AS BIGINT) AS sum_clnc_q6,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |    - CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000)
        |        AS BIGINT)) AS DOUBLE)
        |      / (sum(c) * 1000000), 6) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- tokenizer-vocabulary coverage: per-document OOV rate against
    // the top-100 corpus words (frequency desc, ties lexicographic) —
    // the coverage curve every vocab-size decision reads. The corpus
    // reduces to a vocab-sized count table; top-100 is a TakeOrdered
    // (never a full sort) and broadcasts back. ----
    Query("q_vocab_coverage", (s, d) => {
      val words = docsPar(s, d).select(col("doc_id"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > 0)).as("w"))
      val top = words.groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(100)
      words
        .join(broadcast(top.select(col("w"), lit(1).as("_in"))),
          Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov") / col("n_tokens"), 6))
        .orderBy("doc_id")
    },
      Some("""WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    t -> len(t) > 0)) AS w
        |  FROM documents
        |), top AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS n FROM tk GROUP BY w
        |    ORDER BY n DESC, w LIMIT 100)
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN top.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN top.w IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM tk LEFT JOIN top ON tk.w = top.w
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- WordPiece tokenization (the BERT tokenizer; third member of
    // the tokenizer trio beside BPE and Unigram-LM): greedy longest-
    // match-first against a frequency-ranked vocab of word-initial +
    // ##-continuation pieces, BERT's whole-word [UNK] rules. The greedy
    // kernel runs per DISTINCT word (the BPE-encode pattern); the
    // oracle replays training rank-for-rank and the greedy march as an
    // unrolled CTE chain ----
    Query("q_wordpiece", (s, d) => {
      graft.operators.WordPiece.encodeStats(docsPar(s, d), "doc_id",
          "text")
        .orderBy("doc_id")
    },
      Some(wordpieceOracle)),

    // ---- SFT chat-template rendering + loss-mask spans: the training
    // string and the assistant-span offsets come from the SAME concat
    // tree (the drift between render and mask is the bug class this
    // prevents); 2-exchange conversations derived from token quarters
    // (no conversation table in the corpus — the operator takes
    // arbitrary turn columns) ----
    Query("q_sft_render", (s, d) => {
      import graft.operators.SftFormat
      val turns = SftFormat.quartersFromText(docsPar(s, d), "doc_id", "text")
      SftFormat.renderTwoTurn(turns, "doc_id",
          col("u1"), col("a1"), col("u2"), col("a2"))
        .orderBy("doc_id", "turn")
    },
      // offsets replayed from the same concat tree that builds the render
      // (CAST lengths to INT: DuckDB length() is BIGINT, Spark's is int)
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> length(t) > 0) AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), seg AS (
        |  -- coalesce: DuckDB array_to_string over an empty slice (docs
        |  -- with < 4 tokens) yields NULL where Spark concat_ws gives ''
        |  SELECT doc_id,
        |    coalesce(array_to_string(toks[1 :
        |      CAST(floor(len(toks)*1/4.0) AS INT)], ' '), '') AS u1,
        |    coalesce(array_to_string(toks[CAST(floor(len(toks)*1/4.0) AS INT) + 1 :
        |      CAST(floor(len(toks)*2/4.0) AS INT)], ' '), '') AS a1,
        |    coalesce(array_to_string(toks[CAST(floor(len(toks)*2/4.0) AS INT) + 1 :
        |      CAST(floor(len(toks)*3/4.0) AS INT)], ' '), '') AS u2,
        |    coalesce(array_to_string(toks[CAST(floor(len(toks)*3/4.0) AS INT) + 1 :
        |      len(toks)], ' '), '') AS a2
        |  FROM d
        |), r AS (
        |  SELECT doc_id, u1, a1, u2, a2,
        |    '<|user|> ' || u1 || ' <|assistant|> ' AS p1
        |  FROM seg
        |), r2 AS (
        |  SELECT doc_id, p1, a1, a2,
        |    p1 || a1 || ' <|user|> ' || u2 || ' <|assistant|> ' AS p2,
        |    p1 || a1 || ' <|user|> ' || u2 || ' <|assistant|> ' || a2
        |      AS train_text
        |  FROM r
        |)
        |SELECT doc_id, train_text, turn, start_off, span_len, span_text
        |FROM (
        |  SELECT doc_id, train_text, 1 AS turn,
        |    CAST(length(p1) + 1 AS INT) AS start_off,
        |    CAST(length(a1) AS INT) AS span_len, a1 AS span_text
        |  FROM r2
        |  UNION ALL
        |  SELECT doc_id, train_text, 2 AS turn,
        |    CAST(length(p2) + 1 AS INT),
        |    CAST(length(a2) AS INT), a2
        |  FROM r2
        |)
        |ORDER BY doc_id, turn""".stripMargin)),

    // ---- n-turn SFT rendering (real corpora are variable-length
    // conversations): 1..4-turn conversations derived from each doc's
    // token stream (length = 1 + doc_id % 4, roles alternating
    // user-first), rendered + loss-masked by the general array-of-turns
    // operator. Single-user-turn docs contribute ZERO rows (no
    // assistant span) and short docs exercise empty segments — the
    // edges the two-turn path never hits ----
    Query("q_sft_render_n", (s, d) => {
      import graft.operators.SftFormat
      val toks = filter(split(trim(col("text")), "\\s+"),
        t => length(t) > 0)
      val base = docsPar(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), toks.as("toks"),
          (lit(1) + col("doc_id") % 4).cast("int").as("nt"))
      val q = size(col("toks"))
      def bound(k: Column): Column =
        floor(q.cast("double") * k.cast("double")
          / col("nt").cast("double")).cast("int")
      val turns = transform(sequence(lit(1), col("nt")), k =>
        struct(
          when(k % 2 === 1, lit("user")).otherwise(lit("assistant"))
            .as("role"),
          concat_ws(" ", slice(col("toks"), bound(k - 1) + 1,
            bound(k) - bound(k - 1))).as("content")))
      SftFormat.renderConversation(
          base.withColumn("_turns", turns), "doc_id", col("_turns"))
        .orderBy("doc_id", "turn")
    },
      // n-turn replay: same segment bounds, element lengths from the
      // same role/content arithmetic (len(role) + len(content) + 6 per
      // prior turn), prefix as a window sum, assistant ordinal as a
      // row_number — offsets replay the operator's aggregate fold
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> length(t) > 0) AS toks,
        |    CAST(1 + doc_id % 4 AS INT) AS nt
        |  FROM documents WHERE text IS NOT NULL
        |), t AS (
        |  SELECT doc_id, nt, g.k AS k,
        |    CASE WHEN g.k % 2 = 1 THEN 'user' ELSE 'assistant' END
        |      AS role,
        |    coalesce(array_to_string(toks[
        |      CAST(floor(len(toks) * (g.k - 1) / CAST(nt AS DOUBLE))
        |        AS INT) + 1 :
        |      CAST(floor(len(toks) * g.k / CAST(nt AS DOUBLE))
        |        AS INT)], ' '), '') AS content
        |  FROM d CROSS JOIN (SELECT unnest(range(1, 5)) AS k) g
        |  WHERE g.k <= nt
        |), agg AS (
        |  SELECT doc_id,
        |    string_agg('<|' || role || '|> ' || content, ' '
        |      ORDER BY k) AS train_text
        |  FROM t GROUP BY doc_id
        |), offs AS (
        |  SELECT doc_id, k AS turn_pos, role, content,
        |    CAST(coalesce(sum(length(role) + length(content) + 6)
        |        OVER (PARTITION BY doc_id ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + length(role) + 6 AS INT) AS start_off,
        |    CAST(length(content) AS INT) AS span_len,
        |    content AS span_text
        |  FROM t
        |), spans AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY turn_pos) AS turn
        |  FROM offs WHERE role = 'assistant'
        |)
        |SELECT s.doc_id, a.train_text, CAST(s.turn AS INT) AS turn,
        |  CAST(s.turn_pos AS INT) AS turn_pos, s.start_off, s.span_len,
        |  s.span_text
        |FROM spans s JOIN agg a USING (doc_id)
        |ORDER BY doc_id, turn""".stripMargin)),

    // ---- T5/UL2 span corruption (Raffel 2020 §3.1.4): sentinel-masked
    // spans + span targets, in the deterministic 8-token-block variant
    // (independent per-block md5 draws — nothing to reject, fully
    // parallel, relationally replayable; the documented deviation from
    // the paper's serial rejection sampler) ----
    Query("q_span_corrupt", (s, d) => {
      graft.operators.SpanCorrupt.corrupt(docsPar(s, d), "doc_id", "text",
          maskPct = 40)
        .orderBy("doc_id")
    },
      // relational replay of the block fold: unnest blocks → per-block
      // draws (CASE-guarded so %0 never evaluates) → sentinel index k =
      // running count of PRIOR masked blocks → ordered string_agg
      Some(spanCorruptOracle)),

    // ---- fill-in-the-middle transform (Bavarian 2022, the code-model
    // infilling augmentation): deterministic md5 apply-draw + cut
    // points, PSM sentinel rendering, passthrough otherwise — pure
    // codegen projection whose every emitted example the oracle
    // replays bit-for-bit ----
    Query("q_fim", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.fimTransform(docsPar(s, d), "doc_id", "text",
          fimRate = 0.5)
        .orderBy("doc_id")
    },
      // exact PSM replay: same md5 apply-draw, same two cut points, same
      // substr arithmetic; `||` (not concat()) so null text stays null on
      // both engines
      Some("""WITH d AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    CAST(md5_number_upper('fim|' || CAST(doc_id AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) % 1000000 < 500000 AS hit,
        |    CAST(md5_number_upper('fimA|' || CAST(doc_id AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) % (length(text) + 1) AS a,
        |    CAST(md5_number_upper('fimB|' || CAST(doc_id AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) % (length(text) + 1) AS b
        |  FROM documents
        |), cuts AS (
        |  SELECT doc_id, text, n,
        |    text IS NOT NULL AND hit AS fim_applied,
        |    least(a, b) AS p1, greatest(a, b) AS p2
        |  FROM d
        |)
        |SELECT doc_id, fim_applied,
        |  CASE WHEN fim_applied THEN
        |    '<fim_prefix>' || substr(text, 1, p1) ||
        |    '<fim_suffix>' || substr(text, p2 + 1, n - p2) ||
        |    '<fim_middle>' || substr(text, p1 + 1, p2 - p1)
        |  ELSE text END AS text_out
        |FROM cuts ORDER BY doc_id""".stripMargin)),

    // ---- word2vec negative sampling (Mikolov 2013 §2.2): 3 draws per
    // doc from the unigram^(3/4) distribution over the top-50 vocab.
    // Weights via two correctly-rounded sqrts (never pow — not
    // correctly rounded, a floor boundary could flip cross-engine);
    // portable md5 draws; the oracle replays every pick with a range
    // join on the cumulative-weight table ----
    Query("q_neg_samples", (s, d) => {
      CorpusStats.negativeSamples(docsPar(s, d), "doc_id", "text",
          vocabSize = 50, negatives = 3)
        .orderBy("doc_id", "j")
    },
      // full negative-sampling replay: word counts → top-50 → quantized
      // ^0.75 weights → cumulative [lo, hi) table → md5 draws → range-join
      // pick (the binary search's SQL twin)
      Some("""WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents
        |), f AS (
        |  SELECT word, count(*) AS freq FROM w
        |  WHERE length(word) > 0 GROUP BY word
        |), v AS (
        |  SELECT word, freq,
        |    row_number() OVER (ORDER BY freq DESC, word) AS rk
        |  FROM f QUALIFY rk <= 50
        |), wq AS (
        |  SELECT word, rk,
        |    CAST(floor(sqrt(freq * sqrt(freq)) * 1000000) AS BIGINT) AS wq
        |  FROM v
        |), cum AS (
        |  SELECT word, sum(wq) OVER (ORDER BY rk) - wq AS lo,
        |    sum(wq) OVER (ORDER BY rk) AS hi
        |  FROM wq
        |), tot AS (SELECT max(hi) AS t FROM cum),
        |draws AS (
        |  SELECT doc_id, j,
        |    CAST(md5_number_upper('neg|' || CAST(doc_id AS VARCHAR) || ':'
        |      || CAST(j AS VARCHAR)) % 72057594037927936 AS BIGINT) % t AS u
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(3)) AS j)
        |  CROSS JOIN tot
        |)
        |SELECT d.doc_id, d.j, c.word AS neg_word
        |FROM draws d JOIN cum c ON d.u >= c.lo AND d.u < c.hi
        |ORDER BY d.doc_id, d.j""".stripMargin)),

    // ---- first-iteration BPE merge statistics (tokenizer training):
    // adjacent char-pair counts weighted by word frequency — the corpus
    // reduces ONCE to the weighted vocab, pairs explode on vocab-sized
    // data only ([[Tokenizer]]; the iterative trainer is TokenizerSpec-
    // gated, this pins the statistics every merge decision ranks) ----
    Query("q_bpe_pairs", (s, d) => {
      Tokenizer.bpePairCounts(docsPar(s, d), "text", topK = 50)
    },
      Some("""WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents
        |), f AS (
        |  SELECT word, count(*) AS freq FROM w
        |  WHERE length(word) > 0 GROUP BY word
        |), p AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |    i -> word[i:i] || ' ' || word[i+1:i+1])) AS pair, freq
        |  FROM f WHERE length(word) >= 2
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // ---- BPE encode with gate-SF-pinned merge rules ([[BpeOracle]], the
    // IvfOracle pattern): the sequential merge application is pinned as
    // word→subword VALUES, everything distributed — subword frequency
    // ranking, id assignment, per-doc (widx,sidx) reassembly — replays
    // live in the SQL oracle, so the encode PLAN is what's checked ----
    Query("q_bpe_encode", (s, d) => {
      // gate surface is the joined-string twin of input_ids (the
      // q_collect_series discipline): the driver's pandas row-sort cannot
      // hash array cells, so array<int> columns must never reach the gate.
      // Library users call Tokenizer.encode directly for the array form.
      Tokenizer.encode(docsPar(s, d), "doc_id", "text",
          graft.queries.BpeOracle.pinnedRules)
        .select(col("doc_id"),
          array_join(col("input_ids").cast("array<string>"), ",")
            .as("input_ids_csv"))
        .orderBy("doc_id")
    },
      Some(graft.queries.BpeOracle.sql)),

    // ---- tokenize → detokenize round trip: decode(encode(docs)) must
    // equal the whitespace-normalized lower-cased corpus EXACTLY — one
    // driver-green gate over the whole encode path (segmentation, id
    // assignment, positional reassembly) AND the decode inverse (id →
    // subword join, order reconstruction, eow unmarking) ----
    Query("q_bpe_roundtrip", (s, d) => {
      val docs = docsPar(s, d)
      val rules = graft.queries.BpeOracle.pinnedRules
      // encodeAndVocab: ONE corpus segmentation serves both the id
      // assignment and the decode vocabulary (a separate vocabulary()
      // call would re-segment the whole corpus just to rebuild the
      // identical id map)
      val (encoded, vocab) =
        Tokenizer.encodeAndVocab(docs, "doc_id", "text", rules)
      Tokenizer.decode(encoded, "doc_id", "input_ids", vocab)
        .orderBy("doc_id")
    },
      // dt/tri/cont2 are MATERIALIZED: DuckDB inlines plain CTEs, and with
      // the scalar CROSS JOIN present the re-expanded 4-deep chain makes
      // the optimizer blow up (observed: 70 GB / >10 min at sf0.01;
      // materialized: 0.5 s)
      // the round trip is the identity on the normalized corpus — the
      // oracle is just that normalization, so ANY encode/decode defect
      // (lost subword, wrong order, wrong id, eow damage) hash-fails
      Some("""SELECT doc_id,
        |  array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0), ' ') AS text
        |FROM documents
        |WHERE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> length(x) > 0)) > 0
        |ORDER BY doc_id""".stripMargin)),

    // ---- vocabulary Zipf profile: top-30 words with rank + cumulative
    // corpus coverage, floor-quantized (exact-integer cumsum/total →
    // identical IEEE quotient both engines) ----
    Query("q_vocab_stats", (s, d) => {
      CorpusStats.vocabStats(docsPar(s, d), "text", k = 30)
        .orderBy("rank")
    },
      Some("""WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents
        |), f AS (
        |  SELECT word, count(*) AS freq FROM w
        |  WHERE length(word) > 0 GROUP BY word
        |), tot AS (
        |  SELECT CAST(sum(freq) AS DOUBLE) AS total FROM f
        |), top AS (
        |  SELECT word, freq FROM f ORDER BY freq DESC, word LIMIT 30
        |)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS INTEGER)
        |    AS rank,
        |  word, CAST(freq AS BIGINT) AS freq,
        |  floor(CAST(sum(freq) OVER (ORDER BY freq DESC, word
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    * 1000000 / total) / 1000000 AS cum_frac
        |FROM top CROSS JOIN tot
        |ORDER BY rank""".stripMargin)),

    // ---- inverted-index build (the IR primitive under BM25): per-term
    // df / total tf / bounded sorted postings head via a WindowGroupLimit
    // top-k, never collect-then-slice ----
    Query("q_inverted_index", (s, d) => {
      import graft.operators.Relevance
      Relevance.invertedIndex(docsPar(s, d), "doc_id", "text", k = 10)
        .orderBy("term")
    },
      Some("""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
        |    AS term
        |  FROM documents
        |), tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
        |)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',')
        |    AS postings_head
        |FROM tf GROUP BY term ORDER BY term""".stripMargin)),

    // ---- positional phrase search over the inverted index's token
    // stream: two 3-word phrases against a corpus with planted
    // occurrences (doc_id % 5 = 0 docs get a doubled 'alpha beta gamma'
    // tail — the overlapping second phrase occurs once, the first
    // twice, so adjacency and overlap-counting are both exercised) ----
    Query("q_phrase_search", (s, d) => {
      import graft.operators.Relevance
      val docs = docsPar(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" alpha beta gamma alpha beta gamma")))
          .otherwise(col("text")).as("text"))
      val p1 = Relevance.phraseOccurrences(docs, "doc_id", "text",
          Seq("alpha", "beta", "gamma"))
        .withColumn("phrase", lit("alpha beta gamma"))
      val p2 = Relevance.phraseOccurrences(docs, "doc_id", "text",
          Seq("beta", "gamma", "alpha"))
        .withColumn("phrase", lit("beta gamma alpha"))
      p1.unionByName(p2)
        .select("phrase", "doc_id", "n_occurrences")
        .orderBy("phrase", "doc_id")
    },
      // phrase truth via positional self-joins (adjacency chains) — the
      // simplest possible SQL statement of "consecutive tokens"
      Some("""WITH docs AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' alpha beta gamma alpha beta gamma'
        |    ELSE text END AS text
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, u.p AS pos, u.w AS term
        |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(t)),
        |      i -> struct_pack(p := i, w := t[i + 1]))) AS u
        |    FROM (SELECT doc_id, string_split(regexp_replace(
        |      lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t FROM docs))
        |), hits AS (
        |  SELECT 'alpha beta gamma' AS phrase, a.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM p a
        |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  WHERE a.term = 'alpha' AND b.term = 'beta' AND c.term = 'gamma'
        |  GROUP BY a.doc_id
        |  UNION ALL
        |  SELECT 'beta gamma alpha' AS phrase, a.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM p a
        |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  WHERE a.term = 'beta' AND b.term = 'gamma' AND c.term = 'alpha'
        |  GROUP BY a.doc_id
        |)
        |SELECT phrase, doc_id, n_occurrences FROM hits
        |ORDER BY phrase, doc_id""".stripMargin)),

    // ---- per-source unigram KL divergence + cross-entropy vs the rest
    // of the corpus (distribution-shift profile for mixture decisions,
    // the information-theoretic sibling of DSIR): add-one smoothing
    // over the joint vocab, per-word contributions floor-quantized at
    // 1e9 so the sums commute and compare bit-for-bit ----
    Query("q_kl_divergence", (s, d) => {
      CorpusStats.unigramDivergence(docsPar(s, d), "source", "text")
        .orderBy("slice")
    },
      // op-for-op replay of unigramDivergence: same smoothing quotients,
      // same ln trees, same 1e9 floor-quantized contributions
      Some("""WITH c AS MATERIALIZED (
        |  SELECT slice, word, CAST(count(*) AS BIGINT) AS n_sw FROM (
        |    SELECT source AS slice,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents
        |  ) WHERE length(word) > 0 GROUP BY 1, 2
        |), v AS MATERIALIZED (
        |  SELECT word, CAST(sum(n_sw) AS BIGINT) AS n_w FROM c GROUP BY 1
        |), t AS MATERIALIZED (
        |  SELECT slice, CAST(sum(n_sw) AS BIGINT) AS n_s FROM c GROUP BY 1
        |), sc AS (
        |  SELECT CAST(sum(n_w) AS BIGINT) AS n_tok,
        |    CAST(count(*) AS BIGINT) AS vv FROM v
        |), grid AS (
        |  SELECT t.slice, t.n_s, v.n_w,
        |    coalesce(c.n_sw, 0) + 1 AS cp, t.n_s + sc.vv AS np,
        |    v.n_w - coalesce(c.n_sw, 0) + 1 AS cq,
        |    sc.n_tok - t.n_s + sc.vv AS nq
        |  FROM v CROSS JOIN t CROSS JOIN sc
        |  LEFT JOIN c ON c.slice = t.slice AND c.word = v.word
        |), contrib AS (
        |  SELECT slice, n_s,
        |    CAST(floor(CAST(cp AS DOUBLE) / np
        |      * ln((CAST(cp AS DOUBLE) / np) / (CAST(cq AS DOUBLE) / nq))
        |      * 1e9) AS BIGINT) AS kl_c,
        |    CAST(floor(-(CAST(cp AS DOUBLE) / np)
        |      * ln(CAST(cq AS DOUBLE) / nq) * 1e9) AS BIGINT) AS ce_c
        |  FROM grid
        |)
        |SELECT slice, min(n_s) AS n_tokens,
        |  CAST(sum(kl_c) AS BIGINT) AS kl_q9,
        |  CAST(sum(ce_c) AS BIGINT) AS ce_q9,
        |  CAST(sum(kl_c) AS DOUBLE) / 1e9 AS kl,
        |  CAST(sum(ce_c) AS DOUBLE) / 1e9 AS cross_entropy
        |FROM contrib GROUP BY slice ORDER BY slice""".stripMargin)),

    // ---- power-of-two sequence-length histogram (context-length /
    // packing-budget profile): bucket = binary digit count − 1, an exact
    // integer log2 in both engines (floor(log2(n)) float rounding at
    // 2^k boundaries is libm-dependent) ----
    Query("q_token_histogram", (s, d) => {
      CorpusStats.tokenHistogram(docsPar(s, d), "text")
        .orderBy("bucket")
    },
      // exact-integer log2 buckets via binary digit count, both engines
      Some("""WITH t AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |  END AS n FROM documents
        |)
        |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(min(n) AS BIGINT) AS min_tokens,
        |  CAST(max(n) AS BIGINT) AS max_tokens
        |FROM t WHERE n > 0 GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- LLaMA-style epoch/mixture plan: ppm weights × token budget →
    // per-source target tokens and epochs, all-integer arithmetic ----
    Query("q_epoch_plan", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.epochPlan(docsPar(s, d), "source",
          TextFunctions.tokenCountWs(col("text")),
          weightsPpm = Seq("src0" -> 400000L, "src1" -> 250000L,
            "src2" -> 150000L, "src3" -> 120000L, "src4" -> 80000L),
          budgetTokens = 10000000L)
        .orderBy("source")
    },
      // integer-exact replay of epochPlan: same ppm weights, same DIV tree
      Some("""WITH t AS (
        |  SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |  END AS n FROM documents
        |), stats AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS tokens_avail
        |  FROM t GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(tokens_avail) AS BIGINT) AS tot FROM stats
        |), w(source, w_ppm) AS (VALUES
        |  ('src0', CAST(400000 AS BIGINT)), ('src1', CAST(250000 AS BIGINT)),
        |  ('src2', CAST(150000 AS BIGINT)), ('src3', CAST(120000 AS BIGINT)),
        |  ('src4', CAST(80000 AS BIGINT))
        |)
        |SELECT s.source, s.n_docs, s.tokens_avail,
        |  s.tokens_avail * 1000000 // tot.tot AS avail_share_ppm,
        |  10000000 * w.w_ppm // 1000000 AS target_tokens,
        |  (10000000 * w.w_ppm // 1000000) * 1000000 // s.tokens_avail
        |    AS epochs_ppm
        |FROM stats s JOIN w USING (source), tot
        |ORDER BY source""".stripMargin)),

    // ---- adjacent-bigram PMI (collocation mining): quantized ln over
    // exact count ratios, unigram vocab broadcast back twice, corpus
    // totals in-plan ----
    Query("q_pmi_bigrams", (s, d) => {
      CorpusStats.bigramPmi(docsPar(s, d), "text", minCount = 5)
        .orderBy("w_a", "w_b")
    },
      Some("""WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents
        |), u AS (
        |  SELECT word, count(*) AS n_w
        |  FROM (SELECT unnest(tk) AS word FROM t) GROUP BY word
        |), ntok AS (
        |  SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM u
        |), b AS (
        |  SELECT p['w_a'] AS w_a, p['w_b'] AS w_b, count(*) AS n_ab
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> struct_pack(w_a := tk[i], w_b := tk[i+1]))) AS p
        |    FROM t WHERE len(tk) >= 2)
        |  GROUP BY 1, 2
        |), nbig AS (
        |  SELECT CAST(sum(n_ab) AS DOUBLE) AS n_big FROM b
        |)
        |SELECT w_a, w_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(floor(ln(
        |    (CAST(n_ab AS DOUBLE) / n_big) /
        |    ((CAST(ua.n_w AS DOUBLE) / n_tok) *
        |     (CAST(ub.n_w AS DOUBLE) / n_tok)))
        |    * 1000000) AS BIGINT) AS pmi_q6
        |FROM b
        |JOIN u ua ON ua.word = b.w_a
        |JOIN u ub ON ub.word = b.w_b
        |CROSS JOIN ntok CROSS JOIN nbig
        |WHERE n_ab >= 5
        |ORDER BY w_a, w_b""".stripMargin)),

    // ---- word2vec skip-gram training pairs (window ±2, min-count 5,
    // t=1e-3 frequency subsampling): the md5(doc:pos) keep draw, the
    // per-doc compaction rank, and the ±window pairing all replay
    // exactly in SQL — membership and counts are row-identical ----
    Query("q_skipgram_pairs", (s, d) => {
      CorpusStats.skipGramPairs(docsPar(s, d), "doc_id", "text",
          window = 2, minCount = 5, subsampleT = 1e-3)
        .orderBy("w_center", "w_context")
    },
      // same tokenizer twin as bm25Oracle; list-slice == top-k heads
      // replays the md5(doc:pos) subsampling draw, the per-doc compaction
      // rank, and the ±2 rank-distance pairing; counts are exact integers
      Some("""WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS t
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, u.p AS pos, u.w AS word
        |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(t)),
        |    i -> struct_pack(p := i, w := t[i + 1]))) AS u FROM tk)
        |), vocab AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n_w FROM p GROUP BY 1
        |), nt AS (
        |  SELECT CAST(sum(n_w) AS BIGINT) AS n_tok FROM vocab
        |), kept AS (
        |  SELECT doc_id, word,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
        |  FROM p JOIN vocab USING (word)
        |  WHERE n_w >= 5
        |    AND CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(pos AS VARCHAR)) % 72057594037927936 AS BIGINT)
        |      % 1000000
        |      < least(1000000, CAST(floor(sqrt(
        |          0.001 * CAST((SELECT n_tok FROM nt) AS DOUBLE)
        |            / CAST(n_w AS DOUBLE)) * 1000000) AS BIGINT))
        |)
        |SELECT a.word AS w_center, b.word AS w_context,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM kept a JOIN kept b ON a.doc_id = b.doc_id
        |  AND b.rk BETWEEN a.rk - 2 AND a.rk + 2 AND b.rk <> a.rk
        |GROUP BY 1, 2
        |ORDER BY w_center, w_context""".stripMargin)),

    // ---- token-budget-capped priority sampling: per source, keep docs
    // in salted-md5 draw order until the INCLUSIVE running token sum
    // hits the budget — the "fill a 10 B-token budget" curation
    // terminal; caps what training spends (tokens), not doc count.
    // One Exchange(source) running-sum window; the oracle replays the
    // draw, the cumsum, and the straddle-drop cut exactly ----
    Query("q_token_budget", (s, d) => {
      import graft.operators.DataPrep
      import graft.functions.TextFunctions
      DataPrep.tokenBudgetSample(docsPar(s, d), "doc_id", "source",
          TextFunctions.tokenCountWs(col("text")), budgetTokens = 800)
        .orderBy("doc_id")
    },
      // replays the salted draw, the per-source running token sum in draw
      // order, and the inclusive-cumsum budget cut
      Some("""WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE CAST(len(string_split_regex(trim(text), '\s+'))
        |        AS BIGINT) END AS n_tokens,
        |    CAST(md5_number_upper('tb|' || CAST(doc_id AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) AS draw
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY draw, doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin)),

    // ---- packing-efficiency profile at context length 64: examples and
    // padding waste under pad-to-context vs cross-boundary packing —
    // all-integer `div` arithmetic (padded = Σ ceil(nᵢ/L), packed =
    // ceil(Σnᵢ/L)), efficiency = one exact-integer division ----
    Query("q_pack_efficiency", (s, d) => {
      import graft.operators.DataPrep
      import graft.functions.TextFunctions
      DataPrep.packEfficiency(docsPar(s, d), "source",
          TextFunctions.tokenCountWs(col("text")), ctxLen = 64)
        .orderBy("source")
    },
      // integer `//` replay of packEfficiency's div tree; the efficiency
      // ratios are single divisions of exact integers
      Some("""WITH t AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE CAST(len(string_split_regex(trim(text), '\s+'))
        |        AS BIGINT) END AS n
        |  FROM documents
        |), g AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tokens,
        |    CAST(sum((n + 63) // 64) AS BIGINT) AS padded_examples
        |  FROM t WHERE n > 0 GROUP BY source
        |)
        |SELECT source, n_docs, total_tokens, padded_examples,
        |  CAST((total_tokens + 63) // 64 AS BIGINT) AS packed_examples,
        |  CAST(padded_examples * 64 - total_tokens AS BIGINT)
        |    AS pad_waste_tokens,
        |  CAST(total_tokens AS DOUBLE) / (padded_examples * 64)
        |    AS padded_efficiency,
        |  CAST(total_tokens AS DOUBLE) / (((total_tokens + 63) // 64) * 64)
        |    AS packed_efficiency
        |FROM g ORDER BY source""".stripMargin)),

    // ---- per-doc unigram log-probability (CCNet-style LM quality
    // floor): per-token contributions floor-quantized to exact integers
    // so the per-doc sum commutes — a float sum over an unordered reduce
    // would be run-order-dependent (the q_bm25 discipline) ----
    Query("q_unigram_logprob", (s, d) => {
      CorpusStats.unigramLogProb(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      Some("""WITH ww AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0
        |), u AS (
        |  SELECT word, count(*) AS n_w FROM ww GROUP BY word
        |), ntok AS (
        |  SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM u
        |), c AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(CAST(n_w AS DOUBLE) / n_tok) * 1000000)
        |      AS BIGINT) AS cq
        |  FROM ww JOIN u USING (word) CROSS JOIN ntok
        |)
        |SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sum_q6,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000) AS avg_logprob
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- per-doc smoothed bigram log-probability (the next LM-quality
    // rung above q_unigram_logprob): add-one-smoothed conditional
    // probabilities, integer-quantized per-bigram so doc sums commute ----
    Query("q_bigram_logprob", (s, d) => {
      CorpusStats.bigramLogProb(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents
        |), db AS (
        |  SELECT doc_id, p['w_a'] AS w_a, p['w_b'] AS w_b
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> struct_pack(w_a := tk[i], w_b := tk[i+1]))) AS p
        |    FROM t WHERE len(tk) >= 2)
        |), u AS (
        |  SELECT w_a, count(*) AS n_a
        |  FROM (SELECT unnest(tk) AS w_a FROM t) GROUP BY w_a
        |), v AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS vs FROM u
        |), b AS (
        |  SELECT w_a, w_b, count(*) AS n_ab FROM db GROUP BY w_a, w_b
        |), c AS (
        |  SELECT doc_id,
        |    CAST(floor(ln((CAST(n_ab AS DOUBLE) + 1.0) /
        |        (CAST(n_a AS DOUBLE) + vs)) * 1000000) AS BIGINT) AS cq
        |  FROM db
        |  JOIN b USING (w_a, w_b)
        |  JOIN u USING (w_a)
        |  CROSS JOIN v
        |)
        |SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sum_q6,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000) AS avg_logprob
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- interpolated Kneser-Ney bigram log-probability (Chen &
    // Goodman 1999 — the smoothing CCNet-grade perplexity filters
    // actually use): absolute discount D=0.75 (exact in binary) +
    // continuation-probability backoff; every input is an exact integer
    // and the arithmetic tree is mirrored op-for-op in the oracle, so
    // the quantized contributions match bit-for-bit ----
    Query("q_kn_logprob", (s, d) => {
      CorpusStats.knLogProb(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      // Kneser-Ney: context stats c(a·)/N1+(a,·), continuation types
      // N1+(·,b) and the type total all derive from the bigram count table;
      // the P_KN arithmetic tree mirrors CorpusStats.knLogProb op-for-op
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents
        |), db AS (
        |  SELECT doc_id, p['w_a'] AS w_a, p['w_b'] AS w_b
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> struct_pack(w_a := tk[i], w_b := tk[i+1]))) AS p
        |    FROM t WHERE len(tk) >= 2)
        |), b AS (
        |  SELECT w_a, w_b, count(*) AS n_ab FROM db GROUP BY w_a, w_b
        |), ctx AS (
        |  SELECT w_a, CAST(sum(n_ab) AS BIGINT) AS c_a,
        |    count(*) AS n1p_a
        |  FROM b GROUP BY w_a
        |), cont AS (
        |  SELECT w_b, count(*) AS t_b FROM b GROUP BY w_b
        |), ty AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS t_all FROM b
        |), c AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(
        |      greatest(CAST(n_ab AS DOUBLE) - 0.75, 0.0) /
        |        CAST(c_a AS DOUBLE) +
        |      (0.75 * CAST(n1p_a AS DOUBLE) / CAST(c_a AS DOUBLE)) *
        |        (CAST(t_b AS DOUBLE) / t_all)) * 1000000) AS BIGINT) AS cq
        |  FROM db
        |  JOIN b USING (w_a, w_b)
        |  JOIN ctx USING (w_a)
        |  JOIN cont USING (w_b)
        |  CROSS JOIN ty
        |)
        |SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sum_q6,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000) AS avg_logprob
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- interpolated Kneser-Ney TRIGRAM log-probability (full Chen &
    // Goodman recursion, lower orders from continuation counts of the
    // order above — one rung up from q_kn_logprob toward CCNet's 5-gram
    // KenLM): same exact-integer inputs + op-for-op mirrored arithmetic
    // tree, so quantized contributions match bit-for-bit ----
    Query("q_kn3_logprob", (s, d) => {
      CorpusStats.kn3LogProb(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      Some("""WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents
        |), dt AS MATERIALIZED (
        |  SELECT doc_id, p['w_a'] AS w_a, p['w_b'] AS w_b, p['w_c'] AS w_c
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> struct_pack(w_a := tk[i], w_b := tk[i+1],
        |        w_c := tk[i+2]))) AS p
        |    FROM t WHERE len(tk) >= 3)
        |), tri AS MATERIALIZED (
        |  SELECT w_a, w_b, w_c, count(*) AS n_abc
        |  FROM dt GROUP BY w_a, w_b, w_c
        |), ctx2 AS (
        |  SELECT w_a, w_b, CAST(sum(n_abc) AS BIGINT) AS c_ab,
        |    count(*) AS n1p_ab
        |  FROM tri GROUP BY w_a, w_b
        |), cont2 AS MATERIALIZED (
        |  SELECT w_b, w_c, count(*) AS n1p_bc FROM tri GROUP BY w_b, w_c
        |), ctx1 AS (
        |  SELECT w_b, CAST(sum(n1p_bc) AS BIGINT) AS tot_b,
        |    count(*) AS typ_b
        |  FROM cont2 GROUP BY w_b
        |), cont1 AS (
        |  SELECT w_c, count(*) AS n1p_c FROM cont2 GROUP BY w_c
        |), ty AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS t_all FROM cont2
        |), c AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(
        |      greatest(CAST(n_abc AS DOUBLE) - 0.75, 0.0) /
        |        CAST(c_ab AS DOUBLE) +
        |      (0.75 * CAST(n1p_ab AS DOUBLE) / CAST(c_ab AS DOUBLE)) *
        |        (greatest(CAST(n1p_bc AS DOUBLE) - 0.75, 0.0) /
        |          CAST(tot_b AS DOUBLE) +
        |         (0.75 * CAST(typ_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) *
        |           (CAST(n1p_c AS DOUBLE) / t_all))) * 1000000)
        |      AS BIGINT) AS cq
        |  FROM dt
        |  JOIN tri USING (w_a, w_b, w_c)
        |  JOIN ctx2 USING (w_a, w_b)
        |  JOIN cont2 USING (w_b, w_c)
        |  JOIN ctx1 USING (w_b)
        |  JOIN cont1 USING (w_c)
        |  CROSS JOIN ty
        |)
        |SELECT doc_id, CAST(sum(cq) AS BIGINT) AS sum_q6,
        |  CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(sum(cq) AS DOUBLE) / (count(*) * 1000000) AS avg_logprob
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- interpolated Kneser-Ney 5-GRAM log-probability — the full
    // CCNet grain (their KenLM perplexity filter is a 5-gram model).
    // Four backoff levels, each lower order a grouped row-count of the
    // order above; same exact-integer + op-for-op-mirrored-tree
    // discipline as q_kn_logprob/q_kn3_logprob ----
    Query("q_kn5_logprob", (s, d) => {
      CorpusStats.kn5LogProb(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      // built on the shared kn5OracleCore (see above)
      Some((kn5OracleCore +
      """
        |SELECT doc_id, sum_q6, n_grams, avg_logprob
        |FROM scored ORDER BY doc_id""".stripMargin))),

    // ---- CCNet perplexity banding (Wenzek et al. 2020): kn5 scores →
    // nearest-rank band bounds from a bounded md5-draw sample →
    // head/middle/tail labels — the LM-quality partition CCNet feeds
    // into data selection. Bounds are order statistics, not interpolated
    // percentiles, so the cross-engine compare is integer-exact ----
    Query("q_ccnet_bands", (s, d) => {
      CorpusStats.perplexityBands(docsPar(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },
      // CCNet perplexity bands: bounds are NEAREST-RANK order statistics
      // of a bounded md5-draw sample (no interpolation to mirror across
      // engines — integer comparisons cannot flip on a ulp); the rank-k
      // VALUE is tie-stable so no tiebreak is needed
      Some((kn5OracleCore +
      """, sq AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(floor(avg_logprob * 1000000) AS BIGINT) AS avg_q6
        |  FROM scored
        |), sample AS MATERIALIZED (
        |  SELECT doc_id, avg_q6 FROM sq
        |  ORDER BY CAST(md5_number_upper('ppl|' ||
        |      CAST(doc_id AS VARCHAR)) % 72057594037927936 AS BIGINT),
        |    doc_id
        |  LIMIT 50000
        |), ranked AS (
        |  SELECT avg_q6, row_number() OVER (ORDER BY avg_q6 DESC) AS rk
        |  FROM sample
        |), nn AS (
        |  SELECT count(*) AS n FROM sample
        |), bounds AS (
        |  SELECT
        |    max(CASE WHEN rk = greatest(CAST(ceil(n / 3.0) AS BIGINT), 1)
        |      THEN avg_q6 END) AS b_head,
        |    max(CASE WHEN rk =
        |        greatest(CAST(ceil(n * 2.0 / 3.0) AS BIGINT), 1)
        |      THEN avg_q6 END) AS b_mid
        |  FROM ranked CROSS JOIN nn
        |)
        |SELECT doc_id, avg_q6,
        |  CASE WHEN avg_q6 >= b_head THEN 'head'
        |       WHEN avg_q6 >= b_mid THEN 'middle'
        |       ELSE 'tail' END AS band
        |FROM sq CROSS JOIN bounds ORDER BY doc_id""".stripMargin))),

    // ---- contiguous global sequence ids (training sample indexing):
    // range-repartition + zipWithIndex — NOT the single-partition global
    // row_number window; the oracle IS that row_number, proving the
    // distributed plan meets the same contract ----
    Query("q_contiguous_ids", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.contiguousIds(docsPar(s, d).select("doc_id", "source"),
          "doc_id")
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, source,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
        |    AS seq_id
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- GPT-style training-example assembly, the terminal artifact of
    // tokenize-and-pack: pinned-rule BPE encode → per-source EOS-joined
    // token stream in doc order → exclusive-prefix-sum offsets → fixed
    // 64-token examples crossing doc boundaries. The oracle replays the
    // WHOLE composition from the pinned segmentation ----
    Query("q_train_examples", (s, d) => {
      import graft.operators.DataPrep
      val docs = docsPar(s, d)
      val enc = Tokenizer.encode(docs, "doc_id", "text",
        graft.queries.BpeOracle.pinnedRules)
      DataPrep.trainExamples(
          enc.join(docs.select("doc_id", "source"), Seq("doc_id")),
          "doc_id", "source")
        .orderBy("source", "example_idx")
    },
      Some(graft.queries.BpeOracle.exampleSql)),

    // ---- deterministic epoch shuffle (training-data ordering): global
    // permutation by salted md5 draw, positions stamped by
    // range-repartition + zipWithIndex (the q_contiguous_ids mechanism —
    // never a one-task window); the oracle replays the identical draw ----
    Query("q_corpus_shuffle", (s, d) => {
      import graft.operators.DataPrep
      DataPrep.deterministicShuffle(
          docsPar(s, d).select("doc_id", "source"), "doc_id", "epoch0-")
        .orderBy("doc_id")
    },
      // the oracle IS the global row_number over the same salted draw —
      // the distributed zipWithIndex plan must meet its contract
      Some("""SELECT doc_id, source,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('epoch0-' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- unigram-LM (SentencePiece) seed vocabulary: all substrings
    // (len ≤ 4) of the marker-prefixed words, weighted by occurrence ×
    // word freq — all single chars plus the top-200 multi-char
    // candidates on the total order (w × len desc, piece asc). One
    // corpus-sized word reduction, then vocab-local substring explode ----
    Query("q_sp_vocab", (s, d) => {
      import graft.operators.UnigramLm
      UnigramLm.seedVocab(docsPar(s, d), "text", maxPieceLen = 4,
          multiSeeds = 200)
        .orderBy("piece")
    },
      // replays the marked-word substring explode + the (w × len, piece)
      // total-order cut of UnigramLm.seedVocab
      Some("""WITH wf AS (
        |  SELECT '▁' || word AS word, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(
        |          string_split_regex(lower(trim(text)), '\s+'),
        |          x -> length(x) > 0)) AS word FROM documents)
        |  GROUP BY 1
        |), subs AS (
        |  SELECT piece, CAST(sum(freq) AS BIGINT) AS w
        |  FROM (
        |    SELECT freq, unnest(flatten(list_transform(
        |      range(1, length(word) + 1),
        |      i -> list_transform(
        |        range(1, least(4, length(word) - i + 1) + 1),
        |        l -> substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER))))))
        |      AS piece
        |    FROM wf)
        |  GROUP BY piece
        |), multi AS (
        |  SELECT piece, w, false AS is_char FROM subs
        |  WHERE length(piece) >= 2
        |  ORDER BY w * length(piece) DESC, piece LIMIT 200
        |)
        |SELECT piece, w, is_char FROM
        |  (SELECT piece, w, true AS is_char FROM subs
        |   WHERE length(piece) = 1
        |   UNION ALL SELECT * FROM multi)
        |ORDER BY piece""".stripMargin)),

    // ---- unigram-LM tokenize → detokenize round trip: hard-EM training
    // (Viterbi counts over the distinct-word vocab under broadcast piece
    // scores), Viterbi encode, marker-driven decode — must reproduce the
    // whitespace-normalized lower-cased corpus EXACTLY (the
    // q_bpe_roundtrip discipline for the second tokenizer family) ----
    Query("q_sp_roundtrip", (s, d) => {
      import graft.operators.UnigramLm
      val docs = docsPar(s, d)
      val m = UnigramLm.train(docs, "text", vocabSize = 300,
        emIters = 2, multiSeeds = 500)
      UnigramLm.decode(UnigramLm.encode(docs, "doc_id", "text", m),
          "doc_id", "input_ids", m)
        .orderBy("doc_id")
    },
      // the round trip's fixed point IS the normalized corpus (the
      // q_bpe_roundtrip oracle, second tokenizer family)
      Some("""SELECT doc_id,
        |  array_to_string(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0), ' ') AS text
        |FROM documents
        |WHERE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> length(x) > 0)) > 0
        |ORDER BY doc_id""".stripMargin)))
}
