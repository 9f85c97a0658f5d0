package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.{Dedup, SimilaritySearch}
import DocFixtures._

/** Embedding and ANN queries over the `embeddings` table: brute-force,
  * LSH, IVF, PQ and IVF-PQ top-k, the persisted AnnIndex cycle, MIPS,
  * SemDeDup, k-means, bitext mining and ranking metrics. The gate-pinned
  * oracles replay quantizers trained at the gate SF ([[IvfOracle]]).
  */
object AnnQueries {

  /** The shared KMeans replay prefix — quantize at 1024, md5-draw seed
    * pick, exact-integer distances, nearest assignment with ties to
    * the lowest cluster (emits `e`/`init`/`d`/`a`; assigned rows are
    * `a WHERE rn = 1`). ONE definition consumed by BOTH the
    * q_kmeans_iter and q_cluster_balance oracles, so a change to the
    * shared math cannot land on only one of them. */
  private def kmeansAssignBody(source: String, k: Int): String =
    s"""e AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
      |  FROM $source
      |), init AS (
      |  SELECT q, CAST(row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT)
      |    AS cluster_id
      |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k
      |), d AS (
      |  SELECT e.vec_id, i.cluster_id, e.q,
      |    list_sum(list_transform(range(1, 65),
      |      j -> (e.q[j] - i.q[j]) * (e.q[j] - i.q[j]))) AS dist
      |  FROM e CROSS JOIN init i
      |), a AS (
      |  SELECT vec_id, cluster_id, q,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cluster_id) AS rn
      |  FROM d
      |)""".stripMargin

  private val kmeansAssignCtes: String =
    "WITH " + kmeansAssignBody("embeddings", 8)

  /** SQL twin of [[graft.operators.SemDedup.verdicts]] on the injected
    * corpus: the shared k-means assignment body (over the UNIONED
    * source — same seeding math as q_kmeans_iter/q_cluster_balance),
    * cluster-scoped quantized-cosine pairs, the q_embed_dedup
    * recursive min-label closure, then the keep-the-outlier pick
    * (lowest centroid cosine, ties to min id) as a window rank. */
  private val semDedupOracle: String = semDedupOracleFor(8)

  /** The q_semdedup_planned twin: k comes from the SAME Scala planner
    * the Spark side calls — semdedupKFor over the gate-SF corpus
    * count (500 embeddings + 25 injected copies = 525) — so a planner
    * change re-generates the oracle with it. Valid at the gate SF
    * only (the Spark side recounts per-corpus); Verify omits this
    * oracle elsewhere, the q_ann_ivf pinning rule. */
  private val semDedupPlannedOracle: String = semDedupOracleFor(
    graft.operators.SemDedup.semdedupKFor(525L, targetCellRows = 64L))

  /** The 2-probe twin under the probeCells-aware planner (r14 verdict
    * #3): k is generated by the SAME Scala planner with probeCells=2
    * over the gate-SF corpus count, so both the planner arithmetic
    * and the multi-probe pair domain are pinned in one row. Gate-SF
    * only, the q_semdedup_planned rule. */
  private val semDedupProbe2PlannedOracle: String = semDedupOracleFor(
    graft.operators.SemDedup.semdedupKFor(525L, targetCellRows = 64L,
      probeCells = 2),
    probeCells = 2)

  private def semDedupOracleFor(k: Int, probeCells: Int = 1): String = {
    val src =
      """(SELECT vec_id, embedding FROM embeddings
        |    UNION ALL
        |    SELECT vec_id + 100000 AS vec_id, embedding
        |    FROM embeddings WHERE vec_id % 20 = 0)""".stripMargin
    // single-cell pairs: the r13 oracle verbatim. Multi-probe: the
    // pair domain is the rn <= probeCells assignment, and a pair
    // sharing several probed cells counts once — at the smallest
    // shared cell (the Spark side's row-local array_intersect dedup,
    // replayed over per-vec cell lists)
    val pairsCte =
      if (probeCells == 1)
        """pairs AS (
          |  SELECT id_a, id_b FROM (
          |    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
          |      CAST(floor(list_cosine_similarity(x.v, y.v) * 1e6)
          |        AS BIGINT) AS cq
          |    FROM asg x JOIN asg y
          |      ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
          |  WHERE cq >= 990000
          |)""".stripMargin
      else
        s"""probed AS (
          |  SELECT a.vec_id, a.cluster_id AS cluster, ev.v
          |  FROM a JOIN ev USING (vec_id) WHERE a.rn <= $probeCells
          |), cellsets AS (
          |  SELECT vec_id, list_sort(list(cluster)) AS cells
          |  FROM probed GROUP BY vec_id
          |), pairs AS (
          |  SELECT id_a, id_b FROM (
          |    SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster,
          |      cx.cells AS ca, cy.cells AS cb,
          |      CAST(floor(list_cosine_similarity(x.v, y.v) * 1e6)
          |        AS BIGINT) AS cq
          |    FROM probed x JOIN probed y
          |      ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          |    JOIN cellsets cx ON cx.vec_id = x.vec_id
          |    JOIN cellsets cy ON cy.vec_id = y.vec_id)
          |  WHERE cq >= 990000
          |    AND cluster = list_min(list_intersect(ca, cb))
          |)""".stripMargin
    "WITH RECURSIVE " + kmeansAssignBody(src, k) +
      s""", ev AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $src e2
        |), asg AS (
        |  SELECT a.vec_id, a.cluster_id AS cluster, ev.v
        |  FROM a JOIN ev USING (vec_id) WHERE a.rn = 1
        |), $pairsCte, sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
        |), reach(id, label) AS (
        |  SELECT vec_id, vec_id FROM asg
        |  UNION
        |  SELECT s.dst, r.label FROM reach r JOIN sym s ON r.id = s.src
        |), comp AS (
        |  SELECT id, min(label) AS component FROM reach GROUP BY id
        |), cent AS (
        |  SELECT asg.vec_id, asg.cluster, comp.component,
        |    CAST(floor(list_cosine_similarity(asg.v,
        |      list_transform(i.q, x -> x / 1024.0)) * 1e6) AS BIGINT)
        |      AS centroid_cos_q
        |  FROM asg
        |  JOIN init i ON i.cluster_id = asg.cluster
        |  JOIN comp ON comp.id = asg.vec_id
        |)
        |SELECT vec_id, CAST(cluster AS INT) AS cluster, component,
        |  centroid_cos_q,
        |  row_number() OVER (PARTITION BY component
        |    ORDER BY centroid_cos_q, vec_id) = 1 AS keep
        |FROM cent ORDER BY vec_id""".stripMargin
  }

  /** Exact SQL twin of the portable-bucket LSH ANN: recompute each
    * vector's integer Rademacher projections (bit p of the per-dimension
    * md5 hash picks the sign; the vector is floor(x·1e6)-quantized), join
    * on equal buckets, rank by the same cosine. All bucket math is
    * integer-exact, so the candidate sets must match row for row. */
  private val annLshOracle: String = {
    val sigTerms = sigTermsSql(6)
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qh AS (
  SELECT vec_id, v,
    list_transform(range(1, len(v) + 1),
      i -> CAST(floor(v[i] * 1e6) AS BIGINT)) AS q,
    list_transform(range(1, len(v) + 1),
      i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
  FROM e
), sigs AS (
  SELECT vec_id, v,
    $sigTerms AS bucket
  FROM qh
), qry AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM sigs WHERE vec_id < 5
), scored AS (
  SELECT qry.query_id, s.vec_id AS id,
    list_cosine_similarity(s.v, qry.qv) AS cosine
  FROM sigs s JOIN qry ON s.bucket = qry.bucket
  WHERE s.vec_id != qry.query_id
), ranked AS (
  SELECT query_id, id, cosine,
    row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, id) AS rank
  FROM scored
)
SELECT query_id, id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** Exact SQL twin of the portable-bucket ALSH MIPS: replays the
    * asymmetric transform itself — corpus vectors gain one quantized
    * dimension floor(sqrt(m2q − Σq²)) (m2q = corpus max quantized
    * norm², ONE scalar agg) before the integer-Rademacher signature;
    * queries sign the plain un-augmented vector (their appended 0
    * contributes nothing to any projection). All bucket math is
    * integer-exact and the re-rank score is the sequentially-accumulated
    * inner product, so candidate sets and ranks match row for row. */
  private val mipsAlshOracle: String = {
    val sigTerms = sigTermsSql(6)
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qh AS (
  SELECT vec_id, v,
    list_transform(range(1, len(v) + 1),
      i -> CAST(floor(v[i] * 1e6) AS BIGINT)) AS qb
  FROM e
), norms AS (
  SELECT vec_id, v, qb,
    CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS n2
  FROM qh
), m AS (
  SELECT max(n2) AS m2q FROM norms
), corp AS (
  SELECT vec_id, v,
    list_append(qb, CAST(floor(sqrt(CAST(greatest(m2q - n2, 0) AS DOUBLE)))
      AS BIGINT)) AS q,
    list_transform(range(1, len(qb) + 2),
      i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
  FROM norms CROSS JOIN m
), qry0 AS (
  SELECT vec_id, v, qb AS q,
    list_transform(range(1, len(qb) + 1),
      i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
  FROM norms WHERE vec_id < 5
), csig AS (
  SELECT vec_id, v,
    $sigTerms AS bucket
  FROM corp
), qsig AS (
  SELECT vec_id AS query_id, v AS qv,
    $sigTerms AS bucket
  FROM qry0
), scored AS (
  SELECT qsig.query_id, c.vec_id AS id,
    list_inner_product(c.v, qsig.qv) AS dot
  FROM csig c JOIN qsig ON c.bucket = qsig.bucket
  WHERE c.vec_id != qsig.query_id
), ranked AS (
  SELECT query_id, id, dot,
    row_number() OVER (PARTITION BY query_id
      ORDER BY dot DESC, id) AS rank
  FROM scored
)
SELECT query_id, id, rank, round(dot, 6) AS dot
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** Planner-driven ALSH twin: replays
    * [[graft.operators.SimilaritySearch.alshBitsFor]] (the smallest
    * width with n·0.5^bits ≤ 64 — exact powers of two, so the argmin
    * is engine-identical) as a CTE, then masks the same 62-plane
    * portable signature down to the planned width; otherwise the
    * mipsAlshOracle pipeline verbatim. */
  private val mipsAlshPlannedOracle: String = {
    val sigTerms = sigTermsSql(62)
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pl AS (
  SELECT COALESCE((SELECT min(g.bits)
    FROM (SELECT unnest(range(1, 63)) AS bits) g
    WHERE (SELECT count(*) FROM e) * pow(0.5, g.bits) <= 64), 62)
    AS bits
), qh AS (
  SELECT vec_id, v,
    list_transform(range(1, len(v) + 1),
      i -> CAST(floor(v[i] * 1e6) AS BIGINT)) AS qb
  FROM e
), norms AS (
  SELECT vec_id, v, qb,
    CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS n2
  FROM qh
), m AS (
  SELECT max(n2) AS m2q FROM norms
), corp AS (
  SELECT vec_id, v,
    list_append(qb, CAST(floor(sqrt(CAST(greatest(m2q - n2, 0) AS DOUBLE)))
      AS BIGINT)) AS q,
    list_transform(range(1, len(qb) + 2),
      i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
  FROM norms CROSS JOIN m
), qry0 AS (
  SELECT vec_id, v, qb AS q,
    list_transform(range(1, len(qb) + 1),
      i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
  FROM norms WHERE vec_id < 5
), csig AS (
  SELECT vec_id, v,
    ($sigTerms) & ((CAST(1 AS BIGINT) << pl.bits) - 1) AS bucket
  FROM corp CROSS JOIN pl
), qsig AS (
  SELECT vec_id AS query_id, v AS qv,
    ($sigTerms) & ((CAST(1 AS BIGINT) << pl.bits) - 1) AS bucket
  FROM qry0 CROSS JOIN pl
), scored AS (
  SELECT qsig.query_id, c.vec_id AS id,
    list_inner_product(c.v, qsig.qv) AS dot
  FROM csig c JOIN qsig ON c.bucket = qsig.bucket
  WHERE c.vec_id != qsig.query_id
), ranked AS (
  SELECT query_id, id, dot,
    row_number() OVER (PARTITION BY query_id
      ORDER BY dot DESC, id) AS rank
  FROM scored
)
SELECT query_id, id, rank, round(dot, 6) AS dot
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** `bits`-bit integer-Rademacher signature terms over per-row `q`
    * (quantized vector) and `h` (per-dimension md5) list columns — the
    * annLshOracle expression, parameterized on width for the banded
    * bitext replay. */
  private def sigTermsSql(bits: Int): String = (0 until bits).map { p =>
    // bit 63: DuckDB's checked shift rejects 1 << 63, so the sign bit
    // is written as the min-BIGINT literal (same bit pattern Spark's
    // 1L << 63 produces); the sum then wraps into the same two's-
    // complement value on both engines
    val bitLit =
      if (p == 63) "CAST(-9223372036854775808 AS BIGINT)"
      else s"(CAST(1 AS BIGINT) << $p)"
    s"""CASE WHEN list_sum(list_transform(range(1, len(q) + 1),
       |      i -> CASE WHEN (h[i] >> $p) & 1 = 1 THEN q[i] ELSE -q[i] END)) >= 0
       |    THEN $bitLit ELSE CAST(0 AS BIGINT) END"""
      .stripMargin
  }.mkString(" +\n    ")

  /** Candidate CTE body for the banded bitext oracle: one 24-bit
    * portable signature per side, sliced into 4 × 6-bit band buckets,
    * pairs = any-band bucket match, deduped on the pair key — the exact
    * SQL twin of Bitext.mine's `bits = Some(6), bands = 4` path. */
  private val bitextBandedCandidates: String = {
    val sig = sigTermsSql(24)
    // one template for both sides so a banding-arithmetic edit cannot
    // land on only one of them (a hard-to-localize parity failure)
    def bandedSide(table: String, idCol: String, vecCol: String) =
      s"""SELECT $idCol, j AS band, (sig >> (j * 6)) & 63 AS bucket
      FROM (
        SELECT $idCol, $sig AS sig
        FROM (
          SELECT $idCol,
            list_transform(range(1, len($vecCol) + 1),
              i -> CAST(floor($vecCol[i] * 1e6) AS BIGINT)) AS q,
            list_transform(range(1, len($vecCol) + 1),
              i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
          FROM $table)
      ) CROSS JOIN (SELECT unnest(range(4)) AS j)"""
    s"""SELECT c.src_id, a2.va, c.tgt_id, b2.vb
  FROM (
    SELECT DISTINCT ab.src_id, bb.tgt_id
    FROM (
      ${bandedSide("a", "src_id", "va")}
    ) ab
    JOIN (
      ${bandedSide("b", "tgt_id", "vb")}
    ) bb ON ab.band = bb.band AND ab.bucket = bb.bucket
  ) c
  JOIN a a2 USING (src_id)
  JOIN b b2 USING (tgt_id)"""
  }

  /** Candidate CTE for the PLANNER-driven banded bitext oracle: first
    * replays [[graft.operators.SimilaritySearch.hyperplanePlanFor]]
    * itself — same feasibility tests, same cost model
    * (bands·(nA+nB) + bands·p₀^bits·nA·nB), same (cost, bands, bits)
    * tie-break — then slices a 64-plane portable signature by the
    * planned grid. p₀ is exactly 0.5 in both engines (acos(0) = π/2 in
    * the same doubles) and the cost terms are integer·2⁻ᵇ products, so
    * the argmin is bit-identical; a drifted planner constant fails the
    * gate before any bucket is compared. */
  private val bitextPlannedCandidates: String = {
    val sig = sigTermsSql(64)
    val planner = s"""SELECT bits, bands FROM (
        SELECT gb.bits AS bits, gn.bands AS bands,
          gn.bands * ((SELECT count(*) FROM a) + (SELECT count(*) FROM b))
            + gn.bands * pow(0.5, gb.bits)
              * (SELECT count(*) FROM a) * (SELECT count(*) FROM b)
            AS cost
        FROM (SELECT unnest(range(1, 65)) AS bits) gb
        CROSS JOIN (SELECT unnest(range(1, 65)) AS bands) gn
        WHERE gb.bits * gn.bands <= 64
          AND 1 - pow(1 - pow(1 - acos(0.99) / pi(), gb.bits), gn.bands)
                >= 0.95
          AND gn.bands * pow(0.5, gb.bits) * (SELECT count(*) FROM b)
                <= 1024
      ) ORDER BY cost, bands, bits LIMIT 1"""
    // one template for both sides (the bitextBandedCandidates
    // discipline); the 64-plane signature's unused high bits are
    // masked off by the planned (bits, bands) slice, so it equals the
    // Spark side's bits·bands-plane signature on every used bit
    def bandedSide(table: String, idCol: String, vecCol: String) =
      s"""SELECT $idCol, j AS band,
        (sig >> (j * p.bits)) & ((CAST(1 AS BIGINT) << p.bits) - 1)
          AS bucket
      FROM (
        SELECT $idCol, $sig AS sig
        FROM (
          SELECT $idCol,
            list_transform(range(1, len($vecCol) + 1),
              i -> CAST(floor($vecCol[i] * 1e6) AS BIGINT)) AS q,
            list_transform(range(1, len($vecCol) + 1),
              i -> md5_number_upper(CAST(i - 1 AS VARCHAR))) AS h
          FROM $table)
      ) CROSS JOIN ($planner) p
      CROSS JOIN (SELECT unnest(range(64)) AS j)
      WHERE j < p.bands"""
    s"""SELECT c.src_id, a2.va, c.tgt_id, b2.vb
  FROM (
    SELECT DISTINCT ab.src_id, bb.tgt_id
    FROM (
      ${bandedSide("a", "src_id", "va")}
    ) ab
    JOIN (
      ${bandedSide("b", "tgt_id", "vb")}
    ) bb ON ab.band = bb.band AND ab.bucket = bb.bucket
  ) c
  JOIN a a2 USING (src_id)
  JOIN b b2 USING (tgt_id)"""
  }

  /** Shared margin tail of the two bitext oracles (the candidate source
    * CTE is their ONLY difference): quantized cosines on the candidate
    * set → per-side top-4 sums → cross-multiplied integer margin →
    * per-source argmax ≥ 1.15. */
  private def bitextMarginOracle(candidatesSql: String): String =
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), a AS (SELECT vec_id AS src_id, v AS va FROM e WHERE vec_id % 2 = 0),
b AS (SELECT vec_id AS tgt_id, v AS vb FROM e WHERE vec_id % 2 = 1),
cand AS (
  $candidatesSql
), sc0 AS (
  SELECT src_id, tgt_id,
    CAST(floor(list_cosine_similarity(va, vb) * 1e6) AS BIGINT) AS cq
  FROM cand
), sc AS (SELECT * FROM sc0 WHERE cq > 0),
ra AS (SELECT *, row_number() OVER (PARTITION BY src_id
    ORDER BY cq DESC, tgt_id) AS r FROM sc),
sa AS (SELECT src_id, sum(cq) AS sa, count(*) AS na
  FROM ra WHERE r <= 4 GROUP BY src_id),
rb AS (SELECT *, row_number() OVER (PARTITION BY tgt_id
    ORDER BY cq DESC, src_id) AS r FROM sc),
sb AS (SELECT tgt_id, sum(cq) AS sb, count(*) AS nb
  FROM rb WHERE r <= 4 GROUP BY tgt_id),
m AS (
  SELECT sc.src_id, sc.tgt_id, sc.cq,
    (sc.cq * 2 * na * nb * 1000000) // (sa * nb + sb * na) AS mq
  FROM sc JOIN sa USING (src_id) JOIN sb USING (tgt_id)
), f AS (
  SELECT *, row_number() OVER (PARTITION BY src_id
    ORDER BY mq DESC, tgt_id) AS rm FROM m
)
SELECT src_id, tgt_id, CAST(cq AS DOUBLE) / 1e6 AS cosine,
  CAST(mq AS DOUBLE) / 1e6 AS margin
FROM f WHERE rm = 1 AND mq >= 1150000
ORDER BY src_id"""

  val all: Seq[Query] = Seq(

    // ---- embedding cluster cohesion / outlier score (mislabel and
    // noise detection in SemDeDup-style curation): per-label centroid,
    // per-vector Euclidean distance to its own label's centroid. All
    // arithmetic until the final sqrt is EXACT INTEGER: components
    // quantize to 1e-4 grain, and the per-dim deviation is computed as
    // xq·n − Σxq (the centroid scaled by n) so no division — and no
    // order-dependent float sum — ever happens inside an aggregate.
    // Bound: |x|·10⁴·n_label ≲ 3·10⁹ keeps diff² · dim inside Long —
    // holds to sf 1000 for unit-norm embeddings (|x| ≤ 1, dim 64). ----
    Query("q_embed_cohesion", (s, d) => {
      val q = embeddings(s, d).select(col("vec_id"), col("label"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 10000).cast("long"))))
        .withColumnRenamed("pos", "dim")
        .withColumnRenamed("col", "xq")
      val cent = q.groupBy("label", "dim")
        .agg(sum("xq").as("s"), count(lit(1)).as("n"))
      q.join(broadcast(cent), Seq("label", "dim"))
        .withColumn("diff", col("xq") * col("n") - col("s"))
        .groupBy("vec_id", "label")
        .agg(sum(col("diff") * col("diff")).as("dist2_scaled"),
          max("n").as("n"))
        .select(col("vec_id"), col("label"), col("dist2_scaled"),
          round(sqrt(col("dist2_scaled").cast("double")) /
            (col("n") * 10000), 6).as("dist"))
        .orderBy("vec_id")
    },
      // centroid scaled by n (xq·n − Σxq) keeps every aggregate an exact
      // integer sum — the only float ops are the final sqrt/division of
      // identical values
      Some("""WITH q AS (
        |  SELECT vec_id, label,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
        |      AS xq
        |  FROM embeddings
        |), cent AS (
        |  SELECT label, dim, CAST(sum(xq) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY label, dim
        |)
        |SELECT q.vec_id, q.label,
        |  CAST(sum((q.xq * c.n - c.s) * (q.xq * c.n - c.s)) AS BIGINT)
        |    AS dist2_scaled,
        |  round(sqrt(CAST(sum((q.xq * c.n - c.s) * (q.xq * c.n - c.s))
        |    AS DOUBLE)) / (max(c.n) * 10000), 6) AS dist
        |FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
        |GROUP BY q.vec_id, q.label ORDER BY q.vec_id""".stripMargin)),

    // ---- Johnson–Lindenstrauss ±1 random projection (Achlioptas
    // 2003): 64-dim embeddings → 16 dims through a deterministic
    // md5-derived sign matrix — the training-free scale path beside
    // PCA. Exact integer sums per component (quantize-then-sum); the
    // oracle replays every sign bit via md5_number_upper % 2. ----
    Query("q_jl_reduce", (s, d) => {
      SimilaritySearch.jlReduce(
          embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 16)
        .orderBy("vec_id", "out_dim")
    },
      // replays every sign bit (md5_number_upper % 2^56 % 2 == the
      // driver-side md5Long56Local) and sums the same quantized integers
      Some("""WITH q AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS i,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
        |      AS xq
        |  FROM embeddings
        |), s AS (
        |  SELECT i.range AS i, j.range AS j,
        |    CASE WHEN CAST(md5_number_upper(
        |        'jl|' || CAST(i.range AS VARCHAR) || '|'
        |          || CAST(j.range AS VARCHAR))
        |        % 72057594037927936 AS BIGINT) % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM range(0, 64) i, range(0, 16) j
        |)
        |SELECT q.vec_id, CAST(s.j AS INTEGER) AS out_dim,
        |  CAST(sum(q.xq * s.sgn) AS BIGINT) AS comp_q6,
        |  CAST(sum(q.xq * s.sgn) AS DOUBLE)
        |    / (1000000 * sqrt(16)) AS value
        |FROM q JOIN s ON q.i = s.i
        |GROUP BY q.vec_id, s.j
        |ORDER BY vec_id, out_dim""".stripMargin)),

    // ---- embedding-cosine near-duplicate pairs: the SCALE path (LSH
    // bucket join + exact cosine verify, Dedup.embeddingDupPairs — a keyed
    // join, not a cross product), oracle-checked against the all-pairs
    // truth in DuckDB. Exact-copy vectors are injected (vec_id+100000 for
    // vec_id%20=0, same expression both sides) so the gate has positive
    // rows; identical vectors share any LSH bucket → recall 1 on them. ----
    Query("q_embed_dup_pairs", (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val withCopies = e.unionByName(
        e.where(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Dedup.embeddingDupPairs(withCopies, "vec_id", "embedding",
          threshold = 0.99, bits = 16)
        // coarse round: candidate cosines sit at ~1.0, far from any
        // 0.00005 decimal boundary, so both engines round identically
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 20 = 0
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- cross-split SEMANTIC leakage: hash-split the vectors, then
    // keep only near-dup pairs that STRADDLE splits — the
    // embedding-space decontamination check (q_decontaminate's n-grams
    // miss paraphrases; this catches them in embedding space). Copies
    // injected (vec_id+100000, the q_embed_dup_pairs convention) so
    // positives exist — a copy's id hashes independently of its
    // source's, so most dup pairs land in different splits. ----
    Query("q_split_leakage", (s, d) => {
      import graft.operators.DataPrep
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val withCopies = e.unionByName(
        e.where(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val split = DataPrep.hashSplit(withCopies.select("vec_id"),
        "vec_id", Seq("train" -> "cc", "val" -> "e6"), rest = "test")
      Dedup.embeddingDupPairs(withCopies, "vec_id", "embedding",
          threshold = 0.99, bits = 16)
        .join(split.select(col("vec_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(split.select(col("vec_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .where(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 20 = 0
        |), sp AS (
        |  SELECT vec_id,
        |    CASE WHEN substr(sha256('split|' || CAST(vec_id AS VARCHAR)), 1, 2)
        |           < 'cc' THEN 'train'
        |         WHEN substr(sha256('split|' || CAST(vec_id AS VARCHAR)), 1, 2)
        |           < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM e
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  sa.split AS split_a, sb.split AS split_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |JOIN sp sa ON sa.vec_id = a.vec_id
        |JOIN sp sb ON sb.vec_id = b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |  AND sa.split <> sb.split
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- SemDeDup-style semantic clustering (Abbas et al. 2023): the
    // LSH-bucketed cosine pairs above, closed into components — the step
    // that turns pair lists into one-keeper-per-semantic-cluster. The
    // oracle recomputes the clusters from the ALL-PAIRS cosine truth via
    // a recursive CTE, so agreement also re-proves bucketing recall. ----
    Query("q_embed_dedup", (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val withCopies = e.unionByName(
        e.where(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val pairs = Dedup.embeddingDupPairs(withCopies, "vec_id", "embedding",
        threshold = 0.99, bits = 16)
      Dedup.connectedComponents(withCopies.select("vec_id"), pairs, "vec_id")
        .groupBy(col("component").as("canonical_id"))
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") > 1)
        .orderBy("canonical_id")
    },
      // all-pairs cosine truth → symmetric edges → recursive reach → min
      // label per component (the q_dedup_clusters pattern on embeddings)
      Some("""WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 20 = 0
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pairs
        |), reach(id, label) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT s.dst, r.label FROM reach r JOIN sym s ON r.id = s.src
        |), comp AS (
        |  SELECT id, min(label) AS component FROM reach GROUP BY id
        |)
        |SELECT component AS canonical_id, count(*) AS n_members
        |FROM comp GROUP BY component HAVING count(*) > 1
        |ORDER BY canonical_id""".stripMargin)),

    // ---- int8 symmetric embedding quantization (ANN index prep):
    // per-vector scale = max |x|, q_i = floor(x_i·127/scale), clamped to
    // -127 (IEEE can put x/maxabs a ulp below -1 when x = -maxabs, which
    // would floor to -128 and break the symmetric int8 range). Row-local
    // (no shuffle, codegen'd HOFs); float→double widening is exact, the
    // emitted scale is the EXACT divisor used (maxabs is a widened float,
    // so it round-trips bit-identically through both engines), and floor
    // of identical IEEE doubles is engine-exact. The vector is serialized
    // to a comma-joined string so the driver harness can hash it. ----
    Query("q_embed_quantize", (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      e.select(col("vec_id"),
          col("maxabs").as("scale"),
          array_join(
            when(col("maxabs") === 0d, transform(col("v"), _ => lit(0)))
              .otherwise(transform(col("v"),
                x => greatest(lit(-127d), floor(x * 127.0 / col("maxabs")))
                  .cast("int")))
              .cast("array<string>"), ",").as("q8"))
        .orderBy("vec_id")
    },
      // same floor-of-identical-doubles argument as q_repetition: the
      // double widening, the division, and the floor are all IEEE-exact
      // replays of the Spark plan, and the emitted scale is the exact
      // divisor (a widened float, bit-identical in both engines)
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS maxabs
        |  FROM e
        |)
        |SELECT vec_id, maxabs AS scale,
        |  array_to_string(CASE WHEN maxabs = 0
        |      THEN list_transform(v, x -> 0)
        |      ELSE list_transform(v, x ->
        |        CAST(greatest(-127, floor(x * 127.0 / maxabs)) AS INT))
        |    END, ',') AS q8
        |FROM m ORDER BY vec_id""".stripMargin)),

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    // ---- IR ranking metrics (recall@k / MRR@k / nDCG@k): the
    // evaluation leg of the retrieval family — brute-force cosine
    // top-10 scored against the same-label relevance truth; DCG
    // discounts come from ONE driver-computed literal table embedded
    // in both engines (Spark log2 = ln/ln2 vs DuckDB's C log2 differ
    // by ulps), ratios are ppm integer divisions ----
    Query("q_ranking_metrics", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      val ranked = SimilaritySearch.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "vec_id", k = 10)
      val truth = queries
        .select(col("vec_id").as("query_id"), col("label").as("_ql"))
        .join(emb.select(col("vec_id").as("id"), col("label")),
          col("label") === col("_ql"))
        .where(col("id") =!= col("query_id"))
        .select("query_id", "id")
      graft.operators.Relevance.rankingMetrics(ranked, truth,
          "query_id", "id", "rank", k = 10)
        .orderBy("query_id")
    },
      // the q_ann_cosine ranking CTE + same-label truth + metrics; the
      // discount/ideal tables are the SAME Scala-computed literals the
      // operator embeds (Relevance.dcgDiscounts/dcgIdealPrefix)
      Some({
      val disc = graft.operators.Relevance.dcgDiscounts(10)
        .mkString("[", ", ", "]")
      val ideal = graft.operators.Relevance.dcgIdealPrefix(10)
        .mkString("[", ", ", "]")
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS ql
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id != q.query_id
        |), ranked AS (
        |  SELECT query_id, id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, id) AS rank
        |  FROM scored
        |), r AS (
        |  SELECT query_id, id, CAST(rank AS INT) AS rank
        |  FROM ranked WHERE rank <= 10
        |), t AS (
        |  SELECT q.query_id, e.vec_id AS id
        |  FROM embeddings e JOIN q ON e.label = q.ql
        |  WHERE e.vec_id != q.query_id
        |), nrel AS (
        |  SELECT query_id, count(*) AS n_rel FROM t GROUP BY query_id
        |), hitrows AS (
        |  -- hit ordinal in (rank, id) order = cumulative hits at each
        |  -- hit's rank, the precision@rank numerator MAP needs
        |  SELECT r.query_id, r.id, r.rank,
        |    row_number() OVER (PARTITION BY r.query_id
        |      ORDER BY r.rank, r.id) AS cum
        |  FROM r JOIN t USING (query_id, id)
        |), hits AS (
        |  -- CAST the sums: DuckDB sum() promotes to HUGEINT
        |  SELECT query_id, count(*) AS n_hits, min(rank) AS frst,
        |    CAST(sum(($disc)[rank]) AS BIGINT) AS dcg_q,
        |    CAST(sum(cum * 1000000 // rank) AS BIGINT) AS ap_num
        |  FROM hitrows GROUP BY query_id
        |)
        |SELECT nrel.query_id, n_rel,
        |  coalesce(n_hits, 0) AS n_hits,
        |  coalesce(n_hits, 0) * 1000000 // n_rel AS recall_ppm,
        |  coalesce(CAST(1000000 AS BIGINT) // frst, 0) AS mrr_ppm,
        |  coalesce(dcg_q, 0) * 1000000
        |    // ($ideal)[CAST(least(n_rel, 10) AS INT)] AS ndcg_ppm,
        |  coalesce(n_hits, 0) * 1000000 // 10 AS precision_ppm,
        |  coalesce(ap_num, 0) // least(n_rel, 10) AS map_ppm
        |FROM nrel LEFT JOIN hits USING (query_id)
        |ORDER BY query_id""".stripMargin
    })),

    // ---- the multi-cutoff @1/@5/@10 table off ONE truth join + ONE
    // hit-ordinal window (hit ordinals are k-independent: every
    // predecessor of an in-window hit is also in-window) ----
    Query("q_ranking_metrics_at", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      val ranked = SimilaritySearch.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "vec_id", k = 10)
      val truth = queries
        .select(col("vec_id").as("query_id"), col("label").as("_ql"))
        .join(emb.select(col("vec_id").as("id"), col("label")),
          col("label") === col("_ql"))
        .where(col("id") =!= col("query_id"))
        .select("query_id", "id")
      graft.operators.Relevance.rankingMetricsAt(ranked, truth,
          "query_id", "id", "rank", ks = Seq(1, 5, 10))
        .orderBy("query_id", "k")
    },
      // the multi-cutoff replay: the single-k CTE chain cross-joined
      // with the cutoff list; hit ordinals computed once at max(k)
      Some({
      val disc = graft.operators.Relevance.dcgDiscounts(10)
        .mkString("[", ", ", "]")
      val ideal = graft.operators.Relevance.dcgIdealPrefix(10)
        .mkString("[", ", ", "]")
      s"""WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS ql
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id != q.query_id
        |), ranked AS (
        |  SELECT query_id, id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, id) AS rank
        |  FROM scored
        |), r AS (
        |  SELECT query_id, id, CAST(rank AS INT) AS rank
        |  FROM ranked WHERE rank <= 10
        |), t AS (
        |  SELECT q.query_id, e.vec_id AS id
        |  FROM embeddings e JOIN q ON e.label = q.ql
        |  WHERE e.vec_id != q.query_id
        |), nrel AS (
        |  SELECT query_id, count(*) AS n_rel FROM t GROUP BY query_id
        |), ks(k) AS (VALUES (1), (5), (10)),
        |hitrows AS (
        |  SELECT r.query_id, r.id, r.rank,
        |    row_number() OVER (PARTITION BY r.query_id
        |      ORDER BY r.rank, r.id) AS cum
        |  FROM r JOIN t USING (query_id, id)
        |), hits AS (
        |  SELECT h.query_id, ks.k, count(*) AS n_hits,
        |    min(h.rank) AS frst,
        |    CAST(sum(($disc)[h.rank]) AS BIGINT) AS dcg_q,
        |    CAST(sum(h.cum * 1000000 // h.rank) AS BIGINT) AS ap_num
        |  FROM hitrows h CROSS JOIN ks WHERE h.rank <= ks.k
        |  GROUP BY 1, 2
        |), base AS (
        |  SELECT nrel.query_id, ks.k, n_rel FROM nrel CROSS JOIN ks
        |)
        |SELECT base.query_id, base.k, n_rel,
        |  coalesce(n_hits, 0) AS n_hits,
        |  coalesce(n_hits, 0) * 1000000 // n_rel AS recall_ppm,
        |  coalesce(CAST(1000000 AS BIGINT) // frst, 0) AS mrr_ppm,
        |  coalesce(dcg_q, 0) * 1000000
        |    // ($ideal)[CAST(least(n_rel, base.k) AS INT)] AS ndcg_ppm,
        |  coalesce(n_hits, 0) * 1000000 // base.k AS precision_ppm,
        |  coalesce(ap_num, 0) // least(n_rel, base.k) AS map_ppm
        |FROM base LEFT JOIN hits
        |  ON hits.query_id = base.query_id AND hits.k = base.k
        |ORDER BY base.query_id, base.k""".stripMargin
    })),

    Query("q_ann_cosine", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.bruteForceTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id != q.query_id
        |), ranked AS (
        |  SELECT query_id, id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, id, rank, round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // ---- exact maximum-inner-product top-k (the ranking a trained
    // dot-product retriever serves — DPR/ANCE score q·x, not cosine;
    // document norm carries trained signal, so this ordering genuinely
    // differs from q_ann_cosine's). Native codegen'd vec_dot; oracle =
    // DuckDB list_inner_product, bit-identical sequential accumulation ----
    Query("q_mips", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.mipsTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("dot"), 6).as("dot"))
        .orderBy("query_id", "rank")
    },
      // q_ann_cosine's replay with list_inner_product in place of
      // list_cosine_similarity: both engines accumulate the dot
      // sequentially over identical doubles, so the ranking is exact
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv) AS dot
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id != q.query_id
        |), ranked AS (
        |  SELECT query_id, id, dot,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dot DESC, id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, id, rank, round(dot, 6) AS dot
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // ---- MMR diversified top-k (Carbonell & Goldstein 1998): greedy
    // λ·rel − (1−λ)·max-sim-to-picked re-rank over each query's top-20
    // candidate pool; integer-quantized dots + ppm λ make every greedy
    // step an exact-BIGINT argmax the oracle replays as a recursive
    // CTE ----
    Query("q_mmr", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.mmrTopK(emb, queries,
          "vec_id", "embedding", "vec_id",
          k = 8, candidates = 20, lambdaPpm = 700000L)
        .orderBy("query_id", "pick_rank")
    },
      // full replay of the greedy MMR recursion: top-20 integer-dot
      // candidates, pairwise sims, then one pick per recursive step —
      // argmax λppm·rel − (1e6−λppm)·max(sim to chosen), id tiebreak.
      // Every score is an exact BIGINT so the recursion cannot drift.
      Some("""WITH RECURSIVE q AS (
        |  SELECT vec_id AS query_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS qq
        |  FROM embeddings WHERE vec_id < 5
        |), e AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.query_id, e.id, e.v,
        |    CAST(list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> e.v[i] * q.qq[i])) AS BIGINT) AS rel
        |  FROM e CROSS JOIN q
        |  WHERE e.id != q.query_id
        |), cand AS (
        |  SELECT query_id, id, v, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, id) AS rn
        |    FROM scored)
        |  WHERE rn <= 20
        |), sims AS (
        |  SELECT a.query_id, a.id AS ia, b.id AS ib,
        |    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) AS BIGINT) AS d
        |  FROM cand a JOIN cand b
        |    ON a.query_id = b.query_id AND a.id != b.id
        |), sel AS (
        |  SELECT query_id, 1 AS step, id, rel AS mmr_num, [id] AS chosen
        |  FROM (
        |    SELECT query_id, id, 700000 * rel AS rel,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rel DESC, id) AS rn
        |    FROM cand)
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT query_id, step + 1, id, score, list_append(chosen, id)
        |  FROM (
        |    SELECT s.query_id, s.step, c.id, s.chosen,
        |      700000 * c.rel - 300000 * (
        |        SELECT max(p.d) FROM sims p
        |        WHERE p.query_id = s.query_id AND p.ia = c.id
        |          AND list_contains(s.chosen, p.ib)) AS score,
        |      row_number() OVER (PARTITION BY s.query_id ORDER BY
        |        700000 * c.rel - 300000 * (
        |          SELECT max(p.d) FROM sims p
        |          WHERE p.query_id = s.query_id AND p.ia = c.id
        |            AND list_contains(s.chosen, p.ib)) DESC, c.id) AS rn
        |    FROM sel s JOIN cand c ON c.query_id = s.query_id
        |      AND NOT list_contains(s.chosen, c.id)
        |    WHERE s.step < 8)
        |  WHERE rn = 1
        |)
        |SELECT query_id, CAST(step AS BIGINT) AS pick_rank, id,
        |  mmr_num AS mmr_score
        |FROM sel ORDER BY query_id, pick_rank""".stripMargin)),

    // ---- ALSH MIPS (Shrivastava & Li 2014 scale path): the asymmetric
    // corpus transform (append sqrt(M²−‖x‖²)) reduces MIPS to the LSH
    // bucket join q_ann_lsh already proved; portable integer buckets so
    // the approximate candidate set itself replays in SQL — the
    // q_ann_lsh discipline applied to inner-product retrieval ----
    Query("q_mips_alsh", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.mipsAlshTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10, bits = 6,
          portableBuckets = true)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("dot"), 6).as("dot"))
        .orderBy("query_id", "rank")
    },
      Some(mipsAlshOracle)),

    // ---- planner-chosen ALSH bucket width: bits from
    // SimilaritySearch.alshBitsFor over the REAL corpus count (the
    // smallest width holding expected bucket candidates <= 64/query —
    // 3 bits at the 500-row verify corpus, 9 at 10x scale); the oracle
    // replays the width selection, then masks the same 62-plane
    // portable signature down to it ----
    Query("q_mips_alsh_planned", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.mipsAlshTopKPlanned(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10,
          targetCandidatesPerQuery = 64.0, portableBuckets = true)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("dot"), 6).as("dot"))
        .orderBy("query_id", "rank")
    },
      // width-planner replay (alshBitsFor) + the same ALSH pipeline with
      // the 62-plane signature masked to the planned width
      Some(mipsAlshPlannedOracle)),

    // ---- margin-based bitext mining (Artetxe & Schwenk 2019, the
    // LASER/CCMatrix recipe): cross-corpus pairs scored by cosine
    // RELATIVE to each side's k-NN neighborhood — the ratio margin that
    // separates translations from hub vectors where raw cosine cannot.
    // Quantize-then-sum + one integer division make the ranking
    // engine-exact; the oracle replays the whole pipeline ----
    Query("q_bitext_mine", (s, d) => {
      val emb = embeddings(s, d)
      graft.operators.Bitext.mine(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.15)
        .orderBy("src_id")
    },
      // full margin-mining replay: quantized cross cosines → per-side
      // top-k neighborhood sums → cross-multiplied integer margin →
      // per-source argmax + threshold. cq > 0 keeps every sum positive so
      // `//` (truncation) == floor == Spark's `div`
      Some(bitextMarginOracle(
      "SELECT src_id, va, tgt_id, vb FROM a CROSS JOIN b"))),

    // ---- the bitext SCALE path as its own gated query: banded
    // portable-LSH candidates (4 × 6-bit slices of one 24-bit
    // signature, any-band match) + the identical margin tail; the
    // oracle recomputes the signature slices in SQL so the approximate
    // candidate set itself is checked (the q_ann_lsh discipline) ----
    Query("q_bitext_banded", (s, d) => {
      val emb = embeddings(s, d)
      graft.operators.Bitext.mine(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.15,
          bits = Some(6), bands = 4)
        .orderBy("src_id")
    },
      // the SCALE path oracle-checked too (the q_ann_lsh discipline): the
      // 24-bit integer-Rademacher signature, its 4 × 6-bit band slices,
      // and the any-band candidate join all replay in SQL before the
      // identical margin tail — so even the approximate candidate set is
      // exact, not rows-only
      Some(bitextMarginOracle(bitextBandedCandidates))),

    // ---- planner-chosen banded bitext: the (bits, bands) grid comes
    // from SimilaritySearch.hyperplanePlanFor over the REAL corpus
    // sizes (9x3 at the 250-row verify sides, 13x4 at 1000), so the
    // grid scales with the data instead of flooding at 10x — the
    // oracle replays the PLANNER itself (same cost model, same
    // tie-breaks) before replaying the banding, so a drifted plan
    // fails the gate, not just a drifted bucket ----
    Query("q_bitext_planned", (s, d) => {
      val emb = embeddings(s, d)
      graft.operators.Bitext.minePlanned(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.15,
          targetCosine = 0.99, minCatch = 0.95)
        .orderBy("src_id")
    },
      // planner replay first (same cost model + tie-breaks as
      // hyperplanePlanFor), then the banded-candidate pipeline under the
      // planned grid
      Some(bitextMarginOracle(bitextPlannedCandidates))),

    // ---- hard-negative mining (DPR/Contriever data prep): per anchor,
    // the top-k most-similar vectors with a DIFFERENT label — the
    // q_ann_cosine plan plus the label-mismatch predicate; the oracle
    // replays the filtered ranking exactly ----
    Query("q_hard_negatives", (s, d) => {
      val emb = embeddings(s, d)
      val anchors = emb.where(col("vec_id") < 5)
      SimilaritySearch.hardNegatives(emb, anchors,
          "vec_id", "embedding", "label", k = 10)
        .select(col("query_id"), col("id"), col("neg_label"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      // the q_ann_cosine replay plus the label-mismatch predicate
      Some("""WITH q AS (
        |  SELECT vec_id AS query_id, label AS qlabel,
        |    CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id, e.label AS neg_label,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label != q.qlabel
        |), ranked AS (
        |  SELECT query_id, id, neg_label, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, id, neg_label, rank, round(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // ---- IVF ANN (k-means coarse quantizer scale path). The quantizer
    // is deterministic, so the oracle ([[IvfOracle]]) replays the whole
    // assign/probe/rank pipeline in SQL against pinned centroids ----
    Query("q_ann_ivf", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.ivfTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10, nlist = 8, nprobe = 4)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      // pinned-centroid replay of the deterministic IVF pipeline (valid at
      // the gate SF; see IvfOracle's scaladoc for the regeneration recipe)
      Some(IvfOracle.sql),
      gatePinned = true),

    // ---- the PERSISTED IVF index cycle (r15): AnnIndex.build →
    // compact (cell files rewritten through the manifest-committed
    // stage) → partition-pruned probe, driven against the SAME pinned
    // live-ivfTopK oracle — build trains through the one shared
    // trainOnSample body, and compaction is pure data movement, so
    // the persisted, compacted index must rank exactly like the live
    // operator (the dedup-index family's oracle-sharing convention;
    // until now the persisted ANN index was spec-gated only) ----
    Query("q_ann_index_compact", (s, d) => {
      import graft.operators.AnnIndex
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ann_idx_cmp_").toString
      try {
        AnnIndex.build(emb, "vec_id", "embedding", tmp, nlist = 8)
        AnnIndex.compact(s, tmp, targetFiles = 4)
        AnnIndex.probe(s, tmp, queries, "vec_id", "embedding",
            k = 10, nprobe = 4)
          .select(col("query_id"), col("id"), col("rank"),
            round(col("cosine"), 6).as("cosine"))
          .orderBy("query_id", "rank")
          .localCheckpoint()
      } finally deleteRecursively(new java.io.File(tmp))
    },
      // the persisted build→compact→probe cycle serves the identical
      // ranking (shared quantizer + pure-data-movement compaction), so
      // it shares the pinned-centroid oracle — the dedupIndexProbeOracle
      // convention
      Some(IvfOracle.sql),
      gatePinned = true),

    // ---- the persisted ANN index's drift instrument (r15 verdict
    // #4): build freezes the corpus's per-dim moment registers beside
    // the index; driftSince scores an incoming batch against them —
    // here the odd-id embeddings under the q_embed_fd affine shift
    // (x·1.02 + 0.01), so both the mean and variance terms bind. The
    // moments ride the index tree, but they are a pure function of
    // the corpus, so the oracle replays the whole score from the
    // embeddings table directly (the q_embed_fd SQL with the index's
    // sides: batch = side A, the full build corpus = side B) ----
    Query("q_ann_drift", (s, d) => {
      import graft.operators.AnnIndex
      val emb = embeddings(s, d)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ann_drift_").toString
      try {
        AnnIndex.build(emb, "vec_id", "embedding", tmp, nlist = 8)
        val batch = emb.where(col("vec_id") % 2 === 1)
          .select(col("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x * 1.02 + 0.01).as("embedding"))
        AnnIndex.driftSince(s, tmp, batch, "embedding")
          .localCheckpoint()
      } finally deleteRecursively(new java.io.File(tmp))
    },
      // AnnIndex.driftSince: the SAME diagonal-Fréchet replay with the
      // index's sides — side A is the shifted odd-id batch, side B the
      // full build corpus (whose moments build() froze; moments are a
      // pure function of the corpus, so the oracle needs no index tree)
      Some("""WITH ea AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor((x * 1.02 + 0.01) * 1024) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id % 2 = 1
        |), eb AS (
        |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1024) AS BIGINT)) AS q
        |  FROM embeddings
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

    // ---- the drift signal's REMEDY verb (r16 verdict #2): build →
    // retrain FROM THE STORED VECTORS (the caller no longer holds the
    // corpus frame — the assignments table IS the corpus) → probe the
    // new generation. trainOnSample is order-insensitive (hash-filter
    // + id-ordered take), so retraining over the same logical rows
    // with the same (nlist, seed) reproduces the fresh build's
    // quantizer exactly — the retrained index must rank exactly like
    // the live operator, which is why it shares the pinned-centroid
    // oracle (the q_ann_index_compact convention) ----
    Query("q_ann_retrain", (s, d) => {
      import graft.operators.AnnIndex
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ann_retrain_").toString
      try {
        AnnIndex.build(emb, "vec_id", "embedding", tmp, nlist = 8)
        AnnIndex.retrain(s, tmp, nlist = 8)
        AnnIndex.probe(s, tmp, queries, "vec_id", "embedding",
            k = 10, nprobe = 4)
          .select(col("query_id"), col("id"), col("rank"),
            round(col("cosine"), 6).as("cosine"))
          .orderBy("query_id", "rank")
          .localCheckpoint()
      } finally deleteRecursively(new java.io.File(tmp))
    },
      // build→retrain-from-stored-vectors→probe: the deterministic
      // order-insensitive training body reproduces the same quantizer
      // from the persisted rows, so the retrained generation serves the
      // identical ranking — same pinned-centroid oracle
      Some(IvfOracle.sql),
      gatePinned = true),

    // ---- IVF-PQ ANN (IVFADC, the standard FAISS pairing): coarse cell
    // routing makes the quantized ADC ranking probe-bucket sized instead
    // of corpus-sized — the scale rung above q_ann_pq's exhaustive ADC.
    // Oracle pins unit-space coarse centroids + reuses PqOracle's
    // sub-codebooks (identical training inputs ⇒ identical books) and
    // replays route → encode → ADC → rank in SQL ([[IvfPqOracle]]) ----
    Query("q_ann_ivfpq", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.ivfPqTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10,
          nlist = graft.queries.IvfPqOracle.nlist,
          nprobe = graft.queries.IvfPqOracle.nprobe,
          m = graft.queries.PqOracle.m,
          ksub = graft.queries.PqOracle.ksub)
        .orderBy("query_id", "rank")
    },
      Some(graft.queries.IvfPqOracle.sql),
      gatePinned = true),

    // ---- residual IVF-PQ (the paper's full IVFADC, by_residual=true):
    // codes quantize v − centroid(cell) under pinned residual
    // codebooks; the query ADC scores against its per-probed-cell
    // residual. The oracle replays the whole routed residual pipeline
    // ([[IvfPqOracle.templateResidual]]) ----
    Query("q_ann_ivfpq_res", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.ivfPqTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10,
          nlist = graft.queries.IvfPqOracle.nlist,
          nprobe = graft.queries.IvfPqOracle.nprobe,
          m = graft.queries.PqOracle.m,
          ksub = graft.queries.PqOracle.ksub,
          byResidual = true)
        .orderBy("query_id", "rank")
    },
      Some(graft.queries.IvfPqOracle.sqlResidual),
      gatePinned = true),

    // ---- product-quantization ANN (Jégou et al. 2011): per-subspace
    // codebooks pinned at the gate SF oracle-side ([[PqOracle]], the
    // IvfOracle pattern); the Spark side trains + encodes + ADC-ranks
    // live, with per-subspace contributions floor-quantized so the
    // cross-subspace sum commutes on both engines ----
    Query("q_ann_pq", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.pqTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10,
          m = graft.queries.PqOracle.m,
          ksub = graft.queries.PqOracle.ksub)
        .orderBy("query_id", "rank")
    },
      // pinned-codebook replay of the deterministic PQ pipeline (valid at
      // the gate SF only — Verify omits it elsewhere, the q_ann_ivf rule)
      Some(graft.queries.PqOracle.sql),
      gatePinned = true),

    // ---- LSH-bucketed ANN (scale path), fully oracle-checked: portable
    // integer-Rademacher buckets are recomputed exactly by the SQL
    // oracle, so candidate sets and ranks must match row for row ----
    Query("q_ann_lsh", (s, d) => {
      // portable buckets (integer Rademacher projections over the md5 dim
      // hash) → the DuckDB oracle recomputes the exact bucket assignment
      // and candidate set in SQL, making this approximate-path query
      // fully oracle-checked, not rows-only
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 5)
      SimilaritySearch.lshTopK(emb, queries,
          "vec_id", "embedding", "vec_id", k = 10, bits = 6,
          portableBuckets = true)
        .select(col("query_id"), col("id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },
      Some(annLshOracle)),

    // ---- reciprocal-rank fusion (Cormack et al. 2009 — the hybrid
    // retrieval staple): fuse a LEXICAL ranking (distinct-word overlap
    // with the query document, the BM25-family signal reduced to its
    // set core) with a SEMANTIC one (brute-force cosine top-10, the
    // q_ann_cosine ranking) via integer 10⁹ div (60 + rank)
    // contributions. The fused ordering is engine-exact; ties break on
    // ascending id ----
    Query("q_rrf_fusion", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Relevance, SimilaritySearch}
      val words = docsPar(s, d).select(col("doc_id"),
          explode(array_distinct(split(lower(trim(col("text"))), "\\s+")))
            .as("w"))
        .where(length(col("w")) > 0)
      val qwords = words.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("w"))
      val lex = words.join(broadcast(qwords), Seq("w"))
        .where(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("_j"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("_j").desc, col("doc_id"))))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val emb = embeddings(s, d)
      val sem = SimilaritySearch.bruteForceTopK(emb,
          emb.where(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          k = 10)
        .select(col("query_id"), col("id"), col("rank"))
      Relevance.rrfFuse(Seq(lex, sem), "query_id", "id", "rank")
        .orderBy("query_id", "fused_rank")
    },
      Some("""WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      string_split_regex(lower(trim(text)), '\s+'))) AS w
        |    FROM documents)
        |  WHERE length(w) > 0
        |), qw AS (
        |  SELECT doc_id AS query_id, w FROM words WHERE doc_id < 5
        |), lex0 AS (
        |  SELECT qw.query_id, words.doc_id AS id,
        |    CAST(count(*) AS BIGINT) AS j
        |  FROM words JOIN qw USING (w)
        |  WHERE words.doc_id != qw.query_id
        |  GROUP BY 1, 2
        |), lexk AS (
        |  SELECT query_id, id, rank FROM (
        |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY j DESC, id) AS rank
        |    FROM lex0)
        |  WHERE rank <= 10
        |), q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |      AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id != q.query_id
        |), semk AS (
        |  SELECT query_id, id, rank FROM (
        |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, id) AS rank
        |    FROM scored)
        |  WHERE rank <= 10
        |), uni AS (
        |  SELECT query_id, id, 1000000000 // (60 + rank) AS c FROM lexk
        |  UNION ALL
        |  SELECT query_id, id, 1000000000 // (60 + rank) AS c FROM semk
        |), fused AS (
        |  SELECT query_id, id, CAST(sum(c) AS BIGINT) AS rrf_score_ppb,
        |    CAST(count(*) AS BIGINT) AS n_lists
        |  FROM uni GROUP BY 1, 2
        |)
        |SELECT query_id, id, rrf_score_ppb, n_lists, fused_rank FROM (
        |  SELECT query_id, id, rrf_score_ppb, n_lists,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_score_ppb DESC, id) AS fused_rank
        |  FROM fused)
        |WHERE fused_rank <= 10
        |ORDER BY query_id, fused_rank""".stripMargin)),

    // ---- one distributed Lloyd k-means step (the full-corpus IVF
    // trainer): floor-quantized integer vectors, broadcast-centroid
    // row-local assignment, one map-side-combining aggregation whose
    // shuffle carries only k (count, Σvec) partials. Init is the
    // portable (md5(id), id) draw; the oracle replays init, the
    // lowest-index-tie-break assignment, and the floor(sum/count)
    // update exactly ----
    Query("q_kmeans_iter", (s, d) => {
      import graft.operators.KMeans
      import s.implicits._
      val e = embeddings(s, d)
      val cs = KMeans.initCentroids(e, "vec_id", "embedding", 8, 1024)
      KMeans.iterate(e, "embedding", 1024, cs)
        .flatMap { case (c, n, vec) =>
          vec.zipWithIndex.map { case (v, j) =>
            (c.toLong, n, j.toLong, v)
          }
        }.toSeq
        .toDF("cluster_id", "n_assigned", "dim_idx", "centroid_q")
        .orderBy("cluster_id", "dim_idx")
    },
      // replays KMeans' quantize → md5-draw init → integer-distance
      // assignment (kmeansAssignCtes) → floor(sum/count) update, one
      // full Lloyd step
      Some((kmeansAssignCtes +
      """, upd AS (
        |  SELECT cluster_id, CAST(j - 1 AS BIGINT) AS dim_idx,
        |    CAST(count(*) AS BIGINT) AS n_assigned,
        |    CAST(floor(sum(q[j]) * 1.0 / count(*)) AS BIGINT) AS centroid_q
        |  FROM a, (SELECT unnest(range(1, 65)) AS j) dims
        |  WHERE rn = 1
        |  GROUP BY cluster_id, j
        |)
        |SELECT i.cluster_id,
        |  CAST(coalesce(u.n_assigned, 0) AS BIGINT) AS n_assigned,
        |  dd.dim_idx,
        |  coalesce(u.centroid_q, i.q[CAST(dd.dim_idx + 1 AS BIGINT)])
        |    AS centroid_q
        |FROM init i
        |CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT)
        |            AS dim_idx) dd
        |LEFT JOIN upd u ON u.cluster_id = i.cluster_id
        |  AND u.dim_idx = dd.dim_idx
        |ORDER BY i.cluster_id, dd.dim_idx""".stripMargin))),

    // ---- cluster-balanced subsampling (the SemDeDup/DoReMi-adjacent
    // balancing step): assign every embedding to its nearest seed
    // centroid, then keep a deterministic equal-size sample per
    // cluster — caps any one semantic region's share of the corpus.
    // Assignment is a broadcast-centroid narrow map (zero shuffle);
    // the per-cluster cap is the stratifiedSample WindowGroupLimit ----
    Query("q_cluster_balance", (s, d) => {
      import graft.operators.{DataPrep, KMeans}
      val e = embeddings(s, d)
      val cs = KMeans.initCentroids(e, "vec_id", "embedding", 8, 1024)
      val assigned = KMeans.assign(e, "embedding", 1024, cs)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      DataPrep.stratifiedSample(assigned, "vec_id", "cluster",
          n = 20, salt = "cbal|")
        .orderBy("cluster", "vec_id")
    },
      Some((kmeansAssignCtes +
      """, r AS (
        |  SELECT vec_id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY CAST(md5_number_upper('cbal|' ||
        |          CAST(vec_id AS VARCHAR)) % 72057594037927936 AS BIGINT),
        |        vec_id) AS rk
        |  FROM a WHERE rn = 1
        |)
        |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster
        |FROM r WHERE rk <= 20 ORDER BY cluster, vec_id""".stripMargin))),

    // ---- SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup
    // — the paper's own pairing mechanism (k-means cells bound pair
    // formation: n²/k candidates, never corpus-all-pairs; the LSH
    // sibling is Dedup.dropEmbeddingDups) with the keep-the-outlier
    // representative policy (lowest centroid cosine, ties to min id).
    // Same injected exact copies as q_embed_dedup so the dedup has
    // real work; the oracle replays assignment, cluster-scoped pairs,
    // the recursive component closure, AND the keep pick ----
    Query("q_semdedup", (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      graft.operators.SemDedup.verdicts(corpus, "vec_id", "embedding",
          k = 8, threshold = 0.99)
        .orderBy("vec_id")
    },
      // replays the seed pick, the exact-integer nearest-centroid
      // assignment (ties to the lowest cluster — kmeansAssignCtes, the
      // SAME prefix q_kmeans_iter replays), and the salted stratified
      // draw
      // cluster-scoped semantic dedup: assignment + pairs + closure +
      // keep pick all replayed (see semDedupOracle)
      Some(semDedupOracle)),

    // ---- SemDeDup with 2-cell multi-probe (r14): the boundary-recall
    // knob's plan — pair formation probes each row's TWO nearest
    // cells, multi-met pairs dedup at their smallest shared cell —
    // earns its own oracle row rather than riding SemDedupSpec alone:
    // the oracle replays the rn <= 2 assignment, the min-common-cell
    // pair dedup, the closure, and the (still 1-nearest) keep pick ----
    Query("q_semdedup_probe2", (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      graft.operators.SemDedup.verdicts(corpus, "vec_id", "embedding",
          k = 8, threshold = 0.99, probeCells = 2)
        .orderBy("vec_id")
    },
      // 2-probe pair domain (rn <= 2) + smallest-shared-cell dedup;
      // components and keep pick replay on the 1-nearest assignment
      Some(semDedupOracleFor(8, probeCells = 2))),

    // ---- SemDeDup under the PLANNED k (the q_bitext_planned
    // convention applied to the r13 planner): k = semdedupKFor(n)
    // from the corpus's REAL row count, so the cell budget — and with
    // it the n²/k pair bound — scales with the corpus instead of
    // being a hard-coded 8. Oracle k is generated by the SAME Scala
    // planner at the gate count (Verify omits it at other SFs — the
    // Spark side recounts per-corpus) ----
    Query("q_semdedup_planned", (s, d) => {
      import graft.operators.SemDedup
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      val k = SemDedup.semdedupKFor(corpus.count(),
        targetCellRows = 64L)
      SemDedup.verdicts(corpus, "vec_id", "embedding",
          k = k, threshold = 0.99)
        .orderBy("vec_id")
    },
      Some(semDedupPlannedOracle),
      gatePinned = true),

    // ---- the 2-probe plan under its probeCells-AWARE planned k (r14
    // verdict #3): multi-probe pair formation joins on PROBED
    // occupancy (probeCells·n rows over k cells), so the planner
    // scales the cell budget by probeCells — a user turning on the
    // recall knob after planning k no longer silently doubles
    // per-cell load. Oracle k from the SAME Scala planner at the gate
    // count (Verify omits it off-gate — the q_semdedup_planned rule) ----
    Query("q_semdedup_probe2_planned", (s, d) => {
      import graft.operators.SemDedup
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          col("embedding")))
      val k = SemDedup.semdedupKFor(corpus.count(),
        targetCellRows = 64L, probeCells = 2)
      SemDedup.verdicts(corpus, "vec_id", "embedding",
          k = k, threshold = 0.99, probeCells = 2)
        .orderBy("vec_id")
    },
      Some(semDedupProbe2PlannedOracle),
      gatePinned = true))
}
