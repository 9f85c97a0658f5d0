package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Document fixtures shared by the query families, each Spark-side
  * fixture next to its DuckDB twin (`docsWithDups`/`docsWithDupsCte`,
  * `pageText`/`pageCte`, `evalPairs`/`evalPairsSql`).
  *
  * The corpus has no literal duplicates, so the dedup queries first inject
  * deterministic duplicates/near-duplicates (same expression in Spark and
  * the oracle SQL) — the operators are then exercised on known-positive
  * data instead of vacuously returning zero rows.
  */
object DocFixtures {

  /** documents scan with the split-starvation guard: every document query
    * runs per-row CPU work (regex token stacks, shingle/minhash kernels,
    * PNG codecs) that a sub-cores partition count would serialize. */
  private[queries] def docsPar(s: SparkSession, d: String): DataFrame =
    graft.Tables.ensureParallelism(documents(s, d))

  /** documents ∪ exact copies (doc_id+100000 for doc_id%10=0)
    *           ∪ near copies (doc_id+200000, ' graft extra tail' appended,
    *             for doc_id%7=0). */
  private[graft] def docsWithDups(s: SparkSession, d: String): DataFrame = {
    // ONE scan pass with a per-row explode instead of a 3-branch union:
    // the union shape re-read the (already repartitioned) scan three
    // times AND left every downstream cache/self-join with 3 × cores
    // partitions — the minhash/simhash/CC pipelines inherited ~96-task
    // map stages over kilobyte partitions (r17 optimization; same rows,
    // same values, one subtree). The oracle twin (docsWithDupsCte)
    // stays the UNION ALL form — proving the exploded plan row-identical.
    docsPar(s, d).select(posexplode(array(
        struct(col("doc_id"), col("text"), col("source")),
        struct((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("source")),
        struct((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" graft extra tail")).as("text"),
          col("source")))).as(Seq("_copy", "r")),
      col("doc_id").as("_src_id"))
      .where(col("_copy") === 0 ||
        (col("_copy") === 1 && col("_src_id") % 10 === 0) ||
        (col("_copy") === 2 && col("_src_id") % 7 === 0))
      .select(col("r.doc_id"), col("r.text"), col("r.source"))
  }

  /** DuckDB twin of [[docsWithDups]]. */
  private[queries] val docsWithDupsCte: String =
    """WITH docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' graft extra tail', source
      |  FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  /** Deterministic page structure over the word-soup corpus (which has
    * no newlines or punctuation of its own): 8-word lines; a terminal
    * '.' on lines where (seed+j)%3 != 0; ' javascript' injected where
    * (seed+j)%7 == 0; page-level 'lorem ipsum' / curly-brace lines
    * appended for seed%13 == 0 / seed%17 == 0. The SAME expression runs
    * in the oracle CTE ([[pageCte]]), so the C4 and line-dedup rules are
    * exercised on known-positive structure — the docsWithDups
    * convention, at line grain. */
  private[queries] def pageText(seed: Column, text: Column): Column = {
    val ws = split(text, " ")
    val nLines = ceil(size(ws) / lit(8.0)).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1), j =>
      concat(
        array_join(slice(ws, j * 8 + 1, lit(8)), " "),
        when((seed + j) % 7 === 0, " javascript").otherwise(""),
        when((seed + j) % 3 =!= 0, ".").otherwise("")))
    concat(
      array_join(lines, "\n"),
      when(seed % 13 === 0, "\nlorem ipsum dolor sit amet.").otherwise(""),
      when(seed % 17 === 0, "\nconfig { x }.").otherwise(""))
  }

  /** DuckDB twin of [[pageText]]: emits `(doc_id, page)` from a source
    * relation exposing (doc_id, text); `seed` is a SQL expression over
    * doc_id. */
  private[queries] def pageCte(source: String, seed: String): String =
    s"""pages AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(
       |      range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
       |      j -> array_to_string(ws[j*8+1:j*8+8], ' ')
       |        || CASE WHEN ($seed + j) % 7 = 0 THEN ' javascript' ELSE '' END
       |        || CASE WHEN ($seed + j) % 3 <> 0 THEN '.' ELSE '' END),
       |      chr(10))
       |    || CASE WHEN ($seed) % 13 = 0
       |         THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
       |    || CASE WHEN ($seed) % 17 = 0
       |         THEN chr(10) || 'config { x }.' ELSE '' END AS page
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $source)
       |)""".stripMargin

  /** (hyp, ref) evaluation pairs for the generation-eval queries —
    * two deterministic strata over the first 200 docs: even ids score
    * the doc against ITSELF plus a generated tail (near-perfect
    * pairs), odd ids against the NEXT doc's text (low-overlap cross
    * pairs). [[evalPairsSql]] is the same derivation in DuckDB. */
  private[queries] def evalPairs(s: SparkSession, d: String): DataFrame = {
    val docs = docsPar(s, d).select("doc_id", "text")
      .where(col("text").isNotNull)
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("nxt"))
    docs.where(col("doc_id") < 200).join(nxt, Seq("doc_id"))
      .select(col("doc_id"), col("text").as("hyp"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" generated tail")))
          .otherwise(col("nxt")).as("ref"))
  }

  private[queries] val evalPairsSql: String =
    """SELECT d1.doc_id, d1.text AS hyp,
      |  CASE WHEN d1.doc_id % 2 = 0 THEN d1.text || ' generated tail'
      |       ELSE d2.text END AS ref
      |FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      |WHERE d1.text IS NOT NULL AND d2.text IS NOT NULL
      |  AND d1.doc_id < 200""".stripMargin

  /** All-pairs word-trigram Jaccard truth between the WHOLE indexed
    * corpus (build half + append half) and the derived crawl batch —
    * shared by q_dedup_index_probe (broadcast plan) and
    * q_dedup_index_backfill (keyed plan): one truth, two physical
    * dataflows against the same persisted index. */
  private[queries] val dedupIndexProbeOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      |), batch AS (
      |  SELECT doc_id + 300000 AS batch_id,
      |    text || ' crawl extra tail' AS text
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
      |), cg AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
      |  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)),
      |    '\s+', ' ', 'g'), ' ') AS t FROM corpus) WHERE len(t) >= 3
      |), bg AS (
      |  SELECT batch_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
      |  FROM (SELECT batch_id, string_split(regexp_replace(lower(trim(text)),
      |    '\s+', ' ', 'g'), ' ') AS t FROM batch) WHERE len(t) >= 3
      |)
      |SELECT c.doc_id AS id, b.batch_id,
      |  floor(CAST(len(list_intersect(c.grams, b.grams)) AS DOUBLE) /
      |    (len(c.grams) + len(b.grams) - len(list_intersect(c.grams, b.grams)))
      |    * 1e6) / 1e6 AS jaccard
      |FROM cg c JOIN bg b ON true
      |WHERE CAST(len(list_intersect(c.grams, b.grams)) AS DOUBLE) /
      |  (len(c.grams) + len(b.grams) - len(list_intersect(c.grams, b.grams)))
      |  >= 0.5
      |ORDER BY 1, 2""".stripMargin

  /** Removes a query's temporary index directory. */
  private[queries] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
