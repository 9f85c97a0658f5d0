package graft

import graft.operators.TelemetryTransform
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalDedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bloom-accelerated append equals the plain anti-join append") {
    import spark.implicits._
    val existing = (1 to 5000).map(i => s"h$i").toDF("raw_event_hash_id")
      .withColumn("v", lit(0))
    // new batch: 1000 genuinely new + 500 duplicates
    val newRows = ((5001 to 6000) ++ (1 to 500)).map(i => s"h$i")
      .toDF("raw_event_hash_id").withColumn("v", lit(1))

    val plain = TelemetryTransform.appendNew(newRows, existing)
      .select("raw_event_hash_id").collect().map(_.getString(0)).toSet
    val bloom = TelemetryTransform.appendNewWithBloom(newRows, existing,
        expectedItems = 5000)
      .select("raw_event_hash_id").collect().map(_.getString(0)).toSet

    assert(plain == (5001 to 6000).map(i => s"h$i").toSet)
    assert(bloom == plain)
  }

  test("metadata-only multimodal query prunes the binary payload column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-media")
    graft.multimodal.Multimodal
      .syntheticMedia((0L until 100L).toDF("id"), "id")
      .write.mode("overwrite").parquet(dir.toString)
    val metaOnly = spark.read.parquet(dir.toString)
      .select(col("media_id"), col("meta.mime"))
    val scan = metaOnly.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("payload"),
      s"payload not pruned from scan:\n$scan")
    assert(metaOnly.count() == 100)
  }

  test("dropExactDups keeps exactly one row per normalized text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello  world"), (2L, "Hello world"), (3L, "different text"),
      (4L, "hello world ")) // 1,2,4 normalize identically
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.dropExactDups(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("spanDupStats counts shared n-grams; dropSpanDups removes " +
      "span-dominated docs and keeps originals") {
    import spark.implicits._
    import graft.operators.Dedup
    val core = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, core + " eleven twelve"),         // source of the shared span
      (2L, core + " tail"),                  // mostly the shared span
      (3L, "totally unrelated words making up an original document " +
        "with no overlap at all"),
      (4L, "tiny"))                          // < n tokens: no gram row
      .toDF("doc_id", "text")
    val stats = Dedup.spanDupStats(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1+2 share the 3 8-grams inside the common 10-word span
    assert(stats(1L)._2 == 3L && stats(2L)._2 == 3L)
    assert(stats(3L)._2 == 0L)
    assert(!stats.contains(4L))
    val kept = Dedup.dropSpanDups(docs, "doc_id", "text", n = 8,
        maxDupFraction = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc1: 3 of 5 grams duplicated (0.6) and doc2: 3 of 4 (0.75) —
    // both over the 0.5 bar → dropped; doc3 original and doc4
    // (gram-less) survive
    assert(kept == Set(3L, 4L))
  }

  test("exactSubstrSpans finds maximal spans with exact boundaries " +
      "(cross-doc and self-repeat); strip removes them") {
    import spark.implicits._
    import graft.operators.Dedup
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      // shared 10-token span at offset 2 of doc 1 and offset 0 of doc 2
      (1L, "pre amble " + shared + " post word tail here now end"),
      (2L, shared + " completely different continuation follows here"),
      // doc 3 repeats its OWN 8-token phrase (positions 0 and 10)
      (3L, "aa bb cc dd ee ff gg hh x1 x2 aa bb cc dd ee ff gg hh"),
      (4L, "short doc"))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sorted
    // maximal merge: 3 overlapping dup 8-grams reassemble the 10-token
    // span, not three 8-token fragments
    assert(spans.toSeq == Seq((1L, 2, 12), (2L, 0, 10),
      (3L, 0, 8), (3L, 10, 18)))
    val stripped = Dedup.stripExactSubstrSpans(docs, "doc_id", "text",
        minLen = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stripped(1L) == "pre amble post word tail here now end")
    assert(stripped(2L) == "completely different continuation follows here")
    assert(stripped(3L) == "x1 x2")
    assert(stripped(4L) == "short doc") // untouched (no span)
  }

  test("exactSubstrSpans keepOne: the least-(id, pos) occurrence per " +
      "chain survives; only the rest are spans (Lee et al. policy)") {
    import spark.implicits._
    import graft.operators.Dedup
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, "pre amble " + shared + " post word tail here now end"),
      (2L, shared + " completely different continuation follows here"),
      (3L, "aa bb cc dd ee ff gg hh x1 x2 aa bb cc dd ee ff gg hh"),
      (4L, "short doc"))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text",
        minLen = 8, keepOne = true)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sorted
    // doc 1 holds every chain's argmin (lowest doc_id) → keeps its copy;
    // doc 3's self-repeat keeps the FIRST occurrence only
    assert(spans.toSeq == Seq((2L, 0, 10), (3L, 10, 18)))
    // keep-one spans are a subset of strip-all spans
    val all = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans.forall(all.contains))
    val stripped = Dedup.stripExactSubstrSpans(docs, "doc_id", "text",
        minLen = 8, keepOne = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stripped(1L).contains(shared)) // canonical copy survives
    assert(stripped(2L) == "completely different continuation follows here")
    assert(stripped(3L) == "aa bb cc dd ee ff gg hh x1 x2")
    assert(stripped(4L) == "short doc")
  }

  test("langId picks the dominant stopword language") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val samples = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("el perro corre por la calle y se va a la casa", "es"),
      ("le chat est dans la maison et il dort pour un moment", "fr"),
      ("der hund ist in dem haus und die katze auf dem dach", "de"),
      ("och att det är som en katt på taket har inte ett hus", "sv"),
      ("to jest tak jak w domu ale nie wiem po co i za ile", "pl"),
      ("bu bir ev ve ben sana bakarim ama sonra her kadar çok", "tr"),
      ("saya akan pergi dengan dia dan itu untuk ini dari pasar", "id"),
      ("и вот он сказал что это не по нашему но мы пошли за ним", "ru"),
      ("zzz qqq xxx", "und"))
      .toDF("text", "want")
    val got = samples
      .withColumn("got", graft.functions.TextFunctions.langId(col("text")))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("want"),
        s"'${r.getAs[String]("text")}' -> ${r.getAs[String]("got")}")
    }
  }

  test("connected components: chains collapse, disjoint clusters stay apart") {
    import spark.implicits._
    val vertices = (1L to 8L).toDF("id")
    // chain 1-2-3-4 (transitive, no direct 1-4 edge) + pair 6-7; 5, 8 alone
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L))
      .toDF("id_a", "id_b")
    val comp = graft.operators.Dedup
      .connectedComponents(vertices, pairs, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(comp) == Seq(1L, 1L, 1L, 1L))
    assert(comp(6L) == 6L && comp(7L) == 6L)
    assert(comp(5L) == 5L && comp(8L) == 8L)
  }

  test("connected components: iteration cost stays constant, lineage flat") {
    import spark.implicits._
    // a 20-node path is the worst case for min-label propagation: the
    // label crosses one hop per iteration, forcing ~20 rounds — exactly
    // the regime where unpersisted lineage replay turns quadratic
    val n = 20L
    val vertices = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val counter = graft.JobCounter.attach(spark.sparkContext)
    try {
      val comp = graft.operators.Dedup
        .connectedComponents(vertices, pairs, "id", maxIter = 25)
      val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to n).forall(m(_) == 1L))
      // the returned frame is a materialized checkpoint, not the
      // 20-iteration plan chain: constant depth regardless of rounds
      val nodes = comp.queryExecution.optimizedPlan.collect { case p => p }
      assert(nodes.size <= 3,
        s"expected flat checkpointed lineage, got:\n${comp.queryExecution.optimizedPlan}")
      // EXECUTED stages scale linearly with iterations (skipped stages
      // never complete, so cache hits don't count). The unpersisted
      // variant replays every prior round inside each convergence job —
      // ~3·i stages at round i, ~600 total on this graph — while each
      // persisted round costs a constant handful; 12/round is 2x headroom
      // over the measured cost, far under the quadratic blowup.
      val stages = counter.settled().stages
      assert(stages <= 12 * 21,
        s"stage count $stages suggests per-iteration lineage replay")
    } finally counter.detach()
  }

  test("registeredDomain reduces hosts to their last two labels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at, lit, size, when}
    import graft.functions.TextFunctions
    val rows = Seq(
      ("go to http://a.b.site.example/x now", "site.example", false),
      ("https://localhost/path", "localhost", false),
      ("spam at http://x.ads.example/p", "ads.example", true),
      ("no links here", "", false))
      .toDF("text", "want", "wantBlocked")
    val got = rows.select(col("want"), col("wantBlocked"),
      when(size(TextFunctions.urls(col("text"))) > 0,
        element_at(TextFunctions.domains(col("text")), 1))
        .otherwise(lit("")).as("got"),
      TextFunctions.domainBlocked(col("text"), Seq("ads.example"))
        .as("gotBlocked")).collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("want"))
      assert(r.getAs[Boolean]("gotBlocked") == r.getAs[Boolean]("wantBlocked"))
    }
  }

  test("dropEmbeddingDups keeps one canonical row per semantic cluster") {
    import org.apache.spark.sql.functions.col
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val withCopies = base.unionByName(base.where(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val kept = graft.operators.Dedup
      .dropEmbeddingDups(withCopies, "vec_id", "embedding")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val copies = base.where(col("vec_id") % 20 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(copies.nonEmpty)
    // the min-id original of each injected pair survives, the copy dies
    copies.foreach { id =>
      assert(kept.contains(id), s"original $id dropped")
      assert(!kept.contains(id + 100000), s"copy of $id kept")
    }
    assert(kept.size == withCopies.count() - copies.size)
  }

  test("dropNearDups keeps exactly one canonical doc per near-dup cluster") {
    val docs = graft.queries.DocQueries.docsWithDupsPublic(spark, sf)
    val kept = graft.operators.Dedup
      .dropNearDups(docs, "doc_id", "text", threshold = 0.5)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val comp = graft.operators.Dedup.connectedComponents(
        docs.select("doc_id"),
        graft.operators.Dedup.minhashDupPairs(docs, "doc_id", "text", 0.5),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // kept set == the set of component representatives
    assert(keptIds == comp.values.toSet)
    assert(keptIds.size < docs.count())
    // every kept id is its own component minimum
    assert(keptIds.forall(id => comp(id) == id))
  }
}
