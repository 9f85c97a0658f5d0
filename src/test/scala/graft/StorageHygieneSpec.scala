package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Storage-ownership contract: no operator leaks persisted blocks across
  * calls in a long-running session. Every operator-internal
  * multi-consumer cache is registered with [[graft.operators.Caches]]
  * (released by `Caches.clear()`, which Bench calls between
  * queries), iterative operators release their own caches before
  * returning, and checkpoint-backed RESULTS are freed deterministically
  * by `Caches.releaseResult`. Each test snapshots
  * `sc.getPersistentRDDs` before the call and asserts the id set is
  * unchanged after consume + clear + release — the before/after diff
  * (not global emptiness) keeps the check independent of what other
  * suites left in the shared session.
  */
class StorageHygieneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "a completely different document about spark shuffle hygiene x"),
    (4L, "spark storage memory must not leak across operator calls ever"),
    (5L, "one more document with enough tokens to shingle and to gram")
  ).toDF("doc_id", "text")

  /** Runs `op`, consumes its result, sweeps the cache registry and the
    * result's checkpoint blocks, and asserts zero new persistent RDDs
    * survive relative to the pre-call snapshot. */
  private def assertNoResidue(label: String)(op: => DataFrame): Unit = {
    val sc = spark.sparkContext
    Caches.clear() // independent of residue a prior test chose to keep
    val before = sc.getPersistentRDDs.keySet
    val res = op
    res.count() // consume: populates every lazily-registered cache
    assert(res.columns.nonEmpty)
    Caches.clear()
    Caches.releaseResult(res)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"$label leaked persistent RDD ids ${leaked.toSeq.sorted}")
  }

  test("spanDupStats releases its gram cache") {
    assertNoResidue("spanDupStats") {
      Dedup.spanDupStats(docs, "doc_id", "text", n = 4)
    }
  }

  test("exactSubstrSpans releases its position cache") {
    assertNoResidue("exactSubstrSpans") {
      Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 4)
    }
  }

  test("bm25 releases its tokenized base") {
    assertNoResidue("bm25") {
      Relevance.bm25(docs, "doc_id", "text", Seq("spark", "fox"))
    }
  }

  test("vocabStats / kn5LogProb / perplexityBands release their LM tables") {
    assertNoResidue("vocabStats") {
      CorpusStats.vocabStats(docs, "text", k = 10)
    }
    assertNoResidue("kn5LogProb") {
      CorpusStats.kn5LogProb(docs, "doc_id", "text")
    }
    assertNoResidue("perplexityBands") {
      CorpusStats.perplexityBands(docs, "doc_id", "text", maxSample = 10)
    }
  }

  test("skipGramPairs releases its vocab and kept-token caches") {
    assertNoResidue("skipGramPairs") {
      CorpusStats.skipGramPairs(docs, "doc_id", "text",
        window = 2, minCount = 2, subsampleT = 1e9)
    }
  }

  test("bigramPmi / unigramDivergence release their count tables") {
    assertNoResidue("bigramPmi") {
      CorpusStats.bigramPmi(docs, "text", minCount = 1)
    }
    assertNoResidue("unigramDivergence") {
      CorpusStats.unigramDivergence(
        docs.withColumn("src",
          org.apache.spark.sql.functions.col("doc_id") % 2), "src", "text")
    }
  }

  test("dsirWeights releases its bucket tables") {
    assertNoResidue("dsirWeights") {
      DataPrep.dsirWeights(docs, docs.limit(2), "doc_id", "text")
    }
  }

  test("BPE train + vocabulary + encodeAndVocab release their caches") {
    val sc = spark.sparkContext
    Caches.clear()
    val before = sc.getPersistentRDDs.keySet
    // bpeTrain runs internal actions and must self-clean — no
    // Caches.clear() between train and the assert below would be
    // needed for it alone; vocabulary/encodeAndVocab register their
    // vocab-count caches for the sweep.
    val rules = Tokenizer.bpeTrain(docs, "text", merges = 4)
    val trainResidue = sc.getPersistentRDDs.keySet -- before
    assert(trainResidue.isEmpty,
      s"bpeTrain leaked ${trainResidue.toSeq.sorted}")
    assertNoResidue("vocabulary") {
      Tokenizer.vocabulary(docs, "text", rules)
    }
    assertNoResidue("encodeAndVocab") {
      val (enc, vocab) = Tokenizer.encodeAndVocab(docs, "doc_id", "text",
        rules)
      vocab.count()
      enc
    }
  }

  test("minhashDupPairs / connectedComponents / pageRankNanos free their checkpoints") {
    val sc = spark.sparkContext
    Caches.clear()
    val before = sc.getPersistentRDDs.keySet
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      threshold = 0.5).select("id_a", "id_b")
    val comp = Dedup.connectedComponents(docs.select("doc_id"), pairs,
      "doc_id")
    val pr = Graph.pageRankNanos(pairs, iters = 3)
    assert(comp.count() > 0 && pr.count() >= 0)
    Caches.clear()
    Seq(pairs, comp, pr).foreach(Caches.releaseResult)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"dedup/graph chain leaked ${leaked.toSeq.sorted}")
  }

  test("unigram LM training self-cleans plus registry sweep") {
    val sc = spark.sparkContext
    Caches.clear()
    val before = sc.getPersistentRDDs.keySet
    val model = UnigramLm.train(docs, "text", vocabSize = 40,
      emIters = 1, multiSeeds = 50)
    assert(model.pieces.nonEmpty)
    Caches.clear()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"UnigramLm.train leaked ${leaked.toSeq.sorted}")
  }
}
