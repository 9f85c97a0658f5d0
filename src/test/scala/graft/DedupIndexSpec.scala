package graft

import graft.index.EpochLayout
import graft.operators.{Dedup, DedupIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted MinHash dedup index: probing the built index must equal
  * the live cross-corpus pair generator on the same inputs, appends
  * must feed candidates without a rebuild, and the probe plan must not
  * shuffle the index side. */
class DedupIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = graft.Tables.documents(spark, sf)
    .select("doc_id", "text").where(col("text").isNotNull)

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("dedupindex").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def batch() = docs.where(col("doc_id") % 5 === 0)
    .select((col("doc_id") + 300000L).as("doc_id"),
      concat(col("text"), lit(" crawl extra tail")).as("text"))

  private def hadoopFs(path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Hoist epoch-tagged band dirs to flat band=<k> — the TRUE v1
    * bands shape (v1 never tagged them), for migration syntheses. */
  private def regressBandsToV1(path: String): Unit = {
    val fs = hadoopFs(path)
    val bandsDir = new org.apache.hadoop.fs.Path(s"$path/bands")
    fs.listStatus(bandsDir)
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("epoch="))
      .foreach { e =>
        fs.listStatus(e.getPath)
          .filter(b => b.isDirectory && b.getPath.getName.startsWith("band="))
          .foreach { b =>
            val dest = new org.apache.hadoop.fs.Path(bandsDir,
              b.getPath.getName)
            if (!fs.exists(dest))
              assert(fs.rename(b.getPath, dest), s"hoist: ${b.getPath}")
            else // merge into the existing band dir file by file
              fs.listStatus(b.getPath).filter(_.isFile).foreach { f =>
                assert(fs.rename(f.getPath,
                  new org.apache.hadoop.fs.Path(dest,
                    f.getPath.getName)), s"hoist: ${f.getPath}")
              }
          }
        fs.delete(e.getPath, true)
      }
  }

  test("index probe equals the live minhashCrossDupPairs on the same " +
      "corpus and batch") {
    val path = tmp()
    DedupIndex.build(docs, "doc_id", "text", path)
    val probed = DedupIndex.probe(spark, path, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    val live = Dedup.minhashCrossDupPairs(docs, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("ref_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    assert(probed.nonEmpty, "planted near-dups must be found")
    assert(probed == live)
  }

  test("append feeds probe candidates exactly like build") {
    val path = tmp()
    val whole = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    DedupIndex.build(docs, "doc_id", "text", whole)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(run(path) == run(whole))
  }

  test("probe plan: index tables never shuffle — the only Exchange is " +
      "the candidate-sized dedup, and the bands scan is " +
      "dynamically partition-pruned") {
    val path = tmp()
    DedupIndex.build(docs, "doc_id", "text", path)
    val plan = DedupIndex.probe(spark, path, batch(), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // every index-side join is a BroadcastHashJoin (stored tables
    // stream); the single hash exchange is the (id, batch_id)
    // candidate dedup, which is candidate-sized by construction
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(exchanges == 1, s"expected only the candidate-dedup " +
      s"exchange, got $exchanges in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"index-side sort-merge join in probe plan:\n$plan")
    // the batch's band keys prune the band partition directories
    assert(plan.contains("dynamicpruningexpression(band"),
      s"no dynamic partition pruning on the bands scan:\n$plan")
  }

  test("lshPlanFor picks the cheapest factorization meeting the " +
      "recall budget — the 16x2 rationale, hand-verified") {
    // hand-computed S-curve values: catch(s, b, r) = 1 - (1 - s^r)^b
    val c84 = Dedup.lshCatchProbability(0.69, 8, 4)
    assert(math.abs(c84 - (1 - math.pow(1 - math.pow(0.69, 4), 8)))
      < 1e-12)
    assert(c84 > 0.85 && c84 < 0.90, s"8x4 at j=0.69: $c84") // ~13% miss
    val c162 = Dedup.lshCatchProbability(0.69, 16, 2)
    assert(c162 > 0.9999, s"16x2 at j=0.69: $c162")
    // at threshold 0.69 and 32 hashes, 16x2 is the fewest-bands plan
    // meeting 0.999; at threshold 0.95 a cheaper 8x4 already qualifies
    assert(Dedup.lshPlanFor(0.69, 32) == Some((16, 2)))
    assert(Dedup.lshPlanFor(0.95, 32) == Some((8, 4)))
    // unreachable budget -> None (raise numHashes)
    assert(Dedup.lshPlanFor(0.2, 4, minCatch = 0.9999).isEmpty)
  }

  test("probe and append fail fast on a shingler mismatch with the " +
      "index meta — never silently compute cross-universe Jaccard") {
    import graft.operators.Shingler
    val path = tmp()
    DedupIndex.build(docs.limit(10), "doc_id", "text", path,
      shingler = Shingler.word(3))
    // meta persists the shingler identity
    val m = spark.read.parquet(s"$path/meta").head()
    assert(m.getAs[String]("shingler") == "word-3")
    assert(m.getAs[Int]("version") == DedupIndex.MetaVersion)
    val pe = intercept[IllegalArgumentException] {
      DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.5, shingler = Shingler.char(4))
    }
    assert(pe.getMessage.contains("char-4") &&
      pe.getMessage.contains("word-3"))
    val ae = intercept[IllegalArgumentException] {
      DedupIndex.append(batch(), "doc_id", "text", path,
        shingler = Shingler.char(4))
    }
    assert(ae.getMessage.contains("shingler"))
    // the matching shingler still probes fine
    assert(DedupIndex.probe(spark, path, docs.limit(10), "doc_id",
      "text", threshold = 0.99).count() == 10)
  }

  test("append fails fast on a wrong-typed id batch; probe ids keep " +
      "their own type; meta records the build-time id type") {
    val path = tmp()
    DedupIndex.build(docs.limit(10), "doc_id", "text", path)
    // the meta persists the id type (what lets reads skip schema
    // inference and appends reject type corruption)
    val m = spark.read.parquet(s"$path/meta").head()
    assert(org.apache.spark.sql.types.DataType
      .fromJson(m.getAs[String]("id_type")) ==
      org.apache.spark.sql.types.LongType)
    // a string-id batch would write mixed-type files into the same
    // table — every later probe would crash or mis-read depending on
    // which file inference opened first; it must fail AT APPEND
    val stringBatch = batch()
      .select(concat(lit("doc-"), col("doc_id")).as("doc_id"),
        col("text"))
    val e = intercept[IllegalArgumentException] {
      DedupIndex.append(stringBatch, "doc_id", "text", path)
    }
    assert(e.getMessage.contains("string") &&
      e.getMessage.contains("bigint"))
    // PROBING with a differently-typed batch id is legal by design —
    // the batch id never joins against the index id column
    val hits = DedupIndex.probe(spark, path,
      docs.limit(10).select(concat(lit("q-"), col("doc_id"))
        .as("doc_id"), col("text")),
      "doc_id", "text", threshold = 0.99)
    assert(hits.count() == 10)
    assert(hits.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(hits.schema("batch_id").dataType ==
      org.apache.spark.sql.types.StringType)
    // a correctly-typed append still lands
    DedupIndex.append(batch(), "doc_id", "text", path)
  }

  test("append refuses a legacy v1 index (flat grams layout) — an " +
      "epoch dir beside flat part files would brick partition " +
      "discovery for every later probe") {
    import spark.implicits._
    val path = tmp()
    DedupIndex.build(docs.limit(10), "doc_id", "text", path)
    // regress the meta to the v1 schema (bands/rows only, no version)
    Seq((8, 4)).toDF("bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val e = intercept[IllegalArgumentException] {
      DedupIndex.append(batch(), "doc_id", "text", path)
    }
    assert(e.getMessage.contains("v1"))
    // probing a v1-meta index still works (reads are layout-agnostic)
    assert(DedupIndex.probe(spark, path, docs.limit(10),
      "doc_id", "text", threshold = 0.99).count() == 10)
  }

  test("rebuildFrom migrates a synthesized v1 index to the v3 epoch " +
      "layout — append + probe green afterwards, pairs equal a fresh " +
      "v3 build, and grams/bands share ONE epoch uuid (the tiered-" +
      "compaction retirement invariant)") {
    import spark.implicits._
    val path = tmp()
    val fresh = tmp()
    val half = docs.where(col("doc_id") % 2 === 0)
    val rest = docs.where(col("doc_id") % 2 === 1)
    // synthesize a TRUE v1 index: build v3, then flatten the grams
    // epoch dir into flat part files, hoist the bands to flat
    // band=<k>, and regress the meta schema
    DedupIndex.build(half, "doc_id", "text", path)
    val gramsRows = spark.read.parquet(s"$path/grams")
      .select("id", "gram_hashes")
    val flatTmp = tmp() + "/flatgrams"
    gramsRows.write.parquet(flatTmp)
    val gramsDir = new org.apache.hadoop.fs.Path(s"$path/grams")
    val fs = hadoopFs(path)
    fs.delete(gramsDir, true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(flatTmp), gramsDir))
    regressBandsToV1(path)
    Seq((8, 4)).toDF("bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // v1 state: append refuses, probe works
    intercept[IllegalArgumentException] {
      DedupIndex.append(rest, "doc_id", "text", path)
    }
    // migrate, then grow: append the other half and probe
    DedupIndex.rebuildFrom(spark, path, designThreshold = 0.5)
    val m = spark.read.parquet(s"$path/meta").head()
    assert(m.getAs[Int]("version") == DedupIndex.MetaVersion)
    assert(m.getAs[String]("shingler") == "word-3")
    assert(m.getAs[Double]("design_threshold") == 0.5)
    // the migrated epoch is SHARED between the two tables — what lets
    // a later tiered compact retire a merged epoch's band rows by
    // deleting one directory (and what the orphan-bands GC assumes)
    def epochsOf(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/$sub"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName).toSet
    assert(epochsOf("grams") == epochsOf("bands"),
      s"${epochsOf("grams")} != ${epochsOf("bands")}")
    DedupIndex.append(rest, "doc_id", "text", path)
    DedupIndex.build(docs, "doc_id", "text", fresh)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted.toSeq
    val migrated = run(path)
    assert(migrated.nonEmpty && migrated == run(fresh),
      "migrated+appended index must probe exactly like a fresh build")
    // and the migrated index COMPACTS (the verb that required v3)
    DedupIndex.compact(spark, path)
    assert(run(path) == run(fresh))
    // idempotent re-entry: a v3 index refuses a second migration
    val e = intercept[IllegalArgumentException] {
      DedupIndex.rebuildFrom(spark, path)
    }
    assert(e.getMessage.contains("already"))
  }

  test("rebuildFrom migrates a v2 index (epoch'd grams, flat bands): " +
      "bands rebuilt per epoch from the grams, contract carried " +
      "forward, compact + probe equal a fresh v3 build") {
    import spark.implicits._
    val path = tmp()
    val fresh = tmp()
    // synthesize a TRUE v2: build v3 (two epochs), hoist the bands
    // flat, regress the meta version to 2 keeping the contract row
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    regressBandsToV1(path)
    Seq((2, 8, 4, "word-3", 0.5))
      .toDF("version", "bands", "rows_per_band", "shingler",
        "design_threshold")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // v2 state: append AND compact refuse (flat bands), probe works
    val ae = intercept[IllegalArgumentException] {
      DedupIndex.append(batch(), "doc_id", "text", path)
    }
    assert(ae.getMessage.contains("v2"), ae.getMessage)
    val ce = intercept[IllegalArgumentException] {
      DedupIndex.compact(spark, path)
    }
    assert(ce.getMessage.contains("v2"), ce.getMessage)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted.toSeq
    DedupIndex.build(docs, "doc_id", "text", fresh)
    assert(run(path) == run(fresh), "v2 must still probe correctly")
    // migrate: bands rebuilt carrying each row's own grams epoch
    DedupIndex.rebuildFrom(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
    assert(m.getAs[Int]("version") == DedupIndex.MetaVersion)
    assert(m.getAs[String]("shingler") == "word-3") // carried, not re-asserted
    val fs = hadoopFs(path)
    def epochsOf(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/$sub"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName).toSet
    assert(epochsOf("bands") == epochsOf("grams") &&
      epochsOf("grams").size == 2,
      s"bands must re-tag per grams epoch: ${epochsOf("bands")}")
    assert(run(path) == run(fresh),
      "migrated index must probe exactly like a fresh build")
    // the migrated index grows AND compacts
    DedupIndex.append(batch(), "doc_id", "text", path)
    DedupIndex.compact(spark, path)
    assert(DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.99)
      .where(col("id") === col("batch_id")).count() == batch().count())
  }

  test("rebuildFrom completes an INTERRUPTED migration on re-run: a " +
      "crash that moved only some flat files leaves a state the next " +
      "run finishes by REUSING the crashed run's epoch dir — every " +
      "row's grams and bands land under the one shared v1 epoch") {
    import spark.implicits._
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs, "doc_id", "text", path)
    // flatten to v1 (same synthesis as the happy-path test)
    val flatTmp = tmp() + "/flatgrams"
    // 2 part files, so the "crash" can strand one moved + one flat
    spark.read.parquet(s"$path/grams").select("id", "gram_hashes")
      .repartition(2).write.parquet(flatTmp)
    val gramsDir = new org.apache.hadoop.fs.Path(s"$path/grams")
    val fs = hadoopFs(path)
    fs.delete(gramsDir, true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(flatTmp), gramsDir))
    regressBandsToV1(path)
    Seq((8, 4)).toDF("bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // simulate the crash: move ONE flat part file into an epoch dir
    // by hand (as rebuildFrom would), leave the rest flat, meta v1
    val flat = fs.listStatus(gramsDir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith("."))
    assert(flat.length >= 2,
      "fixture needs >= 2 flat part files to interrupt between")
    val crashedEpoch = new org.apache.hadoop.fs.Path(gramsDir,
      "epoch=crashed-run")
    fs.mkdirs(crashedEpoch)
    assert(fs.rename(flat.head.getPath,
      new org.apache.hadoop.fs.Path(crashedEpoch,
        flat.head.getPath.getName)))
    // re-run: moves the REMAINING flat files and the flat bands into
    // the crashed run's epoch, writes meta v3
    DedupIndex.rebuildFrom(spark, path)
    assert(spark.read.parquet(s"$path/meta").head()
      .getAs[Int]("version") == DedupIndex.MetaVersion)
    // reuse, not a second epoch: the shared-uuid invariant holds
    def epochsOf(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/$sub"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName).toSet
    assert(epochsOf("grams") == Set("epoch=crashed-run") &&
      epochsOf("bands") == Set("epoch=crashed-run"),
      s"${epochsOf("grams")} / ${epochsOf("bands")}")
    DedupIndex.build(docs, "doc_id", "text", fresh)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .collect().map(_.toString).sorted.toSeq
    val recovered = run(path)
    assert(recovered.nonEmpty && recovered == run(fresh),
      "the recovered index must probe exactly like a fresh build")
  }

  test("rebuildFrom survives a crash in the meta swap itself: no meta " +
      "+ a completed stage is finished by the next run; stale partial " +
      "stages are cleared while the meta is intact") {
    import spark.implicits._
    val path = tmp()
    DedupIndex.build(docs.limit(20), "doc_id", "text", path)
    // regress to v1 meta then migrate normally
    Seq((8, 4)).toDF("bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    DedupIndex.rebuildFrom(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash WINDOW: stage fully written (copy the live
    // meta), old meta deleted, rename never happened
    val stage = new org.apache.hadoop.fs.Path(path,
      "meta_staging-crashed")
    fs.mkdirs(stage)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/meta"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(stage, st.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta"), true)
    // a probe in this state fails (no meta) — the documented recovery
    // is re-running rebuildFrom, which must finish the swap
    DedupIndex.rebuildFrom(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
    assert(m.getAs[Int]("version") == DedupIndex.MetaVersion)
    assert(DedupIndex.probe(spark, path, batch(), "doc_id", "text",
      threshold = 0.5).collect() != null)
    // and with the meta INTACT, a leftover partial stage (no _SUCCESS)
    // is cleared, not promoted
    val partial = new org.apache.hadoop.fs.Path(path,
      "meta_staging-partial")
    fs.mkdirs(partial)
    intercept[IllegalArgumentException] {
      DedupIndex.rebuildFrom(spark, path) // already v2 -> refuses
    }
    assert(!fs.exists(partial),
      "a stale partial stage must be cleared while meta is present")
  }

  private def epochDirs(path: String): Seq[String] = {
    val gramsDir = new org.apache.hadoop.fs.Path(s"$path/grams")
    val fs = gramsDir.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(gramsDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName).toSeq
  }

  private def dataFileCount(path: String): Int =
    TestFiles.dataFiles(path).size

  test("compact merges many appended epochs into one, shrinks the " +
      "file count, keeps probes byte-identical, and the index still " +
      "grows afterwards") {
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    // five tiny appends — the per-micro-batch streaming-gate shape
    Seq(1, 3, 5, 7, 9).foreach { r =>
      DedupIndex.append(docs.where(col("doc_id") % 10 === r),
        "doc_id", "text", path)
    }
    assert(epochDirs(path).size == 6)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    val before = run(path)
    val gramsFilesBefore = dataFileCount(s"$path/grams")
    val bandsFilesBefore = dataFileCount(s"$path/bands")
    DedupIndex.compact(spark, path, targetFiles = 2)
    assert(epochDirs(path).size == 1, "epochs must merge to one")
    assert(dataFileCount(s"$path/grams") < gramsFilesBefore &&
      dataFileCount(s"$path/grams") <= 2,
      s"grams files $gramsFilesBefore -> ${dataFileCount(s"$path/grams")}")
    assert(dataFileCount(s"$path/bands") < bandsFilesBefore,
      s"bands files $bandsFilesBefore -> ${dataFileCount(s"$path/bands")}")
    assert(run(path) == before,
      "compaction is pure data movement — probes must not change")
    // the compacted index still grows: append the batch itself, then
    // a self-probe of it must hit at jaccard 1.0
    DedupIndex.build(docs, "doc_id", "text", fresh)
    assert(run(path) == run(fresh))
    DedupIndex.append(batch(), "doc_id", "text", path)
    assert(DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.99)
      .where(col("id") === col("batch_id")).count() == batch().count())
  }

  test("compactionFilesFor plans the rewrite from real bytes: ~256 MB " +
      "per file, min 1, scaling files AND rewrite parallelism with " +
      "the index") {
    val mb = 1024L * 1024
    assert(EpochLayout.compactionFilesFor(0L) == 1)
    assert(EpochLayout.compactionFilesFor(1L) == 1)
    assert(EpochLayout.compactionFilesFor(256 * mb) == 1)
    assert(EpochLayout.compactionFilesFor(256 * mb + 1) == 2)
    // 100 TB -> ~400k files / 400k-way rewrite, where any constant
    // would mean TB-sized files and a handful of tasks
    assert(EpochLayout.compactionFilesFor(100L * 1024 * 1024 * mb)
      == 409600)
    intercept[IllegalArgumentException] {
      EpochLayout.compactionFilesFor(-1L)
    }
    // the default (targetFiles = 0) path actually engages the planner
    val path = tmp()
    DedupIndex.build(docs.limit(50), "doc_id", "text", path)
    DedupIndex.append(docs.limit(100).where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    DedupIndex.compact(spark, path) // tiny index -> 1 grams file
    assert(epochDirs(path).size == 1)
    assert(dataFileCount(s"$path/grams") == 1,
      s"tiny index must compact to one file, got " +
        s"${dataFileCount(s"$path/grams")}")
  }

  test("interrupted compaction recovers at every crash point, " +
      "including with an append landing between crash and recovery") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    val evens = docs.where(col("doc_id") % 2 === 0)
    DedupIndex.build(evens.where(col("doc_id") % 4 === 0),
      "doc_id", "text", path)
    DedupIndex.append(evens.where(col("doc_id") % 4 === 2),
      "doc_id", "text", path)
    val fs = hadoopFs(path)
    // crash state A: a COMPLETE stage — data, the merged epoch's
    // bands (written BEFORE the manifest in the real protocol), and
    // the _EPOCHS manifest — with the manifest epochs still live
    // (crash before the commit rename), plus an INCOMPLETE stage (no
    // manifest) from an earlier attempt
    val epochs = epochDirs(path).map(_.stripPrefix("epoch="))
    val stage = new Path(path, "grams_compact-crashA")
    spark.read.parquet(s"$path/grams").select("id", "gram_hashes")
      .coalesce(1).write.parquet(stage.toString)
    spark.read.parquet(s"$path/bands").select("id", "bh", "band")
      .withColumn("epoch", lit("crashA"))
      .write.mode("append").partitionBy("epoch", "band")
      .parquet(s"$path/bands")
    val out = fs.create(new Path(stage, "_EPOCHS"), false)
    out.write(epochs.mkString("\n").getBytes("UTF-8")); out.close()
    fs.mkdirs(new Path(path, "grams_compact-incomplete"))
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    // the crashed tree PROBES CORRECTLY before anyone recovers it —
    // snapshot isolation's availability half: old epochs are intact
    // (the stage never renamed), the stray merged-bands epoch only
    // mints duplicate candidates which probe dedups
    val freshEvens = tmp()
    DedupIndex.build(evens, "doc_id", "text", freshEvens)
    assert(run(path) == run(freshEvens),
      "a crashed-mid-compaction tree must still serve the old snapshot")
    // an append lands AFTER the crash, BEFORE recovery — its epoch is
    // not in the manifest and must survive the recovering compact
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    DedupIndex.compact(spark, path)
    // stages gone, retired epochs vacuumed (default), epochs =
    // recovered merge + the post-crash append, re-merged
    assert(fs.globStatus(new Path(s"$path/grams_compact-*")).isEmpty)
    assert(epochDirs(path).size == 1)
    DedupIndex.build(docs, "doc_id", "text", fresh)
    assert(run(path).nonEmpty && run(path) == run(fresh),
      "recovered + appended index must probe exactly like a fresh build")
  }

  test("snapshot isolation: a probe frame PLANNED before a compaction " +
      "still executes correctly after it (retainRetired defers the " +
      "deletes to vacuum), new probes exclude retired epochs, and " +
      "vacuum reclaims them under the grace contract") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    Seq(1, 3).foreach { r =>
      DedupIndex.append(docs.where(col("doc_id") % 4 === r),
        "doc_id", "text", path)
    }
    DedupIndex.build(docs, "doc_id", "text", fresh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
        .map(_.toString).sorted.toSeq
    // plan (lazily) BEFORE maintenance — the broadcast path returns a
    // lazy frame whose file index is resolved now
    val planned = DedupIndex.probe(spark, path, batch(),
      "doc_id", "text", threshold = 0.5)
    val truth = rows(DedupIndex.probe(spark, fresh, batch(),
      "doc_id", "text", threshold = 0.5))
    DedupIndex.compact(spark, path, retainRetired = true)
    // the retired epochs still exist (marked, not deleted) …
    val fs = hadoopFs(path)
    val retiredDirs = fs.listStatus(new Path(s"$path/grams"))
      .filter(s => s.isDirectory && fs.exists(
        new Path(s.getPath, EpochLayout.RetiredMarker)))
    assert(retiredDirs.length == 3,
      s"expected the 3 merged epochs retained-retired, got " +
        s"${retiredDirs.length}")
    // … so the PRE-compaction frame executes against its snapshot
    assert(rows(planned) == truth,
      "a frame planned before compaction must survive it")
    // new probes read the merged epoch only — same pair set
    assert(rows(DedupIndex.probe(spark, path, batch(), "doc_id",
      "text", threshold = 0.5)) == truth)
    // vacuum with a generous grace keeps them; zero grace reclaims
    DedupIndex.vacuum(spark, path, olderThanMillis = 3600000L)
    assert(fs.listStatus(new Path(s"$path/grams")).count(s =>
      s.isDirectory && fs.exists(new Path(s.getPath,
        EpochLayout.RetiredMarker))) == 3,
      "an hour-long grace must retain just-retired epochs")
    DedupIndex.vacuum(spark, path)
    assert(fs.listStatus(new Path(s"$path/grams")).count(_.getPath
      .getName.startsWith("epoch=")) == 1,
      "zero-grace vacuum must reclaim every retired epoch")
    assert(rows(DedupIndex.probe(spark, path, batch(), "doc_id",
      "text", threshold = 0.5)) == truth)
  }

  test("the rename-then-mark commit window is probe-consistent: a " +
      "committed epoch still carrying its _EPOCHS manifest excludes " +
      "the merged epochs from new plans — no duplicate pairs — and " +
      "the next compact completes the marking") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    DedupIndex.build(docs, "doc_id", "text", fresh)
    val fs = hadoopFs(path)
    // synthesize the window: a merged epoch holding ALL current rows
    // with the manifest still inside (rename done, markers not), its
    // bands under the same uuid, the old epochs untouched
    val old = epochDirs(path).map(_.stripPrefix("epoch="))
    assert(old.size == 2)
    val mcStage = new Path(path, "grams_stage-midcommit")
    spark.read.parquet(s"$path/grams").select("id", "gram_hashes")
      .coalesce(1).write.parquet(mcStage.toString)
    assert(fs.rename(mcStage, new Path(s"$path/grams/epoch=midcommit")))
    spark.read.parquet(s"$path/bands")
      .where(col("epoch").isin(old: _*))
      .select("id", "bh", "band")
      .withColumn("epoch", lit("midcommit"))
      .write.mode("append").partitionBy("epoch", "band")
      .parquet(s"$path/bands")
    val out = fs.create(
      new Path(s"$path/grams/epoch=midcommit/_EPOCHS"), false)
    out.write(old.mkString("\n").getBytes("UTF-8")); out.close()
    // a probe in the window: every merged id exists TWICE on disk
    // (old epochs + the committed copy) — manifest exclusion must
    // keep the pair set exact, with zero duplicates
    val got = DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    val truth = DedupIndex.probe(spark, fresh, batch(), "doc_id",
        "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    assert(got == truth,
      "the mid-commit window must serve the exact pair set (a " +
        "double-counted id would duplicate pairs)")
    // recovery (any compact) completes the marking and vacuums
    DedupIndex.compact(spark, path)
    assert(epochDirs(path).forall(d => !fs.exists(
      new Path(s"$path/grams/$d/_EPOCHS"))))
    val after = DedupIndex.probe(spark, path, batch(), "doc_id",
        "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    assert(after == truth)
  }

  test("a TRUNCATED manifest cannot be trusted: the atomic-rename " +
      "protocol leaves a crashed mid-write as _EPOCHS.tmp, which " +
      "recovery discards with the stage — no duplicate index rows") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val fs = hadoopFs(path)
    val gramRows = spark.read.parquet(s"$path/grams").count()
    // crash state: stage holds a FULL copy of the grams plus the
    // merged-epoch bands, but the manifest write died mid-stream —
    // under the pre-r16 create-in-place protocol this partial list
    // (one of two epochs) would be TRUSTED: recovery would delete
    // only the listed epoch and rename the whole stage in, leaving
    // the unlisted epoch alive beside its stage copy = duplicates
    val epochs = epochDirs(path).map(_.stripPrefix("epoch="))
    assert(epochs.size == 2)
    val stage = new Path(path, "grams_compact-truncated")
    spark.read.parquet(s"$path/grams").select("id", "gram_hashes")
      .coalesce(1).write.parquet(stage.toString)
    spark.read.parquet(s"$path/bands").select("id", "bh", "band")
      .withColumn("epoch", lit("truncated"))
      .write.mode("append").partitionBy("epoch", "band")
      .parquet(s"$path/bands")
    val out = fs.create(new Path(stage, "_EPOCHS.tmp"), false)
    out.write(epochs.head.getBytes("UTF-8")) // one of two = truncated
    out.close()
    DedupIndex.compact(spark, path)
    // the stage was discarded (manifest never committed), its orphan
    // bands epoch GC'd, the live epochs merged normally — and the row
    // count proves no duplicates survived
    assert(fs.globStatus(new Path(s"$path/grams_compact-*")).isEmpty)
    assert(spark.read.parquet(s"$path/grams").count() == gramRows,
      "a trusted truncated manifest would have duplicated gram rows")
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    DedupIndex.build(docs, "doc_id", "text", fresh)
    assert(run(path).nonEmpty && run(path) == run(fresh))
  }

  test("tiered compaction: a large epoch above the tier is NOT " +
      "rewritten while small epochs merge, the promotion rule folds " +
      "it in once the small aggregate reaches it, and a lone " +
      "already-compact epoch is not pointlessly re-rewritten") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    val fs = hadoopFs(path)
    def epochBytes(): Map[String, Long] = fs.listStatus(
        new Path(s"$path/grams"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(s => s.getPath.getName ->
        fs.getContentSummary(s.getPath).getLength).toMap
    def fileOf(epoch: String): String = fs.listStatus(
        new Path(s"$path/grams/$epoch"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted.mkString(",")
    // big epoch: 80% of the corpus; then two tiny appends
    DedupIndex.build(docs.where(col("doc_id") % 5 =!= 0),
      "doc_id", "text", path)
    DedupIndex.compact(spark, path) // big epoch now one compact unit
    val big = epochBytes()
    assert(big.size == 1)
    val (bigEpoch, bigBytes) = big.head
    val bigFiles = fileOf(bigEpoch)
    DedupIndex.append(docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 10 === 5),
      "doc_id", "text", path)
    // tier below the big epoch: the two tiny appends merge (their
    // aggregate is far from the big epoch, so promotion leaves it),
    // the big epoch's directory and file names are UNTOUCHED
    val smallBytes = epochBytes().filterNot(_._1 == bigEpoch).values.sum
    assert(smallBytes * 2 < bigBytes, "fixture: tier gap must be real")
    DedupIndex.compact(spark, path, maxEpochBytes = bigBytes - 1)
    val afterTiered = epochBytes()
    assert(afterTiered.size == 2, s"big + merged-small: $afterTiered")
    assert(afterTiered.contains(bigEpoch) && fileOf(bigEpoch) == bigFiles,
      "tiered compaction must not rewrite the above-tier epoch")
    // probes unchanged by maintenance
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    DedupIndex.build(docs, "doc_id", "text", fresh)
    assert(run(path) == run(fresh))
    // a second tiered pass with no new appends: the lone merged small
    // epoch is already at its planned file count — nothing rewritten
    // (this is what keeps the serving loop's repeat cost amortized)
    val merged = afterTiered.keys.filterNot(_ == bigEpoch).head
    val mergedFiles = fileOf(merged)
    DedupIndex.compact(spark, path, maxEpochBytes = bigBytes - 1)
    assert(epochBytes().keySet == afterTiered.keySet &&
      fileOf(merged) == mergedFiles,
      "an already-compact small tier must not be re-rewritten")
    // promotion: once the tier's aggregate reaches the big epoch's
    // size, the big epoch IS folded in (geometric folding is what
    // bounds the live epoch count). Fat-margin fixture on a fresh
    // path: a compacted 3-bucket epoch, then SEVEN 1-bucket appends —
    // each small epoch is ~⅓ of the big one (safely under the tier),
    // their aggregate ~2.3× it (safely over the promotion bar)
    val path2 = tmp()
    val fs2 = hadoopFs(path2)
    DedupIndex.build(docs.where(col("doc_id") % 10 < 3),
      "doc_id", "text", path2)
    DedupIndex.compact(spark, path2)
    def epochs2(): Map[String, Long] = fs2.listStatus(
        new org.apache.hadoop.fs.Path(s"$path2/grams"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(s => s.getPath.getName ->
        fs2.getContentSummary(s.getPath).getLength).toMap
    val big2Bytes = epochs2().values.max
    (3 to 9).foreach { b =>
      DedupIndex.append(docs.where(col("doc_id") % 10 === b),
        "doc_id", "text", path2)
    }
    assert(epochs2().values.count(_ > big2Bytes - 1) == 1,
      s"fixture: every append must sit under the tier: ${epochs2()}")
    DedupIndex.compact(spark, path2, maxEpochBytes = big2Bytes - 1)
    assert(epochs2().size == 1,
      s"promotion must fold the big epoch once the small aggregate " +
        s"reaches it: ${epochs2()}")
    assert(run(path2) == run(fresh))
  }

  test("append plans its bands write from the staged bytes: one small " +
      "append adds at most |bands| band files (a single range " +
      "partition), not input-partitions × bands — the accumulation " +
      "rate is cut at the source, not just repaired by compact") {
    val path = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    val before = dataFileCount(s"$path/bands")
    // 8 input partitions: the pre-r16 write added 8 × 8 = 64 files
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1).repartition(8),
      "doc_id", "text", path)
    val added = dataFileCount(s"$path/bands") - before
    assert(added <= 8, // default bands = 8: one file per touched band
      s"one tiny append added $added band files — the range-planned " +
        "write should add at most one per band")
  }

  test("probe fails fast below the index's banding design threshold") {
    val path = tmp()
    DedupIndex.build(docs.limit(10), "doc_id", "text", path,
      designThreshold = 0.5)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.3)
    }
    assert(e.getMessage.contains("design threshold"))
  }

  test("the keyed (backfill-sized batch) probe path equals the " +
      "broadcast path row for row") {
    val path = tmp()
    DedupIndex.build(docs, "doc_id", "text", path)
    def probe(maxBroadcastBatch: Long) = DedupIndex.probe(spark, path,
      batch(), "doc_id", "text", threshold = 0.5,
      maxBroadcastBatch = maxBroadcastBatch)
    def run(maxBroadcastBatch: Long) = probe(maxBroadcastBatch)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    val viaBroadcast = run(DedupIndex.MaxBroadcastBatchDefault)
    // the keyed path returns an eagerly-checkpointed frame — proof
    // the fallback was actually taken (the broadcast path is lazy)
    assert(probe(1).queryExecution.logical.toString.contains("LogicalRDD"),
      "keyed fallback not taken under maxBroadcastBatch=1")
    val viaKeyed = run(1)
    assert(viaBroadcast.nonEmpty && viaKeyed == viaBroadcast)
  }

  test("the orphan-bands GC is age-gated: a FRESH bands-without-grams " +
      "epoch (structurally identical to an in-flight append's " +
      "bands-committed window) survives compact's recovery + vacuum; " +
      "aged past the grace it is retired and reclaimed") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    DedupIndex.build(docs, "doc_id", "text", fresh)
    val fs = hadoopFs(path)
    // the orphan: a bands epoch with no grams twin — exactly what a
    // concurrent append looks like between its bands commit and its
    // grams rename (r16 advice: the un-gated GC would retire it, the
    // default immediate vacuum would delete it, and the index would
    // permanently serve grams-without-bands once the grams landed)
    spark.read.parquet(s"$path/bands").select("id", "bh", "band")
      .withColumn("epoch", lit("orphan"))
      .write.mode("append").partitionBy("epoch", "band")
      .parquet(s"$path/bands")
    val orphan = new Path(s"$path/bands/epoch=orphan")
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    val truth = run(fresh)
    assert(run(path) == truth,
      "orphan band rows only mint duplicate candidates probe dedups")
    DedupIndex.compact(spark, path) // default path vacuums immediately
    assert(fs.exists(orphan) && !fs.exists(
        new Path(orphan, EpochLayout.RetiredMarker)),
      "a young orphan could be an in-flight append's bands — the " +
        "age-gated GC must leave it alone")
    // age it past the grace: now it is unambiguous crash residue
    fs.setTimes(orphan, System.currentTimeMillis() -
      EpochLayout.OrphanGraceMillis - 60000L, -1)
    DedupIndex.compact(spark, path)
    assert(!fs.exists(orphan),
      "an aged orphan bands epoch must be retired and vacuumed")
    assert(run(path) == truth)
  }

  test("the tiered early return checks the BANDS file population too " +
      "(r16 verdict #2): a v1-migrated epoch that is grams-compact " +
      "but carries v1's flat band-file inheritance is repaired on " +
      "the tiered path, not parked forever") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val path = tmp()
    val fresh = tmp()
    val fs = hadoopFs(path)
    // grams-compact single unit first
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.compact(spark, path)
    // regress to v1 with a MANY-FILE flat bands population (v1 never
    // range-planned its band writes): grams flatten as-is, bands
    // rewrite hash-scattered so every band dir holds ~16 files
    val gramsRows = spark.read.parquet(s"$path/grams")
      .select("id", "gram_hashes")
    val flatTmp = tmp() + "/flatgrams"
    gramsRows.coalesce(1).write.parquet(flatTmp)
    val gramsDir = new Path(s"$path/grams")
    fs.delete(gramsDir, true)
    assert(fs.rename(new Path(flatTmp), gramsDir))
    val bandRows = spark.read.parquet(s"$path/bands")
      .select("id", "bh", "band").localCheckpoint()
    fs.delete(new Path(s"$path/bands"), true)
    bandRows.repartition(16).write.partitionBy("band")
      .parquet(s"$path/bands")
    Seq((8, 4)).toDF("bands", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    DedupIndex.rebuildFrom(spark, path, designThreshold = 0.5)
    // migrated: the sole epoch is grams-compact (1 file) but its
    // bands inherited ~128 files by pure moves
    val bandsFilesBefore = dataFileCount(s"$path/bands")
    assert(bandsFilesBefore > 50,
      s"fixture must carry a real band-file population: $bandsFilesBefore")
    // the tiered path (everything under the tier) must NOT early-return
    // on the grams count alone — the bands population collapses
    DedupIndex.compact(spark, path)
    val bandsFilesAfter = dataFileCount(s"$path/bands")
    assert(bandsFilesAfter <= 8,
      s"tiered compact must collapse the migrated band files: " +
        s"$bandsFilesBefore -> $bandsFilesAfter")
    // … and a SECOND pass early-returns (both tables now at plan):
    // no rewrite — the amortization guard still holds
    def bandFileNames(): Seq[String] =
      TestFiles.dataFiles(s"$path/bands").map(_.getAbsolutePath).sorted
    val names = bandFileNames()
    DedupIndex.compact(spark, path)
    assert(bandFileNames() == names,
      "an epoch at plan in BOTH tables must not be re-rewritten")
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", fresh)
    def run(p: String) = DedupIndex.probe(spark, p, batch(),
        "doc_id", "text", threshold = 0.5)
      .select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
      .map(_.toString).sorted.toSeq
    assert(run(path) == run(fresh))
  }

  test("reader leases enforce the vacuum grace: a probe planned " +
      "before retirement blocks a graced reclaim that would have " +
      "raced it (mis-set grace), the zero-grace forced path ignores " +
      "leases, and leases past the horizon reap") {
    import org.apache.hadoop.fs.Path
    val path = tmp()
    DedupIndex.build(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    DedupIndex.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val fs = hadoopFs(path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("batch_id"),
        round(col("jaccard"), 9).as("j")).collect()
        .map(_.toString).sorted.toSeq
    // plan BEFORE maintenance → the probe advertises itself
    val planned = DedupIndex.probe(spark, path, batch(), "doc_id",
      "text", threshold = 0.5)
    val truth = rows(planned)
    val leases = new Path(path, EpochLayout.ReadersDir)
    assert(fs.exists(leases) && fs.listStatus(leases).nonEmpty,
      "a probe must leave a plan-time lease")
    DedupIndex.compact(spark, path, retainRetired = true)
    def retiredCount(): Int = fs.listStatus(new Path(s"$path/grams"))
      .count(s => s.isDirectory && fs.exists(
        new Path(s.getPath, EpochLayout.RetiredMarker)))
    assert(retiredCount() == 2)
    Thread.sleep(30)
    // a mis-set grace (1 ms — far under the probe's lifetime): the
    // age test passes, but the outstanding lease PREDATES the
    // retirement, so the graced vacuum must defer the reclaim
    DedupIndex.vacuum(spark, path, olderThanMillis = 1L)
    assert(retiredCount() == 2,
      "a graced vacuum must not reclaim epochs a live lease predates")
    assert(rows(planned) == truth,
      "the lease's whole point: the planned frame still executes")
    // leases expire at the horizon — age every lease file, and the
    // same graced vacuum reaps them and reclaims
    fs.listStatus(leases).foreach(l => fs.setTimes(l.getPath,
      System.currentTimeMillis() -
        EpochLayout.LeaseHorizonMillis - 60000L, -1))
    DedupIndex.vacuum(spark, path, olderThanMillis = 1L)
    assert(retiredCount() == 0,
      "expired leases must stop blocking the graced reclaim")
    assert(fs.listStatus(leases).isEmpty,
      "expired leases must be reaped")
    // the forced zero-grace path ignores even live leases (the
    // exclusive-ownership configuration — the owner's own probes
    // must not wedge its maintenance loop)
    DedupIndex.append(batch(), "doc_id", "text", path)
    DedupIndex.probe(spark, path, batch(), "doc_id", "text",
      threshold = 0.5) // fresh live lease
    assert(fs.listStatus(leases).nonEmpty)
    DedupIndex.compact(spark, path) // default: internal vacuum(0)
    assert(retiredCount() == 0,
      "the forced path must reclaim regardless of leases")
  }

  test("probe reads the build-time banding params from the index meta") {
    val path = tmp()
    DedupIndex.build(docs.limit(10), "doc_id", "text", path,
      bands = 4, rowsPerBand = 8)
    // meta round-trips the build-time banding parameters
    val m = spark.read.parquet(s"$path/meta").head()
    assert(m.getAs[Int]("bands") == 4 && m.getAs[Int]("rows_per_band") == 8)
    // probe picks them up: signatures still line up with the index
    val got = DedupIndex.probe(spark, path, docs.limit(10),
      "doc_id", "text", threshold = 0.99)
    // every doc matches itself at jaccard 1.0
    assert(got.where(col("id") === col("batch_id")).count() == 10)
  }

  test("the meta cache invalidates when the index is rebuilt in place " +
      "(r17: readMeta memoizes on the meta dir's file fingerprint — a " +
      "stale entry would let a probe skip the NEW design-threshold gate)") {
    val path = tmp()
    val corpus = docs.where(col("doc_id") < 100)
    DedupIndex.build(corpus, "doc_id", "text", path,
      bands = 16, rowsPerBand = 2, designThreshold = 0.5)
    // populates the cache for this path
    DedupIndex.probe(spark, path, batch(), "doc_id", "text",
      threshold = 0.5).collect()
    // rebuild IN PLACE with a stricter design threshold: the meta dir's
    // files change, so the fingerprint must miss and the next probe
    // must see the new contract
    DedupIndex.build(corpus, "doc_id", "text", path,
      bands = 16, rowsPerBand = 2, designThreshold = 0.9)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.probe(spark, path, batch(), "doc_id", "text",
        threshold = 0.5)
    }
    assert(e.getMessage.contains("design threshold"),
      s"expected the REBUILT meta's threshold gate to fire, got: $e")
    // and the new meta serves correctly at its own threshold
    val got = DedupIndex.probe(spark, path, batch(), "doc_id", "text",
      threshold = 0.9)
    assert(got.columns.toSet == Set("id", "batch_id", "jaccard"))
  }
}
