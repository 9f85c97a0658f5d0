package graft

import graft.index.EpochLayout
import graft.operators.{AnnIndex, SimilaritySearch}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF index (v3, generation-versioned): probing the built
  * index must equal the live ivfTopK under the same quantizer, the
  * probe scan must read ONLY the probed cell partitions (partition
  * pruning — the point of the disk layout), appended batches must join
  * without a retrain, and maintenance — compact AND retrain — must be
  * invisible to probes planned at any point (snapshot isolation: the
  * DedupIndexSpec shapes at the vector table). */
class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val queries = emb.where(col("vec_id") < 5)

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("annindex").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def hadoopFs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genOf(path: String): String =
    AnnIndex.currentGen(hadoopFs(path), path)
      .getOrElse(fail(s"no generation pointer at $path"))

  private def quantDirOf(path: String): String =
    s"$path/quantizer-${genOf(path)}"

  private def epochDirs(path: String): Seq[String] = {
    val fs = hadoopFs(path)
    fs.listStatus(new Path(s"$path/assignments/gen=${genOf(path)}"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName).toSeq
  }

  private def dataFiles(path: String): Int =
    TestFiles.dataFiles(s"$path/assignments").size

  private def probed(p: String, k: Int = 10, nprobe: Int = 4) =
    AnnIndex.probe(spark, p, queries, "vec_id", "embedding",
        k = k, nprobe = nprobe)
      .collect().map(_.toString).sorted.toSeq

  /** Synthesize a LEGACY (pre-generation) tree from a single-epoch v3
    * build by reversing the migration's pure moves: cell dirs hoisted
    * flat under assignments, quantizer tables hoisted to the root,
    * pointer and quantizer dir dropped. `keepMeta = false` yields a
    * v1 (meta-less) tree, `true` a v2 one. */
  private def deMigrate(path: String, keepMeta: Boolean): Unit = {
    val fs = hadoopFs(path)
    val g = genOf(path)
    val qd = s"$path/quantizer-$g"
    val genDir = new Path(s"$path/assignments/gen=$g")
    val epochs = fs.listStatus(genDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
    assert(epochs.length == 1, "deMigrate needs a single-epoch index")
    fs.listStatus(epochs.head.getPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .foreach { cd =>
        assert(fs.rename(cd.getPath,
          new Path(s"$path/assignments", cd.getPath.getName)))
      }
    fs.delete(genDir, true)
    assert(fs.rename(new Path(s"$qd/centroids"),
      new Path(s"$path/centroids")))
    if (keepMeta)
      assert(fs.rename(new Path(s"$qd/meta"), new Path(s"$path/meta")))
    assert(fs.rename(new Path(s"$qd/moments"),
      new Path(s"$path/moments")))
    fs.delete(new Path(qd), true)
    fs.delete(new Path(path, AnnIndex.CurrentPointer), false)
  }

  test("index probe equals live ivfTopK under the shared quantizer, " +
      "and the scan prunes to the probed cells") {
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val probedF = AnnIndex.probe(spark, path, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    // same quantizer by construction (trainOnSample is the one shared
    // training body), so results must match row for row
    val live = SimilaritySearch.ivfTopK(emb, queries,
      "vec_id", "embedding", "vec_id", k = 10, nlist = 8, nprobe = 4)
    assert(probedF.collect().map(_.toString).sorted.toSeq ==
      live.collect().map(_.toString).sorted.toSeq)
    // partition pruning: the assignments scan carries a cell partition
    // filter — unprobed cell directories are never read (the explicit
    // live-epoch path list preserves the Hive-style partition columns
    // via basePath)
    val plan = probedF.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"no cell partition filter in:\n$plan")
  }

  test("append assigns a new batch to existing cells without retrain, " +
      "as an atomic fresh epoch") {
    import spark.implicits._
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    assert(epochDirs(path).size == 1)
    // plant a near-copy of vector 3 under a fresh id
    val v3 = emb.where(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    AnnIndex.append(
      Seq((90001L, v3.map(_ + 1e-4))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    assert(epochDirs(path).size == 2,
      "an append must commit exactly one fresh epoch")
    val got = AnnIndex.probe(spark, path,
        emb.where(col("vec_id") === 3), "vec_id", "embedding",
        k = 1, nprobe = 1)
      .collect()
    // the appended near-copy lands in vector 3's own cell and wins top-1
    assert(got.length == 1 && got.head.getAs[Long]("id") == 90001L,
      got.mkString(","))
  }

  test("meta persists the probe contract and dimension mismatches " +
      "fail fast instead of ranking on a truncated prefix") {
    import spark.implicits._
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val dim = emb.select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).length
    // meta round-trips (version, metric, dim, nlist) in the current
    // generation's quantizer dir
    val m = spark.read.parquet(s"${quantDirOf(path)}/meta").head()
    assert(m.getAs[Int]("version") == AnnIndex.MetaVersion)
    assert(m.getAs[String]("metric") == "cosine")
    assert(m.getAs[Int]("dim") == dim)
    assert(m.getAs[Int]("nlist") == 8)
    // a wrong-dimension batch fails the append (udf require surfaces
    // as a SparkException wrapping the IllegalArgumentException)
    val shortVec = Seq.fill(dim - 1)(0.5)
    val ae = intercept[org.apache.spark.SparkException] {
      AnnIndex.append(Seq((90002L, shortVec)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
    }
    assert(ae.getMessage.contains("dim") ||
      Option(ae.getCause).exists(_.getMessage.contains("dim")))
    // a wrong-dimension query fails the probe the same way
    val pe = intercept[org.apache.spark.SparkException] {
      AnnIndex.probe(spark, path,
          Seq((1L, shortVec)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .collect()
    }
    assert(pe.getMessage.contains("dim") ||
      Option(pe.getCause).exists(_.getMessage.contains("dim")))
    // nprobe beyond nlist is a contract violation, not a silent clamp
    val ne = intercept[IllegalArgumentException] {
      AnnIndex.probe(spark, path, queries, "vec_id", "embedding",
        k = 3, nprobe = 99)
    }
    assert(ne.getMessage.contains("nprobe"))
  }

  test("a tiny corpus that trains fewer cells than requested records " +
      "the TRAINED count in meta (r14 advice): the fresh build's own " +
      "meta honors the centroids.length == nlist contract") {
    import spark.implicits._
    val path = tmp()
    // 3 vectors, nlist = 8: trainCentroids caps k at the sample size
    val tiny = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    AnnIndex.build(tiny, "vec_id", "embedding", path, nlist = 8)
    val cells = spark.read.parquet(s"${quantDirOf(path)}/centroids")
      .count()
    assert(cells < 8, s"expected fewer than the requested 8, got $cells")
    val m = spark.read.parquet(s"${quantDirOf(path)}/meta").head()
    assert(m.getAs[Int]("nlist").toLong == cells,
      s"meta nlist ${m.getAs[Int]("nlist")} != stored cells $cells")
    // the contract check passes — probe works instead of declaring
    // the index tree inconsistent
    val got = AnnIndex.probe(spark, path,
      Seq((9L, Seq(1.0, 0.1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, nprobe = 1).collect()
    assert(got.nonEmpty)
  }

  test("legacy (pre-generation) trees still probe — with the contract " +
      "check when a meta exists, without it on a true v1 — and " +
      "rebuildFrom migrates both in place: append + probe equal a " +
      "fresh v3 build, re-running on a migrated tree is refused") {
    val v1 = tmp()
    val v2 = tmp()
    val fresh = tmp()
    val half = emb.where(col("vec_id") % 2 === 0)
    val rest = emb.where(col("vec_id") % 2 === 1)
    Seq(v1, v2, fresh).foreach { p =>
      AnnIndex.build(half, "vec_id", "embedding", p, nlist = 8)
    }
    deMigrate(v1, keepMeta = false)
    deMigrate(v2, keepMeta = true)
    // legacy trees probe as-is (read-only compatibility)
    assert(probed(v1) == probed(fresh) && probed(v2) == probed(fresh))
    // growth requires the migration — a legacy append would mix flat
    // cell dirs with epoch dirs and corrupt partition discovery
    val le = intercept[IllegalArgumentException] {
      AnnIndex.append(rest, "vec_id", "embedding", v1)
    }
    assert(le.getMessage.contains("rebuildFrom"), le.getMessage)
    Seq(v1, v2).foreach(p => AnnIndex.rebuildFrom(spark, p))
    // migration is pure metadata/moves: the minted meta equals the
    // fresh build's, and append + probe behave identically
    val freshMeta = spark.read.parquet(s"${quantDirOf(fresh)}/meta")
      .head()
    Seq(v1, v2).foreach { p =>
      assert(spark.read.parquet(s"${quantDirOf(p)}/meta").head()
        == freshMeta)
      AnnIndex.append(rest, "vec_id", "embedding", p)
    }
    AnnIndex.append(rest, "vec_id", "embedding", fresh)
    assert(probed(v1) == probed(fresh) && probed(v2) == probed(fresh))
    // the drift moments rode the migration (pure move)
    assert(AnnIndex.driftSince(spark, v2, half, "embedding")
      .head().getAs[Long]("fd_micro") == 0L)
    // a generation-versioned tree is refused — migration never reruns
    val re = intercept[IllegalArgumentException] {
      AnnIndex.rebuildFrom(spark, v1)
    }
    assert(re.getMessage.contains("nothing to migrate"), re.getMessage)
  }

  test("compact merges appended epochs (fewer files, identical " +
      "probes); a crashed compaction is probe-consistent BEFORE " +
      "recovery and recovers without losing a post-crash append") {
    val path = tmp()
    val fresh = tmp()
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    (1 to 3).foreach { r =>
      AnnIndex.append(emb.where(col("vec_id") % 8 === (2 * r - 1)),
        "vec_id", "embedding", path)
    }
    val before = probed(path)
    val filesBefore = dataFiles(path)
    AnnIndex.compact(spark, path, targetFiles = 4)
    assert(dataFiles(path) < filesBefore,
      s"files $filesBefore -> ${dataFiles(path)}")
    assert(epochDirs(path).size == 1,
      "default-vacuum compact must leave exactly the merged epoch")
    assert(probed(path) == before,
      "compaction is pure data movement — probes must not change")
    // crash simulation: a COMPLETE stage (cell-partitioned copy of the
    // live rows + atomic _EPOCHS manifest) that never committed, plus
    // an INCOMPLETE stage from an earlier attempt
    val fs = hadoopFs(path)
    val gen = genOf(path)
    val merged = epochDirs(path).map(_.stripPrefix("epoch="))
    val stage = new Path(path, "assignments_compact-crashed")
    spark.read.parquet(s"$path/assignments/gen=$gen")
      .select("id", "v", "cell")
      .repartitionByRange(2, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(stage.toString)
    EpochLayout.writeManifest(fs, new Path(stage, "_EPOCHS"),
      merged.map(e => s"gen=$gen/epoch=$e"))
    fs.mkdirs(new Path(path, "assignments_compact-incomplete"))
    // the crashed tree PROBES CORRECTLY before anyone recovers it —
    // snapshot isolation's availability half (no _COMPACTING fail-fast
    // any more): the old epochs are intact, the stage is invisible
    assert(probed(path) == before,
      "a crashed-mid-compaction tree must still serve the old snapshot")
    // an append lands AFTER the crash, BEFORE recovery — it is not in
    // the manifest and must survive the recovering compact
    AnnIndex.append(emb.where(col("vec_id") % 8 === 7),
      "vec_id", "embedding", path)
    AnnIndex.compact(spark, path, targetFiles = 4)
    assert(!fs.exists(new Path(s"$path/assignments_compact-crashed")),
      "recovery must commit the complete stage")
    // the incomplete stage is YOUNG (could be an in-flight concurrent
    // pass) — the age-gated GC leaves it; aged residue is reclaimed
    assert(fs.exists(new Path(path, "assignments_compact-incomplete")))
    fs.setTimes(new Path(path, "assignments_compact-incomplete"),
      System.currentTimeMillis() - EpochLayout.OrphanGraceMillis - 1000,
      -1)
    AnnIndex.compact(spark, path, targetFiles = 4)
    assert(Option(fs.globStatus(
      new Path(s"$path/assignments_compact-*"))).forall(_.isEmpty))
    // the full corpus (7 of 8 residues) probes like a fresh build
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", fresh, nlist = 8)
    AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", fresh)
    assert(probed(path) == probed(fresh))
  }

  test("compact under the DEFAULT byte planner (targetFiles = 0) — " +
      "files collapse to the planned count and probes are unchanged") {
    val path = tmp()
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    (1 to 3).foreach { r =>
      AnnIndex.append(emb.where(col("vec_id") % 8 === (2 * r - 1)),
        "vec_id", "embedding", path)
    }
    val before = probed(path)
    val filesBefore = dataFiles(path)
    AnnIndex.compact(spark, path) // tiny index -> 1 range partition
    assert(dataFiles(path) < filesBefore && dataFiles(path) <= 8,
      s"byte-planned compact: $filesBefore -> ${dataFiles(path)} files " +
        "(at most one per cell from the single planned partition)")
    assert(probed(path) == before,
      "compaction is pure data movement — probes must not change")
    // a second pass early-returns (single epoch already at plan) —
    // the amortization guard: same file identities, no rewrite
    def fileIds(): Seq[String] =
      TestFiles.dataFiles(s"$path/assignments").map(_.getAbsolutePath).sorted
    val ids = fileIds()
    AnnIndex.compact(spark, path)
    assert(fileIds() == ids,
      "an already-compact epoch must not be pointlessly re-rewritten")
  }

  test("snapshot isolation: a probe frame PLANNED before a compaction " +
      "executes correctly after it (retainRetired defers deletes to " +
      "vacuum), new probes exclude retired epochs, and vacuum " +
      "reclaims under the grace contract") {
    val path = tmp()
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    val truth = probed(path)
    // plan (lazily) BEFORE maintenance — the explicit live-epoch path
    // list is resolved now
    val planned = AnnIndex.probe(spark, path, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    AnnIndex.compact(spark, path, retainRetired = true)
    val fs = hadoopFs(path)
    val gen = genOf(path)
    def retiredCount(): Int = fs.listStatus(
        new Path(s"$path/assignments/gen=$gen"))
      .count(s => s.isDirectory && fs.exists(
        new Path(s.getPath, EpochLayout.RetiredMarker)))
    assert(retiredCount() == 2,
      "both merged epochs must be retained-retired")
    // the PRE-compaction frame executes against its snapshot …
    assert(planned.collect().map(_.toString).sorted.toSeq == truth,
      "a frame planned before compaction must survive it")
    // … and new probes read the merged epoch only — same top-k
    assert(probed(path) == truth)
    // an hour-long grace retains; so does a MIS-SET 1 ms grace while
    // the planned frame's lease (older than the retirement) lives —
    // the ANN probe advertises itself exactly like the dedup twin
    AnnIndex.vacuum(spark, path, olderThanMillis = 3600000L)
    assert(retiredCount() == 2,
      "an hour-long grace must retain just-retired epochs")
    Thread.sleep(30)
    AnnIndex.vacuum(spark, path, olderThanMillis = 1L)
    assert(retiredCount() == 2,
      "a graced vacuum must not reclaim epochs a live lease predates")
    val leases = new Path(path, EpochLayout.ReadersDir)
    assert(fs.exists(leases) && fs.listStatus(leases).nonEmpty)
    // zero grace is the forced path: reclaims regardless of leases
    AnnIndex.vacuum(spark, path)
    assert(epochDirs(path).size == 1,
      "zero-grace vacuum must reclaim every retired epoch")
    assert(probed(path) == truth)
  }

  test("the rename-then-mark commit window is probe-consistent: a " +
      "committed epoch still carrying its _EPOCHS manifest excludes " +
      "the merged epochs from new plans — no double-counted ids — " +
      "and the next compact completes the marking") {
    val path = tmp()
    val fresh = tmp()
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", fresh, nlist = 8)
    AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", fresh)
    val truth = probed(fresh)
    val fs = hadoopFs(path)
    val gen = genOf(path)
    // synthesize the window: a committed merged epoch holding ALL
    // current rows with the manifest still inside (rename done,
    // markers not), the old epochs untouched
    val old = epochDirs(path).map(_.stripPrefix("epoch="))
    assert(old.size == 2)
    val mcStage = new Path(path, "assignments_stage-midcommit")
    spark.read.parquet(s"$path/assignments/gen=$gen")
      .select("id", "v", "cell")
      .repartitionByRange(2, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(mcStage.toString)
    assert(fs.rename(mcStage,
      new Path(s"$path/assignments/gen=$gen/epoch=midcommit")))
    EpochLayout.writeManifest(fs,
      new Path(s"$path/assignments/gen=$gen/epoch=midcommit/_EPOCHS"),
      old.map(e => s"gen=$gen/epoch=$e"))
    // a probe in the window: every merged id exists TWICE on disk —
    // manifest exclusion must keep the top-k exact (a double-counted
    // id would occupy two rank slots)
    assert(probed(path) == truth,
      "the mid-commit window must serve the exact top-k")
    // recovery (any compact) completes the marking and vacuums
    AnnIndex.compact(spark, path)
    assert(epochDirs(path).forall(d => !fs.exists(
      new Path(s"$path/assignments/gen=$gen/$d/_EPOCHS"))))
    assert(probed(path) == truth)
  }

  test("retrain trains from the STORED vectors and equals a fresh " +
      "build over the same rows; the drift reference re-freezes " +
      "(stored corpus scores exactly zero); the old generation is " +
      "reclaimed; probes planned before the retrain survive it when " +
      "retained") {
    val path = tmp()
    val fresh = tmp()
    AnnIndex.build(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    AnnIndex.append(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    val genBefore = genOf(path)
    val preTruth = probed(path)
    // a frame planned before the retrain — with retainRetired the old
    // generation's files survive the pointer swap, so it still serves
    val planned = AnnIndex.probe(spark, path, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    AnnIndex.retrain(spark, path, nlist = 8, retainRetired = true)
    assert(genOf(path) != genBefore,
      "retrain must commit a NEW generation")
    assert(planned.collect().map(_.toString).sorted.toSeq == preTruth,
      "a probe planned before the retrain must survive it (snapshot " +
        "isolation across the pointer swap)")
    // the retrained quantizer equals a fresh build's over the same
    // logical rows (trainOnSample is order-insensitive: hash-filter +
    // id-ordered take), so probes match row for row
    AnnIndex.build(emb, "vec_id", "embedding", fresh, nlist = 8)
    assert(probed(path) == probed(fresh),
      "retrain from stored vectors must equal a fresh build over the " +
        "same rows")
    // moments re-froze: the stored corpus scores exactly zero against
    // the NEW generation's reference
    assert(AnnIndex.driftSince(spark, path, emb, "embedding")
      .head().getAs[Long]("fd_micro") == 0L,
      "the re-frozen reference must score the stored corpus at zero")
    // the old generation was retained (marked) — vacuum reclaims it
    val fs = hadoopFs(path)
    assert(fs.exists(new Path(s"$path/quantizer-$genBefore/" +
      EpochLayout.RetiredMarker)))
    AnnIndex.vacuum(spark, path)
    assert(!fs.exists(new Path(s"$path/quantizer-$genBefore")) &&
      !fs.exists(new Path(s"$path/assignments/gen=$genBefore")),
      "vacuum must reclaim the retired generation as one unit")
    assert(probed(path) == probed(fresh))
    // a retrain at a DIFFERENT nlist re-shapes the index coherently
    AnnIndex.retrain(spark, path, nlist = 4)
    val m = spark.read.parquet(s"${quantDirOf(path)}/meta").head()
    assert(m.getAs[Int]("nlist") == 4)
    assert(probed(path, nprobe = 2).nonEmpty)
  }

  test("the quantizer cache is bounded: repeated retrains evict the " +
      "retired generation's centroids instead of accumulating one " +
      "entry per generation ever served") {
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    assert(probed(path).nonEmpty) // populates the cache for this path
    val size0 = AnnIndex.quantizerCacheSize
    (1 to 3).foreach { _ =>
      AnnIndex.retrain(spark, path, nlist = 8)
      // the probe re-reads the NEW generation's quantizer — the put
      // must REPLACE this path's entry, not add a generation's worth
      // of nlist × dim doubles per retrain (r17 verdict #3)
      assert(probed(path).nonEmpty)
      assert(AnnIndex.quantizerCacheSize == size0,
        "quantizer cache grew across retrains — unbounded in a " +
          "serving JVM with periodic retrains")
    }
  }

  test("a crashed retrain leaves the OLD generation serving (residue " +
      "is retired by recovery, reclaimed by vacuum), and a crashed " +
      "pointer swap finishes from the complete temp") {
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val truth = probed(path)
    val fs = hadoopFs(path)
    val gen = genOf(path)
    // crash BEFORE the pointer swap: a fully-built new generation +
    // committed epoch, never pointed at
    val ghost = "ghostgen"
    fs.mkdirs(new Path(s"$path/quantizer-$ghost"))
    val stage = new Path(path, "assignments_stage-ghost")
    spark.read.parquet(s"$path/assignments/gen=$gen")
      .select("id", "v", "cell").limit(10)
      .write.partitionBy("cell").parquet(stage.toString)
    assert(fs.rename(stage,
      new Path(s"$path/assignments/gen=$ghost/epoch=ghost")))
    assert(probed(path) == truth,
      "a never-committed generation must be invisible to probes")
    AnnIndex.compact(spark, path, retainRetired = true)
    assert(fs.exists(new Path(s"$path/quantizer-$ghost/" +
        EpochLayout.RetiredMarker)),
      "recovery must retire a generation that is neither current nor " +
        "retired")
    AnnIndex.vacuum(spark, path)
    assert(!fs.exists(new Path(s"$path/quantizer-$ghost")) &&
      !fs.exists(new Path(s"$path/assignments/gen=$ghost")))
    assert(probed(path) == truth)
    // an assignments generation with NO quantizer dir (an append that
    // lost the retrain race after the old generation was vacuumed):
    // invisible to probes, young residue survives the age-gated GC,
    // aged residue is reclaimed
    val orphanGen = new Path(s"$path/assignments/gen=orphangen")
    fs.mkdirs(new Path(orphanGen, "epoch=x/cell=0"))
    AnnIndex.compact(spark, path, retainRetired = true)
    assert(fs.exists(orphanGen),
      "young quantizer-less gen residue must survive (age gate)")
    fs.setTimes(orphanGen, System.currentTimeMillis() -
      EpochLayout.OrphanGraceMillis - 60000L, -1)
    AnnIndex.compact(spark, path, retainRetired = true)
    assert(!fs.exists(orphanGen),
      "aged quantizer-less gen residue must be reclaimed")
    assert(probed(path) == truth)
    // crash DURING the pointer swap: pointer deleted, complete temp
    // left — readers fall back to the temp, recovery finishes the
    // rename
    val cur = new Path(path, AnnIndex.CurrentPointer)
    val tmpP = new Path(path, AnnIndex.CurrentPointer + ".tmp")
    val content = EpochLayout.readLines(fs, cur).head
    val out = fs.create(tmpP, true)
    out.write(content.getBytes("UTF-8")); out.close()
    fs.delete(cur, false)
    assert(probed(path) == truth,
      "the temp pointer must serve reads during a crashed swap")
    AnnIndex.vacuum(spark, path)
    assert(fs.exists(cur) && !fs.exists(tmpP),
      "recovery must finish the crashed pointer rename")
  }

  test("driftSince scores a batch against the frozen build-time " +
      "moments: exactly 0 on the training corpus, positive on a " +
      "shifted batch, fail-fast without moments / on scale mismatch, " +
      "and freezeMoments repairs a migrated index") {
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    def fd(batch: org.apache.spark.sql.DataFrame): Long =
      AnnIndex.driftSince(spark, path, batch, "embedding")
        .head().getAs[Long]("fd_micro")
    // same rows -> identical integer registers -> exact zero
    assert(fd(emb) == 0L, "the training corpus must score zero drift")
    // a mean shift is exactly what stale centroids look like
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(3.0)).as("embedding"))
    assert(fd(shifted) > 0L, "a shifted batch must score positive drift")
    // the moments table interops with the streaming scorer (same
    // shape writeReferenceMoments freezes)
    val viaStream = graft.streaming.StreamingEmbedDrift.driftAgainst(
        spark,
        graft.operators.EvalMetrics.vecMoments(
          emb.select(col("embedding").cast("array<double>").as("v")),
          "v"),
        s"${quantDirOf(path)}/moments")
      .head().getAs[Long]("fd_micro")
    assert(viaStream == 0L)
    val se = intercept[IllegalArgumentException] {
      AnnIndex.driftSince(spark, path, emb, "embedding", scale = 512)
    }
    assert(se.getMessage.contains("scale"), se.getMessage)
    // a pre-instrument (or migrated) index names the repair verb
    val fs = hadoopFs(path)
    fs.delete(new Path(s"${quantDirOf(path)}/moments"), true)
    val me = intercept[IllegalArgumentException] {
      AnnIndex.driftSince(spark, path, emb, "embedding")
    }
    assert(me.getMessage.contains("freezeMoments"), me.getMessage)
    AnnIndex.freezeMoments(spark, path)
    assert(fd(emb) == 0L)
  }

  test("a PRESENT but corrupt generation meta fails the probe loudly " +
      "— never a silent contract skip") {
    val path = tmp()
    AnnIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    // corrupt the meta: empty directory (the partial-write shape).
    // The generation layout REQUIRES its meta — absence under a live
    // pointer is corruption, not a legacy downgrade.
    val metaDir = new java.io.File(s"${quantDirOf(path)}/meta")
    metaDir.listFiles.foreach(_.delete())
    intercept[Exception] {
      AnnIndex.probe(spark, path, queries, "vec_id", "embedding",
        k = 3, nprobe = 2).collect()
    }
  }
}
