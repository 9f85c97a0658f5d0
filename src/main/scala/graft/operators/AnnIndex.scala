package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.EpochLayout

/** Persisted IVF index: build ONCE, probe many times — the serving
  * shape a 100 TB vector corpus actually needs. [[SimilaritySearch.ivfTopK]]
  * re-trains its quantizer and re-assigns the whole corpus per call,
  * which is right for one-shot analytics and wrong for a query service;
  * this operator materializes the index as plain parquet tables (no
  * binary sidecar format to version — any engine can read the tree).
  *
  * Layout (v3, generation-versioned — the online-maintenance layout):
  *
  *   <path>/_CURRENT                      the generation pointer (text)
  *   <path>/quantizer-<G>/meta            probe contract (metric, dim, nlist)
  *   <path>/quantizer-<G>/centroids       tiny, nlist rows
  *   <path>/quantizer-<G>/moments         frozen drift reference
  *   <path>/assignments/gen=<G>/epoch=<E>/cell=<K>/…   the corpus
  *
  * A probe resolves `_CURRENT` at PLAN time, reads that generation's
  * quantizer, and scans ONLY the live (non-retired) epoch directories
  * of that generation, pruned to its nprobe cells via the Hive-style
  * `cell` partition column (`PartitionFilters: [cell IN (...)]` — the
  * scan never touches the other nlist − nprobe directories, which is
  * the entire point at 100 TB: disk layout IS the index).
  *
  * SNAPSHOT-ISOLATED maintenance: the [[graft.index.EpochLayout]]
  * lifecycle, extended to the quantizer itself — [[compact]] merges
  * small epochs under it, and [[retrain]] replaces the whole
  * generation the same way one level up, committing by the atomic
  * `_CURRENT` pointer swap. A probe planned at ANY point — before,
  * during, after, or after a CRASH of — a compaction or a retrain
  * serves a consistent index state; `_COMPACTING` guards only
  * un-migrated legacy trees. An append racing a retrain is detected
  * and fails loudly after the fact rather than losing rows silently
  * (see [[append]]).
  *
  * New batches append via [[append]] WITHOUT retraining: vectors are
  * assigned to the current generation's centroids and committed as a
  * fresh epoch by one rename (appends are atomic — a crashed append
  * leaves only an invisible staging dir). Centroid drift under
  * sustained appends is the index's own instrument: [[build]] freezes
  * the training corpus's per-dimension moment registers beside the
  * quantizer, [[driftSince]] scores any incoming batch against them
  * with the diagonal-Fréchet kernel ([[EvalMetrics.fdFromMoments]]) —
  * one |dim|-row aggregation per check — and [[retrain]] is the
  * remedy verb the signal calls for: it re-trains the quantizer FROM
  * THE STORED VECTORS (the assignments table is the corpus — the
  * caller does not need to still hold the original frame), re-assigns,
  * re-freezes the moments, and commits the whole new generation with
  * one pointer rename.
  */
object AnnIndex {

  /** Meta schema version written by [[build]].
    *  - v1 (no meta table): flat `cell=K` dirs — probes work, contract
    *    checks skipped, growth/maintenance require [[rebuildFrom]].
    *  - v2: meta'd, still flat cell dirs — probes check the contract;
    *    maintenance takes the index offline behind a `_COMPACTING`
    *    marker; [[rebuildFrom]] migrates.
    *  - v3: generation-versioned layout (scaladoc above) — online
    *    maintenance. */
  val MetaVersion = 3

  /** The one distance the probe ranks by. Persisted so a future
    * metric variant cannot silently probe a cosine-built index. */
  val Metric = "cosine"

  /** Default quantization scale for the frozen moment registers —
    * [[EvalMetrics.vecMoments]]'s own default, recorded here because
    * the index persists it and [[driftSince]] re-checks it. */
  val MomentScale = 1024

  /** The generation pointer file name. Committed by write-to-temp +
    * rename; readers prefer the pointer and fall back to a complete
    * `.tmp` (the only state a crash between the delete and the rename
    * can leave — the temp is always fully written before the old
    * pointer is touched). */
  val CurrentPointer = "_CURRENT"

  /** LEGACY marker file a pre-generation compaction left at the index
    * root: that protocol moved the only copy of the vectors in place,
    * so probes of an un-migrated legacy tree fail fast on it
    * ([[rebuildFrom]] migrates). */
  val CompactingMarker = "_COMPACTING"

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def quantDir(path: String, gen: String): String =
    s"$path/quantizer-$gen"

  private def genAssignDir(path: String, gen: String): String =
    s"$path/assignments/gen=$gen"

  /** The current generation uuid, or None for a legacy (v1/v2) tree.
    * Package-visible for specs pinning the layout contract. */
  private[graft] def currentGen(fs: FileSystem,
      path: String): Option[String] = {
    val cur = new Path(path, CurrentPointer)
    val tmp = new Path(path, CurrentPointer + ".tmp")
    if (fs.exists(cur)) Some(readPointer(fs, cur))
    else if (fs.exists(tmp)) Some(readPointer(fs, tmp))
    else None
  }

  private def readPointer(fs: FileSystem, p: Path): String = {
    val lines = EpochLayout.readLines(fs, p)
    require(lines.nonEmpty,
      s"empty generation pointer at $p — restore the index tree")
    lines.head
  }

  /** Swap the generation pointer atomically-for-readers: the temp is
    * fully written and closed BEFORE the live pointer is deleted, so
    * every crash point leaves either the old pointer or a complete
    * temp — [[currentGen]]'s fallback order makes both readable, and
    * [[recover]] finishes the rename. */
  private def commitPointer(fs: FileSystem, path: String,
      gen: String): Unit = {
    val cur = new Path(path, CurrentPointer)
    val tmp = new Path(path, CurrentPointer + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    if (fs.exists(cur)) fs.delete(cur, false)
    require(fs.rename(tmp, cur),
      s"failed to commit generation pointer $tmp -> $cur")
  }

  /** Train the coarse quantizer (deterministic bounded sample — the
    * [[SimilaritySearch.ivfTopK]] discipline, same seed ⇒ same cells)
    * and persist the v3 tree: quantizer generation (meta + centroids +
    * frozen moments), one assignments epoch, then the `_CURRENT`
    * pointer LAST — after build returns the index is complete; build
    * itself is an overwrite, not a transaction (a crash mid-build
    * leaves a tree with no pointer, which reads as no index). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16, seed: Long = 42,
      maxTrain: Int = 50000): Unit = {
    val spark = corpus.sparkSession
    val fs = fsFor(spark, path)
    // overwrite: clear every v3 AND legacy artifact a prior index (or
    // a crashed build/maintenance pass) could have left
    Seq("assignments", "meta", "centroids", "moments",
        EpochLayout.ReadersDir)
      .foreach(sub => fs.delete(new Path(s"$path/$sub"), true))
    fs.delete(new Path(path, CurrentPointer), false)
    fs.delete(new Path(path, CurrentPointer + ".tmp"), false)
    fs.delete(new Path(path, CompactingMarker), false)
    Seq("quantizer-*", "assignments_compact-*", "assignments_staging-*",
        "assignments_retrain-*").foreach { pat =>
      EpochLayout.glob(fs, s"$path/$pat")
        .foreach(s => fs.delete(s.getPath, true))
    }
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // the ONE shared training body ([[SimilaritySearch.trainOnSample]]):
    // same inputs ⇒ the index and a live ivfTopK train identical cells
    val centroids = SimilaritySearch.trainOnSample(c, nlist, seed,
      maxTrain)
    val gen = java.util.UUID.randomUUID().toString
    writeQuantizer(spark, path, gen, centroids)
    val epoch = java.util.UUID.randomUUID().toString
    val stage = new Path(path, s"assignments_staging-$epoch")
    // (cell, id) range layout — the [[appendAssigned]] file-count bound
    // applied to the build too: an unplanned partitionBy write mints up
    // to partitions × cells files (512 at the bench fixture's 32 × 16);
    // the range plan bounds it at ~one per input partition
    val nBuild = math.max(1, c.rdd.getNumPartitions)
    assignCells(c, centroids, path).select("id", "v", "cell")
      .repartitionByRange(nBuild, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(stage.toString)
    val epochDir = commitEpoch(fs, path, gen, epoch, stage)
    // drift reference from the PERSISTED epoch rather than another
    // pass over the corpus frame: same rows, and the corpus plan still
    // executes exactly once
    writeMomentsFrom(spark,
      spark.read.parquet(epochDir.toString).select("v"),
      s"${quantDir(path, gen)}/moments", MomentScale)
    commitPointer(fs, path, gen)
  }

  /** The quantizer generation's meta row + centroids table.
    * meta records centroids.length, NOT the requested nlist (r14
    * advice): trainOnSample can return fewer cells than requested on a
    * tiny corpus, and the contract check compares the meta against the
    * STORED centroids. */
  private def writeQuantizer(spark: SparkSession, path: String,
      gen: String, centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    val qd = quantDir(path, gen)
    Seq((MetaVersion, Metric, centroids.head.length, centroids.length))
      .toDF("version", "metric", "dim", "nlist")
      .coalesce(1).write.mode("overwrite").parquet(s"$qd/meta")
    centroids.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$qd/centroids")
  }

  private def writeMomentsFrom(spark: SparkSession, vFrame: DataFrame,
      dest: String, scale: Int): Unit =
    EvalMetrics.vecMoments(vFrame, "v", scale)
      .withColumn("scale", lit(scale))
      .coalesce(1).write.mode("overwrite").parquet(dest)

  /** (Re)freeze the index's drift reference: the per-dimension exact
    * integer moment registers (dim, n, s, ss, scale) of everything
    * CURRENTLY live in the assignments table — the same table shape
    * [[graft.streaming.StreamingEmbedDrift.writeReferenceMoments]]
    * freezes, so either scorer reads either table. Run it after
    * [[rebuildFrom]] on a pre-instrument index, or to reset the
    * baseline deliberately ([[retrain]] re-freezes on its own). Cost:
    * one narrow quantize+posexplode pass over the live assignments and
    * a |dim|-row aggregate. */
  def freezeMoments(spark: SparkSession, path: String,
      scale: Int = MomentScale): Unit = {
    val fs = fsFor(spark, path)
    currentGen(fs, path) match {
      case Some(g) =>
        writeMomentsFrom(spark,
          liveAssignmentsV3(spark, fs, path, g).select("v"),
          s"${quantDir(path, g)}/moments", scale)
      case None =>
        writeMomentsFrom(spark,
          spark.read.parquet(s"$path/assignments").select("v"),
          s"$path/moments", scale)
    }
  }

  /** Score an incoming batch's embedding distribution against the
    * index's frozen build-time moments: the diagonal-Fréchet distance
    * (one row, the [[EvalMetrics.embedFrechetDiag]] output contract —
    * batch is side A, the index reference side B). THIS is the
    * centroid-drift signal the re-train decision needs: ≈ 0 means the
    * batch matches the distribution the quantizer was trained on; a
    * large score means the centroids no longer fit what is being
    * appended and recall under [[probe]] will sag — at which point
    * [[retrain]] is the remedy. Cost is one |dim|-row aggregate over
    * the batch — cheap enough to run on every append. Fails fast when
    * the generation has no moments table (pre-instrument or migrated
    * index → run [[freezeMoments]]) or when `scale` differs from the
    * frozen one (registers in different units are not comparable). */
  def driftSince(spark: SparkSession, path: String, batch: DataFrame,
      vecCol: String, scale: Int = MomentScale): DataFrame = {
    val fs = fsFor(spark, path)
    val momentsPath = new Path(currentGen(fs, path)
      .map(g => s"${quantDir(path, g)}/moments")
      .getOrElse(s"$path/moments"))
    require(fs.exists(momentsPath),
      s"index at $path has no frozen moments — it predates the drift " +
        "instrument (or was migrated): run AnnIndex.freezeMoments to " +
        "establish the reference, then score batches against it")
    val ref = graft.Tables.parquet(spark, momentsPath.toString)
    val storedScale = ref.select("scale").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"moments table at $path is empty — re-run freezeMoments"))
      .getInt(0)
    require(storedScale == scale,
      s"batch quantized at scale=$scale but the index moments were " +
        s"frozen at scale=$storedScale — rebuild one side")
    EvalMetrics.fdFromMoments(
      EvalMetrics.vecMoments(
        batch.select(col(vecCol).cast("array<double>").as("v")),
        "v", scale),
      ref.drop("scale"), scale)
  }

  /** Assign a new batch to the CURRENT generation's centroids and
    * commit it as one fresh epoch — no retrain, no rewrite of other
    * epochs, atomic by rename (a crashed append leaves only an
    * invisible staging dir the grace-gated recovery GC reclaims).
    * A batch whose vectors differ in dimension from the index fails
    * fast per row (the distance would otherwise silently rank on a
    * truncated prefix). Requires the v3 layout — appending an epoch
    * dir beside a legacy tree's flat cell dirs would corrupt partition
    * discovery; migrate with [[rebuildFrom]].
    *
    * Concurrency: appends are legal DURING a [[compact]] (an epoch not
    * in its manifest survives untouched, and the recovery GC's age
    * gate protects the in-flight staging dir), but an append racing a
    * [[retrain]] would land its epoch in the superseded generation —
    * that race is DETECTED after the commit and fails loudly (the
    * stray epoch sits in a retired generation: invisible to probes,
    * reclaimed by vacuum) instead of losing rows silently. Serialize
    * appends with retrain; re-run the append on that error. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    appendAssigned(assigned(batch, idCol, vecCol, path), path)

  /** The (id, v, cell) frame an index write or an existence check
    * needs: vectors routed to their nearest stored centroid —
    * row-local, centroids ride the closure as a broadcast-sized
    * array. Package-visible for
    * [[graft.streaming.StreamingAnnIngest]], whose idempotent append
    * must assign BEFORE writing (the batch's own cells bound its
    * existence scan). */
  private[graft] def assigned(batch: DataFrame, idCol: String,
      vecCol: String, path: String): DataFrame = {
    val centroids = checkedCentroids(batch.sparkSession, path)
    assignCells(batch.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")), centroids, path)
  }

  /** Commit a pre-assigned (id, v, cell) frame as one fresh epoch —
    * the [[append]] tail for callers that already routed (and possibly
    * filtered) the batch. The epoch's file count is bounded at the
    * input partition count by a (cell, id) range partitioning — each
    * output partition spans few cells, so the partitionBy write mints
    * ~one file per partition instead of partitions × cells of them
    * (the [[DedupIndex]] append-time planning lesson at the vector
    * table). */
  private[graft] def appendAssigned(assignedBatch: DataFrame,
      path: String): Unit = {
    val spark = assignedBatch.sparkSession
    val fs = fsFor(spark, path)
    val gen = requireV3(fs, path, "append")
    val epoch = java.util.UUID.randomUUID().toString
    val stage = new Path(path, s"assignments_staging-$epoch")
    val n = math.max(1, assignedBatch.rdd.getNumPartitions)
    assignedBatch.select("id", "v", "cell")
      .repartitionByRange(n, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(stage.toString)
    commitEpoch(fs, path, gen, epoch, stage)
    val after = currentGen(fs, path)
    require(after.contains(gen),
      s"a retrain superseded generation $gen while this append was " +
        s"writing (current: ${after.getOrElse("none")}) — the appended " +
        "epoch landed in the retired generation and is NOT visible to " +
        "probes (vacuum reclaims it). Re-run the append, and serialize " +
        "appends with retrain.")
  }

  private def commitEpoch(fs: FileSystem, path: String, gen: String,
      epoch: String, stage: Path): Path =
    EpochLayout.commit(fs, stage,
      new Path(s"${genAssignDir(path, gen)}/epoch=$epoch"))

  private def requireV3(fs: FileSystem, path: String,
      op: String): String =
    currentGen(fs, path).getOrElse(throw new IllegalArgumentException(
      s"index at $path has the legacy (pre-generation) layout — $op " +
        "needs generation-versioned assignments; migrate with " +
        "AnnIndex.rebuildFrom"))

  private def assignCells(c: DataFrame,
      centroids: Array[Array[Double]], path: String): DataFrame = {
    val dim = centroids.head.length
    val cellUdf = udf { (v: Seq[Double]) =>
      require(v != null && v.length == dim,
        s"vector dim ${if (v == null) "null" else v.length} != index " +
          s"dim $dim (index at $path) — sqDist over mismatched arrays " +
          "would silently rank on a truncated prefix")
      nearestCells(centroids, v, 1).head
    }
    c.withColumn("cell", cellUdf(col("v")))
  }

  /** Read the current generation's centroids ONCE, failing fast when
    * the persisted contract does not match this build of the library
    * (metric) or the stored centroids (dim, nlist — a meta/centroids
    * mismatch means the index tree was hand-edited). Legacy trees
    * without a meta table skip the contract check; callers reuse the
    * returned centroids, so the tiny table is scanned exactly once per
    * operation. */
  /** METADATA cache for the generation-scoped quantizer (centroids +
    * contract check): a generation directory is IMMUTABLE once its
    * pointer commits — every writer mints a fresh uuid dir — so the
    * read can be memoized by generation dir with no invalidation
    * protocol. One probe/append used to pay two Spark jobs (centroids
    * collect + meta head) per call; a serving loop pays them once per
    * generation now. Legacy (pre-generation) trees are mutable in
    * place and are never cached.
    *
    * BOUNDED (r17 verdict #3): keyed by INDEX PATH with the generation
    * dir stored in the value, so putting a new generation's quantizer
    * evicts the retired generation's centroid arrays — a serving JVM
    * with periodic retrains holds exactly one nlist × dim array set
    * per index path instead of one per generation ever served. */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, Array[Array[Double]])]()

  /** Test hook: number of cached quantizer entries. */
  private[graft] def quantizerCacheSize: Int = quantizerCache.size()

  private def checkedCentroids(spark: SparkSession,
      path: String): Array[Array[Double]] = {
    val fs = fsFor(spark, path)
    currentGen(fs, path) match {
      case Some(g) =>
        val qd = quantDir(path, g)
        val cached = quantizerCache.get(path)
        if (cached != null && cached._1 == qd) return cached._2
        val centroids = readCentroidsAt(spark, s"$qd/centroids")
        val m = graft.Tables.parquet(spark, s"$qd/meta").head()
        checkContract(path, centroids, m.getAs[String]("metric"),
          m.getAs[Int]("dim"), m.getAs[Int]("nlist"))
        quantizerCache.put(path, (qd, centroids))
        centroids
      case None =>
        val centroids = readCentroidsAt(spark, s"$path/centroids")
        readMetaOpt(spark, path).foreach { case (metric, dim, nlist) =>
          checkContract(path, centroids, metric, dim, nlist)
        }
        centroids
    }
  }

  private def checkContract(path: String,
      centroids: Array[Array[Double]], metric: String, dim: Int,
      nlist: Int): Unit = {
    require(metric == Metric,
      s"index at $path was built for metric '$metric'; this build " +
        s"ranks by '$Metric'")
    require(centroids.length == nlist && centroids.head.length == dim,
      s"index meta at $path declares dim=$dim nlist=$nlist but the " +
        s"centroids table holds ${centroids.length} cells of dim " +
        s"${centroids.head.length} — the index tree is inconsistent")
  }

  /** v1 (pre-versioned) legacy trees have NO meta directory → None,
    * checks skipped. Anything else that goes wrong reading an EXISTING
    * meta dir — partial write, empty dir, schema drift — is corruption
    * and rethrows: silently skipping the metric/dim/nlist contract on
    * a present-but-broken meta would downgrade a probe against the
    * wrong index into garbage ranks with no error (r12 advice). The
    * existence probe, not exception-class sniffing, draws the line. */
  private def readMetaOpt(spark: SparkSession,
      path: String): Option[(String, Int, Int)] = {
    val metaPath = new Path(s"$path/meta")
    val fs = metaPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath)) None
    else {
      val m = graft.Tables.parquet(spark, s"$path/meta").head()
      Some((m.getAs[String]("metric"), m.getAs[Int]("dim"),
        m.getAs[Int]("nlist")))
    }
  }

  private def readCentroidsAt(spark: SparkSession,
      dir: String): Array[Array[Double]] =
    graft.Tables.parquet(spark, dir)
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)

  private def nearestCells(centroids: Array[Array[Double]],
      v: Seq[Double], n: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (ctr, i) => (i, SimilaritySearch.sqDist(ctr, v.toArray)) }
      .sortBy(_._2).take(n).map(_._1).toSeq

  // ------------------------------------------------------------------
  // live-set resolution (the probe-side half of snapshot isolation)
  // ------------------------------------------------------------------

  /** The live epoch directories of generation `gen`
    * ([[EpochLayout.snapshot]]); manifest lines name `gen=<G>/epoch=<E>`. */
  private def liveEpochDirs(fs: FileSystem, path: String,
      gen: String): Seq[Path] =
    EpochLayout.snapshot(fs, Seq(new Path(genAssignDir(path, gen))),
      _.split("/").last.stripPrefix("epoch=")).live(0)

  private def liveAssignmentsV3(spark: SparkSession, fs: FileSystem,
      path: String, gen: String): DataFrame = {
    val dirs = liveEpochDirs(fs, path, gen)
    require(dirs.nonEmpty,
      s"index at $path has no live assignment epochs under " +
        s"generation $gen — no committed state produces this; restore " +
        "the tree before probing")
    spark.read.option("basePath", s"$path/assignments")
      .parquet(dirs.map(_.toString): _*)
  }

  /** The live (id, v, cell) corpus a plan constructed NOW should scan
    * — explicit live-epoch paths on v3 (so the plan is pinned against
    * concurrent maintenance), the whole flat table on a legacy tree.
    * Package-visible for [[graft.streaming.StreamingAnnIngest]]'s
    * existence check. */
  private[graft] def liveAssignments(spark: SparkSession,
      path: String): DataFrame = {
    val fs = fsFor(spark, path)
    currentGen(fs, path) match {
      case Some(g) => liveAssignmentsV3(spark, fs, path, g)
      case None => spark.read.parquet(s"$path/assignments")
    }
  }

  // ------------------------------------------------------------------
  // maintenance: compact / vacuum / retrain
  // ------------------------------------------------------------------

  /** Compact the current generation's accumulated epochs — every
    * [[append]] (and every [[graft.streaming.StreamingAnnIngest]]
    * micro-batch) commits one, so a month of ingest is thousands of
    * small files every probe must enumerate and open — the classic
    * small-files cliff, repaired WITHOUT taking the index offline.
    * This is the engine's counterpart of the reference's post-ingest
    * maintenance pass (`01_ingest_raw_telemetry.py:141-167` runs
    * ANALYZE + index builds once bulk loading completes), at the
    * vector table.
    *
    * The lifecycle (stage → atomic `_EPOCHS` manifest → rename → mark →
    * graced vacuum under reader leases), the crash-recovery rules and
    * the tiered selection by `maxEpochBytes` are the shared ones in
    * [[graft.index.EpochLayout]]; the default (`Long.MaxValue`) merges
    * everything — the one-shot "defragment this index" verb. What is
    * specific to this index: [[recover]] runs first; only the CURRENT
    * generation's live epochs are merged; the selected epoch dirs are
    * read by explicit path, range-partitioned on (cell, id) to the
    * byte-planned file count and written cell-partitioned to an
    * `assignments_compact-<uuid>` stage whose manifest lines name
    * `gen=<G>/epoch=<E>`, so recovery can tell a stage of a superseded
    * generation (discarded) from one of the current generation
    * (committed). Vectors and cell routes are byte-identical before and
    * after. `retainRetired = true` + a scheduled [[vacuum]](grace ≥
    * the longest probe) is the serving configuration; the default
    * vacuums at once with zero grace. */
  def compact(spark: SparkSession, path: String,
      targetFiles: Int = 0,
      maxEpochBytes: Long = Long.MaxValue,
      retainRetired: Boolean = false): Unit = {
    require(targetFiles >= 0,
      s"targetFiles=$targetFiles must be >= 0 (0 = plan from bytes)")
    require(maxEpochBytes > 0,
      s"maxEpochBytes=$maxEpochBytes must be > 0 " +
        "(Long.MaxValue = merge every epoch)")
    val fs = fsFor(spark, path)
    val gen = requireV3(fs, path, "compact")
    recover(fs, path)
    def finish(): Unit = if (!retainRetired) vacuum(spark, path, 0L)
    val live = liveEpochDirs(fs, path, gen)
    require(live.nonEmpty,
      s"index at $path has no live assignment epochs — nothing to " +
        "compact")
    val selected = EpochLayout.tieredSelect(EpochLayout.sizes(fs, live),
      maxEpochBytes)
    if (selected.isEmpty) { // every epoch already above the tier
      finish()
      return
    }
    val nFiles =
      if (targetFiles > 0) targetFiles
      else EpochLayout.compactionFilesFor(selected.map(_._2).sum)
    // a lone epoch already at plan (floor: one file per cell) stays
    if (selected.length == 1 && EpochLayout.atPlannedFiles(fs,
        new Path(s"${genAssignDir(path, gen)}/epoch=${selected.head._1}"),
        nFiles)) {
      finish()
      return
    }
    val stageUuid = java.util.UUID.randomUUID().toString
    val stage = new Path(path, s"assignments_compact-$stageUuid")
    // range-partition on (cell, id): each output partition spans few
    // cells, so the partitionBy write produces ~nFiles files total
    // while keeping nFiles-way write parallelism. basePath restores
    // the Hive-style partition columns the explicit-path read loses.
    spark.read.option("basePath", s"$path/assignments")
      .parquet(selected.map(e =>
        s"${genAssignDir(path, gen)}/epoch=${e._1}"): _*)
      .select("id", "v", "cell")
      .repartitionByRange(nFiles, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(stage.toString)
    EpochLayout.writeManifest(fs,
      new Path(stage, EpochLayout.EpochsManifest),
      selected.map(e => s"gen=$gen/epoch=${e._1}"))
    commitCompactStage(fs, path, stage)
    finish()
  }

  /** The generation a compact stage's manifest names. */
  private def stageGen(fs: FileSystem, stage: Path): String =
    EpochLayout.readLines(fs, new Path(stage, EpochLayout.EpochsManifest))
      .head.split("/").head.stripPrefix("gen=")

  /** Commit a COMPLETE compact stage (has `_EPOCHS`): rename it in as
    * one new epoch of its generation, then finish the retirement
    * marking. Idempotent: a re-run after any crash point finishes the
    * rename and/or the marking. */
  private def commitCompactStage(fs: FileSystem, path: String,
      stage: Path): Unit = {
    val uuid = stage.getName.stripPrefix("assignments_compact-")
    EpochLayout.commit(fs, stage,
      new Path(s"${genAssignDir(path, stageGen(fs, stage))}/epoch=$uuid"))
    completeRetirement(fs, path)
  }

  /** The `gen=` directories under the assignments table. */
  private def genDirs(fs: FileSystem, path: String): Seq[FileStatus] =
    EpochLayout.children(fs, new Path(s"$path/assignments"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))

  /** Finish any interrupted retirement marking in every generation: a
    * riding manifest names `gen=<G>/epoch=<E>` dirs to retire. */
  private def completeRetirement(fs: FileSystem, path: String): Unit =
    genDirs(fs, path).foreach { gd =>
      EpochLayout.completeRetirement(fs, gd.getPath)(rel =>
        Seq(new Path(s"$path/assignments/$rel")))
    }

  /** Retire every generation that is neither current nor already
    * retired — the uniform crash-residue rule: a superseded generation
    * a crashed retrain never got to mark, AND a never-committed new
    * generation a retrain crashed before pointing at, both become
    * retired (never deleted in place — a reader may hold the former
    * under the vacuum grace; the latter just waits out the same grace,
    * harmlessly). */
  private def retireStaleGens(fs: FileSystem, path: String): Unit =
    currentGen(fs, path).foreach { cur =>
      EpochLayout.glob(fs, s"$path/quantizer-*")
        .filter(_.isDirectory)
        .filter(_.getPath.getName.stripPrefix("quantizer-") != cur)
        .foreach(s => EpochLayout.retire(fs, s.getPath))
    }

  /** Complete or discard residue of any crashed maintenance pass — a
    * no-op on a clean tree, and every interrupted state is
    * probe-consistent MEANWHILE (the snapshot-isolation point):
    *  - a crashed pointer swap finishes (readers were already served
    *    by the complete `.tmp`);
    *  - retrain / append staging dirs past the orphan age gate are
    *    discarded (nothing is retired before their commit points, so
    *    discarding loses nothing; the gate protects an IN-FLIGHT
    *    append's stage from a concurrent compact's recovery);
    *  - a compact stage WITH `_EPOCHS` whose generation is still
    *    current is committed (salvaged); one from a superseded
    *    generation, or without a manifest, is discarded;
    *  - riding `_EPOCHS` manifests finish their retirement marking;
    *  - generations that are neither current nor retired get their
    *    marker. */
  private def recover(fs: FileSystem, path: String): Unit = {
    val cur = new Path(path, CurrentPointer)
    val tmp = new Path(path, CurrentPointer + ".tmp")
    if (!fs.exists(cur) && fs.exists(tmp))
      require(fs.rename(tmp, cur),
        s"failed to finish the crashed pointer swap at $path")
    else if (fs.exists(tmp)) fs.delete(tmp, false)
    val gen = currentGen(fs, path)
    def glob(pattern: String) = EpochLayout.glob(fs, s"$path/$pattern")
    Seq("assignments_retrain-*", "assignments_staging-*")
      .flatMap(glob).filter(EpochLayout.pastOrphanGrace)
      .foreach(s => fs.delete(s.getPath, true))
    glob("assignments_compact-*").foreach { st =>
      if (fs.exists(new Path(st.getPath, EpochLayout.EpochsManifest))) {
        if (gen.contains(stageGen(fs, st.getPath)))
          commitCompactStage(fs, path, st.getPath)
        else fs.delete(st.getPath, true)
      } else if (EpochLayout.pastOrphanGrace(st))
        fs.delete(st.getPath, true)
    }
    completeRetirement(fs, path)
    retireStaleGens(fs, path)
    // an assignments generation with NO quantizer dir can only arise
    // from an append that lost the retrain race after the old
    // generation was already vacuumed (the append re-created the gen
    // dir to land its epoch, then failed loudly) — invisible to every
    // probe (not the current generation) but unreclaimable through
    // the quantizer-marker path. Age-gated like all residue GC.
    val quantGens = glob("quantizer-*")
      .map(_.getPath.getName.stripPrefix("quantizer-")).toSet
    genDirs(fs, path)
      .filter(s => !quantGens(s.getPath.getName.stripPrefix("gen=")) &&
        !gen.contains(s.getPath.getName.stripPrefix("gen=")) &&
        EpochLayout.pastOrphanGrace(s))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Physically delete retired epochs and retired GENERATIONS — the
    * [[graft.index.EpochLayout]] vacuum: a retired directory goes once
    * its marker is older than `olderThanMillis` and no live reader
    * lease predates it (zero grace, the [[compact]] default's internal
    * call, reclaims everything retired). A retired generation reclaims
    * as one unit: its whole assignments subtree plus its quantizer dir.
    * Runs [[recover]] first, so it is safe to call on a crashed tree. */
  def vacuum(spark: SparkSession, path: String,
      olderThanMillis: Long = 0L): Unit = {
    require(olderThanMillis >= 0,
      s"olderThanMillis=$olderThanMillis must be >= 0")
    val fs = fsFor(spark, path)
    requireV3(fs, path, "vacuum")
    recover(fs, path)
    val reclaim = EpochLayout.reclaimable(fs, new Path(path),
      olderThanMillis)
    genDirs(fs, path)
      .flatMap(gd => EpochLayout.epochDirs(fs, gd.getPath))
      .map(_.getPath).filter(reclaim).foreach(fs.delete(_, true))
    EpochLayout.glob(fs, s"$path/quantizer-*")
      .filter(_.isDirectory).map(_.getPath).filter(reclaim)
      .foreach { q =>
        val g = q.getName.stripPrefix("quantizer-")
        fs.delete(new Path(genAssignDir(path, g)), true)
        fs.delete(q, true)
      }
  }

  /** Re-train the quantizer FROM THE STORED VECTORS and commit a whole
    * new generation — the remedy verb [[driftSince]]'s signal calls
    * for. The assignments table IS the corpus, so the caller does not
    * need to still hold the frame the index was built from (the gap
    * the instrument left open: "rebuild" used to mean
    * [[build]](corpus, …)).
    *
    * A retrain is a compaction that also replaces the quantizer, and
    * it commits the same way, one level up:
    *
    *  1. [[recover]], then pin the live epoch set and train fresh
    *     centroids from it ([[SimilaritySearch.trainOnSample]] — the
    *     one shared training body, so retraining over the same logical
    *     rows with the same (nlist, seed) reproduces a fresh build's
    *     quantizer exactly);
    *  2. write the NEW generation's quantizer dir (meta + centroids),
    *     re-assign the pinned rows in one pass to a staged epoch
    *     (byte-planned file count), and re-freeze the moments from the
    *     staged rows — all invisible to readers, who still resolve the
    *     old generation;
    *  3. commit = ONE atomic `_CURRENT` pointer swap: plans
    *     constructed before it keep reading the old generation's
    *     quantizer and epochs (whose files persist until [[vacuum]]'s
    *     grace passes), plans after it read the new — there is no
    *     window where a probe can pair one generation's centroids with
    *     the other's cell routing, which is why the pointer (not the
    *     epoch rename) is the commit point;
    *  4. the old generation is marked retired; `retainRetired = false`
    *     (default) vacuums it immediately — the exclusively-owned
    *     configuration; serving deployments retain + schedule
    *     [[vacuum]](grace).
    *
    * A crash ANYWHERE before step 3 leaves the old generation serving
    * and the half-built new one as residue [[recover]] retires; after
    * step 3, the new generation is live and recovery finishes the
    * marking. Probes are lock-free across the whole verb; appends and
    * other maintenance must serialize with it (an append racing the
    * pointer swap fails loudly — see [[append]]). */
  def retrain(spark: SparkSession, path: String, nlist: Int = 16,
      seed: Long = 42, maxTrain: Int = 50000,
      retainRetired: Boolean = false): Unit = {
    val fs = fsFor(spark, path)
    val gen = requireV3(fs, path, "retrain")
    recover(fs, path)
    val liveDirs = liveEpochDirs(fs, path, gen)
    require(liveDirs.nonEmpty,
      s"index at $path has no live assignment epochs — nothing to " +
        "retrain from")
    val corpus = spark.read.option("basePath", s"$path/assignments")
      .parquet(liveDirs.map(_.toString): _*)
      .select("id", "v")
    val centroids = SimilaritySearch.trainOnSample(corpus, nlist, seed,
      maxTrain)
    val newGen = java.util.UUID.randomUUID().toString
    writeQuantizer(spark, path, newGen, centroids)
    val stage = new Path(path, s"assignments_retrain-$newGen")
    val nFiles = EpochLayout.compactionFilesFor(
      liveDirs.map(d => fs.getContentSummary(d).getLength).sum)
    assignCells(corpus, centroids, path).select("id", "v", "cell")
      .repartitionByRange(nFiles, col("cell"), col("id"))
      .write.partitionBy("cell").parquet(stage.toString)
    // the re-frozen drift reference: after a retrain the stored corpus
    // scores exactly zero against its own new moments by construction
    writeMomentsFrom(spark,
      spark.read.parquet(stage.toString).select("v"),
      s"${quantDir(path, newGen)}/moments", MomentScale)
    commitEpoch(fs, path, newGen,
      java.util.UUID.randomUUID().toString, stage)
    commitPointer(fs, path, newGen)
    EpochLayout.retire(fs, new Path(quantDir(path, gen)))
    if (!retainRetired) vacuum(spark, path, 0L)
  }

  // ------------------------------------------------------------------
  // migration
  // ------------------------------------------------------------------

  /** Migrate a legacy (v1 meta-less or v2 flat-layout) index IN PLACE
    * to the generation-versioned v3 layout — pure file moves plus two
    * tiny metadata writes, never a vector rewrite, at any index size:
    * centroids (and moments, if present) rename into a fresh
    * `quantizer-<G>` dir, the flat `cell=K` dirs rename under ONE
    * `assignments/gen=<G>/epoch=<E>`, the v3 meta is minted from the
    * index's own persisted state (the centroids table defines dim and
    * nlist, and `cosine` is the only metric any build of this library
    * has ever ranked by — a present v2 meta is validated against the
    * centroids first, then dropped), and the `_CURRENT` pointer
    * commits LAST. A crashed legacy-protocol compaction (a
    * `_COMPACTING` marker with an in-place `_FILES` stage) is finished
    * or discarded first under the old protocol's own rules.
    *
    * Migration assumes exclusive access (it is a one-time verb): a
    * probe against a half-moved tree fails loudly, and re-running
    * rebuildFrom finishes the remaining moves — every step is
    * idempotent, keyed to the sole existing quantizer/epoch dir.
    * Pre-instrument indexes migrate without moments;
    * [[freezeMoments]] is the documented repair. */
  def rebuildFrom(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    require(currentGen(fs, path).isEmpty,
      s"index at $path is already generation-versioned — nothing to " +
        "migrate (a crashed maintenance pass recovers on the next " +
        "compact/vacuum call, not here)")
    // finish/discard a crashed LEGACY compaction under the old
    // in-place protocol: a stage with a _FILES manifest is complete
    // (delete manifest files, move stage files in); without one it is
    // residue. Only reachable from pre-v3 trees — v3 never writes
    // _FILES stages.
    EpochLayout.glob(fs, s"$path/assignments_compact-*")
      .foreach { st =>
        if (fs.exists(new Path(st.getPath, "_FILES")))
          legacyCommitAssignmentsStage(fs,
            new Path(s"$path/assignments"), st.getPath)
        else fs.delete(st.getPath, true)
      }
    fs.delete(new Path(path, CompactingMarker), false)
    // the generation uuid: reuse a crashed migration's sole quantizer
    // dir so a re-run finishes the same move plan
    val qdirs = EpochLayout.glob(fs, s"$path/quantizer-*")
      .filter(_.isDirectory)
    require(qdirs.length <= 1,
      s"index at $path has ${qdirs.length} quantizer dirs and no " +
        "generation pointer — not a crashed migration; restore the " +
        "tree")
    val gen = qdirs.headOption
      .map(_.getPath.getName.stripPrefix("quantizer-"))
      .getOrElse(java.util.UUID.randomUUID().toString)
    val qd = quantDir(path, gen)
    if (fs.exists(new Path(s"$path/centroids"))) {
      fs.mkdirs(new Path(qd))
      require(fs.rename(new Path(s"$path/centroids"),
          new Path(s"$qd/centroids")),
        s"rebuildFrom: failed to move the centroids at $path")
    }
    require(fs.exists(new Path(s"$qd/centroids")),
      s"index at $path has no centroids table — not a legacy ANN index")
    val centroids = readCentroidsAt(spark, s"$qd/centroids")
    if (fs.exists(new Path(s"$path/meta"))) {
      // validate a COMPLETE legacy meta against the centroids before
      // dropping it (hand-edit guard); an incomplete mint (no
      // _SUCCESS — the pre-gen rebuildFrom crash state) is residue
      if (fs.exists(new Path(s"$path/meta/_SUCCESS"))) {
        val m = graft.Tables.parquet(spark, s"$path/meta").head()
        checkContract(path, centroids, m.getAs[String]("metric"),
          m.getAs[Int]("dim"), m.getAs[Int]("nlist"))
      }
      fs.delete(new Path(s"$path/meta"), true)
    }
    import spark.implicits._
    Seq((MetaVersion, Metric, centroids.head.length, centroids.length))
      .toDF("version", "metric", "dim", "nlist")
      .coalesce(1).write.mode("overwrite").parquet(s"$qd/meta")
    if (fs.exists(new Path(s"$path/moments"))) {
      if (!fs.exists(new Path(s"$qd/moments")))
        require(fs.rename(new Path(s"$path/moments"),
            new Path(s"$qd/moments")),
          s"rebuildFrom: failed to move the moments at $path")
      else fs.delete(new Path(s"$path/moments"), true)
    }
    // flat cell dirs → one gen/epoch (a re-run reuses the sole
    // existing epoch so every cell lands under the one shared unit)
    val genDir = new Path(genAssignDir(path, gen))
    val existingEpochs = EpochLayout.epochDirs(fs, genDir)
    require(existingEpochs.length <= 1,
      s"index at $path has ${existingEpochs.length} epoch dirs under " +
        "an unfinished migration — not a crashed migration; restore " +
        "the tree")
    val epoch = existingEpochs.headOption
      .map(s => EpochLayout.epochOf(s.getPath))
      .getOrElse(java.util.UUID.randomUUID().toString)
    val cellDirs = EpochLayout.children(fs, new Path(s"$path/assignments"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    if (cellDirs.nonEmpty) {
      val epochDir = new Path(genDir, s"epoch=$epoch")
      fs.mkdirs(epochDir)
      cellDirs.foreach { cd =>
        val dest = new Path(epochDir, cd.getPath.getName)
        require(fs.rename(cd.getPath, dest),
          s"rebuildFrom: failed to move ${cd.getPath} -> $dest")
      }
    }
    commitPointer(fs, path, gen)
  }

  /** Relative `cell=K/<file>` data paths under a flat legacy
    * assignments dir — migration-only (v3 never enumerates this way). */
  private def legacyListCellFiles(fs: FileSystem,
      dir: Path): Seq[String] =
    EpochLayout.children(fs, dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap { cd =>
        EpochLayout.children(fs, cd.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => s"${cd.getPath.getName}/${f.getPath.getName}")
      }.toSeq

  /** Commit a COMPLETE legacy compact stage under the pre-v3 in-place
    * protocol: delete surviving `_FILES`-manifest files, move the
    * stage's part files into the live cell dirs, delete the stage.
    * Reachable only from [[rebuildFrom]] — v3 compaction commits by
    * epoch rename instead of moving files in place. */
  private def legacyCommitAssignmentsStage(fs: FileSystem,
      dir: Path, stage: Path): Unit = {
    val manifest = EpochLayout.readLines(fs, new Path(stage, "_FILES"))
    manifest.foreach { rel =>
      fs.delete(new Path(dir, rel), false)
    }
    legacyListCellFiles(fs, stage).foreach { rel =>
      val dest = new Path(dir, rel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(new Path(stage, rel), dest),
        s"compact: failed to move $rel into $dir")
    }
    fs.delete(stage, true)
  }

  // ------------------------------------------------------------------
  // probe
  // ------------------------------------------------------------------

  /** Probe the persisted index: per query, rank ONLY the rows of its
    * `nprobe` nearest cells — the cell predicate is a partition filter,
    * so unprobed cell directories are never read. Returns
    * (query_id, id, cosine, rank), identical to the live
    * [[SimilaritySearch.ivfTopK]] under the same quantizer.
    *
    * SNAPSHOT-ISOLATED vs maintenance: the plan leaves a reader lease
    * and resolves the current generation and its LIVE epoch set at
    * construction time ([[graft.index.EpochLayout]]), so a frame
    * planned at ANY point before/during/after a compaction or retrain
    * — or after a crash of one — reads a consistent (quantizer,
    * epochs) snapshot and serves the same top-k while the vacuum
    * grace ≥ the longest probe. Legacy (pre-generation)
    * trees keep the old `_COMPACTING` fail-fast: their maintenance
    * moved files in place, so the marker is honest there. */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val fs = fsFor(spark, path)
    val assignedT = currentGen(fs, path) match {
      case Some(g) =>
        // advertise this plan to graced vacuums BEFORE resolving the
        // generation + live epoch set ([[EpochLayout.ReadersDir]]): no
        // file live at our plan time can be reclaimed from under the
        // frame within the lease horizon
        EpochLayout.leaveLease(fs, new Path(path))
        liveAssignmentsV3(spark, fs, path, g)
      case None =>
        val marker = new Path(path, CompactingMarker)
        require(!fs.exists(marker),
          s"legacy index at $path is mid-compaction (or a compaction " +
            "crashed): a probe would race the in-place commit's " +
            "delete-then-move. Migrate with AnnIndex.rebuildFrom for " +
            "online maintenance, or re-run the legacy recovery first.")
        spark.read.parquet(s"$path/assignments")
    }
    val centroids = checkedCentroids(spark, path)
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe $nprobe outside [1, nlist=${centroids.length}]")
    val dim = centroids.head.length
    val q = queries.select(col(qidCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probeUdf = udf { (qv: Seq[Double]) =>
      require(qv != null && qv.length == dim,
        s"query dim ${if (qv == null) "null" else qv.length} != index " +
          s"dim $dim (index at $path)")
      nearestCells(centroids, qv, nprobe)
    }
    val probed = q.withColumn("cell", explode(probeUdf(col("qv"))))
    // static cell list for the partition filter: the probed set is
    // bounded by |queries|·nprobe ≤ nlist distinct cells — a driver
    // collect over the (small) query side, never over the corpus
    val cells = probed.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = assignedT.where(col("cell").isin(cells: _*))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cosine", SimilaritySearch.cosine(col("v"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "id", "cosine", "rank")
  }
}
