package graft.index

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The persisted-index lifecycle both indexes keep their tables under —
  * [[graft.operators.DedupIndex]] (twin `grams` and `bands` tables whose
  * epochs share uuids) and [[graft.operators.AnnIndex]] (one
  * `assignments/gen=<G>` table per quantizer generation). Each operator
  * keeps only its data path; the layout names, the epoch operations and
  * the compaction policy live here, once. Plain functions over a Hadoop
  * `FileSystem`: the callers pass their table directories (and, where
  * their manifest lines are not bare epoch names, a resolver), and
  * nothing here is configurable.
  *
  * Layout: a table directory holds one `epoch=<uuid>` directory per
  * committed write unit (a build, an append, or a compaction's merged
  * output). Every write is additive — no committed file is rewritten in
  * place — so a plan that resolved its epoch set keeps a consistent
  * snapshot for as long as those files exist.
  *
  * The lifecycle of a maintenance pass (the Iceberg/Delta
  * expire-snapshots shape; Lucene's segment commits are the same
  * discipline one level down):
  *
  *  1. stage: the merged copy is written to a stage directory beside the
  *     table (invisible to readers by path);
  *  2. manifest: the epochs it supersedes are written into the stage as
  *     [[EpochsManifest]], ATOMICALLY ([[writeManifest]]: temp +
  *     rename). The manifest IS the stage's completion marker, checked
  *     by existence, so a partial one must never be visible — trusting a
  *     truncated list would leave the unlisted epochs alive beside their
  *     stage copies, serving duplicate rows;
  *  3. rename: the stage renames into the table as one new epoch
  *     ([[commit]]); the manifest rides inside, and from this instant
  *     new plans treat the epochs it names as retired;
  *  4. mark: each superseded epoch gets a [[RetiredMarker]] ([[retire]])
  *     and the manifest is dropped ([[completeRetirement]]). Retirement
  *     is a marker, never a delete, so a plan made before the pass keeps
  *     reading its files. Rename-then-mark is what keeps the window
  *     consistent: marker ∪ riding manifest is the retired set
  *     ([[snapshot]]), so a plan made between the two never reads a
  *     merged row twice;
  *  5. vacuum: retired directories are deleted once their marker is
  *     older than the operator's grace AND no live reader lease predates
  *     it ([[reclaimable]]). The grace is the operator's promise about
  *     the longest-running read; `graft.tools.ProbeGraceBench` measures
  *     its floor (SCALING.md "vacuum-grace floor" table). Zero grace is
  *     the exclusively-owned path (batch pipelines, the streaming
  *     loops): no lease check, everything retired goes.
  *
  * Readers: a probe leaves a lease in [[ReadersDir]] ([[leaveLease]])
  * BEFORE it resolves its live epoch set, then reads the live epoch
  * directories as explicit paths. A plan made at ANY point — before,
  * during, after, or after a crash of, a maintenance pass — reads one
  * consistent epoch set, so probes need no lock; maintenance verbs and
  * appends serialize among themselves.
  *
  * Crash recovery happens on the NEXT maintenance call, and every
  * interrupted state is read consistently meanwhile: a stage with its
  * manifest is committed, one without is discarded; a committed epoch
  * still carrying its manifest finishes its marking. Residue that looks
  * exactly like an in-flight concurrent write (a staging dir, a DedupIndex
  * bands epoch whose grams twin has not landed yet) is reclaimed only
  * once it has sat unmodified for [[OrphanGraceMillis]]
  * ([[pastOrphanGrace]]).
  *
  * Compaction policy: [[tieredSelect]] picks the merge set (size-tiered
  * with promotion), [[compactionFilesFor]] plans the output file count
  * from the merged bytes, and [[atPlannedFiles]] stops a lone epoch that
  * is already compact from being rewritten every cycle. */
object EpochLayout {

  /** Marker file inside a retired epoch (or AnnIndex quantizer
    * generation) directory: its rows live on for plans made before the
    * retirement, every new plan excludes it, and [[reclaimable]] decides
    * when it goes. */
  val RetiredMarker = "_RETIRED"

  /** Directory of reader leases at the index root: every probe touches
    * `_READERS/<uuid>` at plan time, so a graced vacuum can refuse to
    * reclaim a retired directory while any live lease predates its
    * retirement. Leases are best-effort (a read-only filesystem degrades
    * silently to the grace-only contract), cannot be released by the
    * reader (a lazy frame never signals completion), and therefore
    * expire at [[LeaseHorizonMillis]]; vacuum reaps expired ones. */
  val ReadersDir = "_READERS"

  /** The manifest a compaction stage carries: the epochs it supersedes,
    * one per line. Its existence marks the stage complete. */
  val EpochsManifest = "_EPOCHS"

  /** How long a reader lease protects its plan-time snapshot. Probes
    * running longer than this are out of contract (set the vacuum grace
    * above their duration instead). */
  val LeaseHorizonMillis: Long = 24L * 3600 * 1000

  /** How long crash residue must sit unmodified before recovery treats
    * it as residue rather than an in-flight write. A live write closes
    * its gap in seconds (one rename after its stage is written); an hour
    * of silence is residue. */
  val OrphanGraceMillis: Long = 60L * 60 * 1000

  /** How many bytes of source data one compacted file should hold — the
    * parquet sweet spot: big enough that footer/rowgroup overhead and
    * open() costs amortize, small enough that one file is one
    * sanely-sized task on read-back. */
  val CompactionFileBytes: Long = 256L * 1024 * 1024

  // ------------------------------------------------------------------
  // epochs
  // ------------------------------------------------------------------

  /** The entries directly under `dir`; empty when it does not exist. */
  private[graft] def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try Option(fs.listStatus(dir)).map(_.toSeq).getOrElse(Seq.empty)
    catch { case _: FileNotFoundException => Seq.empty }

  /** The entries matching a glob — stage directories beside a table. */
  private[graft] def glob(fs: FileSystem, pattern: String): Seq[FileStatus] =
    Option(fs.globStatus(new Path(pattern))).map(_.toSeq).getOrElse(Seq.empty)

  /** The uuid of an `epoch=<uuid>` directory. */
  def epochOf(dir: Path): String = dir.getName.stripPrefix("epoch=")

  /** The `epoch=` directories of one table directory. */
  def epochDirs(fs: FileSystem, table: Path): Seq[FileStatus] =
    children(fs, table).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("epoch="))

  /** Epoch directories as a plan made now sees them: each table's
    * listing, taken once, and the retired set across all of them. */
  final case class Snapshot(tables: Seq[Seq[FileStatus]],
      retired: Set[String]) {
    /** Table `i`'s live (non-retired) epoch directories. */
    def live(i: Int): Seq[Path] =
      tables(i).map(_.getPath).filterNot(p => retired(epochOf(p)))
  }

  /** List `tables`' epoch directories once each and resolve the retired
    * set: every epoch carrying a [[RetiredMarker]] in any of them, plus
    * every epoch named by a manifest riding in the FIRST table (where
    * compactions commit). `resolve` maps a manifest line to the epoch
    * uuid it names. */
  def snapshot(fs: FileSystem, tables: Seq[Path],
      resolve: String => String = identity): Snapshot = {
    val dirs = tables.map(epochDirs(fs, _))
    val byMarker = dirs.flatten.map(_.getPath)
      .filter(d => fs.exists(new Path(d, RetiredMarker))).map(epochOf)
    val byManifest = dirs.headOption.toSeq.flatten.flatMap { d =>
      val m = new Path(d.getPath, EpochsManifest)
      if (fs.exists(m)) readLines(fs, m).map(resolve) else Seq.empty
    }
    Snapshot(dirs, (byMarker ++ byManifest).toSet)
  }

  /** (uuid, bytes) of each directory, smallest first — the input
    * [[tieredSelect]] expects. */
  def sizes(fs: FileSystem, epochs: Seq[Path]): Seq[(String, Long)] =
    epochs.map(d => (epochOf(d), fs.getContentSummary(d).getLength))
      .sortBy(_._2)

  /** Mark a directory retired (idempotent; a missing one is skipped). */
  def retire(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir)) {
      val marker = new Path(dir, RetiredMarker)
      if (!fs.exists(marker)) fs.create(marker, false).close()
    }

  /** Rename a complete stage into its table as `dest` — the commit point
    * of a write (step 3 above). */
  def commit(fs: FileSystem, stage: Path, dest: Path): Path = {
    fs.mkdirs(dest.getParent) // a first write: the table may not exist yet
    require(fs.rename(stage, dest), s"failed to commit $stage -> $dest")
    dest
  }

  /** Finish any interrupted marking (step 4 above): for each epoch of
    * `table` still carrying its manifest, retire every directory
    * `targets` maps a manifest line to, then drop the manifest. New
    * plans already treat manifest-named epochs as retired, so the window
    * needs no lock. */
  def completeRetirement(fs: FileSystem, table: Path)(
      targets: String => Seq[Path]): Unit =
    epochDirs(fs, table).foreach { d =>
      val manifest = new Path(d.getPath, EpochsManifest)
      if (fs.exists(manifest)) {
        readLines(fs, manifest).flatMap(targets).foreach(retire(fs, _))
        fs.delete(manifest, false)
      }
    }

  /** Whether residue has sat unmodified past [[OrphanGraceMillis]]. */
  def pastOrphanGrace(st: FileStatus): Boolean =
    st.getModificationTime <=
      System.currentTimeMillis() - OrphanGraceMillis

  // ------------------------------------------------------------------
  // manifests
  // ------------------------------------------------------------------

  /** Write a manifest ATOMICALLY: full content to `<name>.tmp`, then
    * rename into place, so a crash mid-write leaves a `.tmp` recovery
    * ignores, never a partial manifest recovery would trust. */
  def writeManifest(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(p.getParent, s"${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, p), s"failed to commit manifest $tmp -> $p")
  }

  /** The non-blank, trimmed lines of a small text file. */
  def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8").split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  // ------------------------------------------------------------------
  // reader leases and vacuum
  // ------------------------------------------------------------------

  /** Advertise a reader whose plan is being constructed NOW under the
    * index root — best-effort: on a filesystem this process cannot write
    * to, the probe still works under the grace-only contract. */
  def leaveLease(fs: FileSystem, root: Path): Unit =
    try {
      val dir = new Path(root, ReadersDir)
      fs.mkdirs(dir)
      fs.create(new Path(dir, java.util.UUID.randomUUID().toString),
        false).close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The oldest LIVE lease's plan time (None when no reader is
    * advertised), reaping expired leases on the way. */
  private def oldestLiveLease(fs: FileSystem, root: Path): Option[Long] = {
    val horizon = System.currentTimeMillis() - LeaseHorizonMillis
    val (expired, live) = children(fs, new Path(root, ReadersDir))
      .filter(_.isFile).partition(_.getModificationTime < horizon)
    expired.foreach { l =>
      try fs.delete(l.getPath, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    if (live.isEmpty) None else Some(live.map(_.getModificationTime).min)
  }

  /** The vacuum test both operators apply (step 5 above): a directory is
    * reclaimable when it carries a [[RetiredMarker]] at least
    * `olderThanMillis` old and every live lease under `root` was taken
    * after that marker. Zero grace ignores leases: the owner's own
    * probes leave leases behind that must not wedge its maintenance
    * loop. Build it after recovery has finished its marking, so markers
    * recovery just wrote fall inside a zero grace. */
  def reclaimable(fs: FileSystem, root: Path,
      olderThanMillis: Long): Path => Boolean = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val oldestLease =
      if (olderThanMillis == 0) None else oldestLiveLease(fs, root)
    dir => {
      val marker = new Path(dir, RetiredMarker)
      fs.exists(marker) && {
        val mt = fs.getFileStatus(marker).getModificationTime
        mt <= cutoff && oldestLease.forall(_ > mt)
      }
    }
  }

  // ------------------------------------------------------------------
  // compaction policy
  // ------------------------------------------------------------------

  /** Size-tiered merge selection with promotion. `stats` is (epoch,
    * bytes) sorted by bytes ascending ([[sizes]]); the merge set is every
    * epoch at or under `maxEpochBytes`, plus larger epochs absorbed
    * smallest-first while the aggregate has grown past each one's size.
    * Empty when nothing is under the tier. The two rules together bound
    * both costs a maintenance policy must bound:
    *  - lifetime I/O: a loop that rewrites everything every N batches
    *    re-reads the whole corpus per cycle — O(corpus²/batch) over the
    *    index's life. Under the tier a byte is rewritten only while its
    *    epoch is small; under promotion a large epoch is rewritten only
    *    when roughly its own size in new data has accumulated, so each
    *    byte is rewritten O(log(corpus/batch)) times in total;
    *  - epoch count: a tier WITHOUT promotion parks a fresh ~tier-sized
    *    epoch each time the merge output outgrows the threshold (~400 k
    *    epochs at 100 TB with a 256 MB tier); promotion folds them
    *    geometrically, so live epochs stay O(log(corpus/tier)) plus the
    *    unmerged tail.
    * `Long.MaxValue` merges everything — the one-shot defragment. */
  def tieredSelect(stats: Seq[(String, Long)],
      maxEpochBytes: Long): Seq[(String, Long)] = {
    val (tier, rest) = stats.partition(_._2 <= maxEpochBytes)
    if (tier.isEmpty) Seq.empty
    else {
      var agg = tier.map(_._2).sum
      val promoted = rest.takeWhile { case (_, bytes) =>
        val in = bytes <= agg
        if (in) agg += bytes
        in
      }
      tier ++ promoted
    }
  }

  /** Plan a compacted file count from the data's real byte size:
    * ⌈bytes / [[CompactionFileBytes]]⌉, min 1. At a 100 TB table this
    * yields ~400 k files and the same rewrite parallelism, where any
    * constant would produce TB-sized files AND collapse the rewrite to
    * that many tasks. */
  def compactionFilesFor(totalBytes: Long): Int = {
    require(totalBytes >= 0, s"totalBytes=$totalBytes must be >= 0")
    ((totalBytes + CompactionFileBytes - 1) / CompactionFileBytes)
      .max(1L).min(Int.MaxValue.toLong).toInt
  }

  /** Data (non-underscore, non-dot) files anywhere under `dir` —
    * partitioned tables nest them in value subdirectories. 0 for a
    * missing dir. */
  private def dataFileCount(fs: FileSystem, dir: Path): Int =
    children(fs, dir).map { s =>
      if (s.isDirectory) dataFileCount(fs, s.getPath)
      else if (!s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")) 1
      else 0
    }.sum

  /** Whether the epoch at `dir` already holds no more data files than
    * `planned`, or than its partition-value subdirectories (one file per
    * value is the floor no rewrite can go under). A lone epoch that
    * passes is not merged with itself: that would rewrite the same bytes
    * every maintenance cycle — the exact cost the tier exists to avoid. */
  def atPlannedFiles(fs: FileSystem, dir: Path, planned: Int): Boolean = {
    val partitions = children(fs, dir).count(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith("."))
    dataFileCount(fs, dir) <= math.max(planned, partitions)
  }
}
