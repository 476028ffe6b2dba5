package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.collection.mutable

/** One committed write on the table timeline.
  *
  * Reproduces the reference's Hudi commit-timeline semantics
  * (`glue/HudiJarGlueJob.py:80` consistency check, `:83` cleaner policy):
  * a snapshot is the union of `adds` of all commits minus all `removes`.
  *
  * @param adds  files written by this commit, with their partition value
  *              (string-rendered, as Spark wrote the directory)
  * @param removes files superseded by this commit (full paths)
  * @param schemaJson Spark StructType JSON of the table at commit time —
  *              lets an empty snapshot still produce a typed DataFrame
  */
final case class Commit(
    id: Long,
    op: String,
    tsMillis: Long,
    schemaJson: String,
    adds: Seq[FileAdd],
    removes: Seq[String],
    /** caller-supplied commit metadata (Delta commitInfo role): small
      * string key-values that must travel ATOMICALLY with the commit —
      * e.g. the source commit a materialized aggregate's refresh merge
      * applied. Jackson yields null for pre-upgrade JSONs — read via
      * [[Commit.metadata]]. */
    meta: Map[String, String] = Map.empty,
    /** multi-table transaction id ([[GraftTxn]]) — set on commits staged
      * by a transaction, null on ordinary commits (and every pre-upgrade
      * JSON). A staged commit file (`<id>.json.txn`) is INVISIBLE to
      * every resolution until the transaction's coordinator decision
      * commits it, at which point the sweep renames it into the live
      * listing at its original id. */
    txn: String = null,
    /** coordinator directory holding this transaction's decision marker
      * — recorded IN the commit so any process can resolve it */
    txnCoord: String = null) {
  /** null-safe accessor for commit JSONs written before `meta` existed */
  def metadata: Map[String, String] = Option(meta).getOrElse(Map.empty)
}

/** kind: "base" (fully merged file) or "delta" (MoR append, merged at
  * read time). Jackson yields null for files written before the field
  * existed — treat as base via [[FileAdd.isDelta]].
  *
  * kmin/kmax: `_record_key` min/max of the file, lifted from the parquet
  * footer at commit time (Hudi bloom-index-style pruning metadata) —
  * null when unavailable, which simply exempts the file from pruning.
  *
  * cmin/cmax: per-column min/max for the table's configured `statsCols`
  * (Hudi column-stats-index role): string-rendered raw parquet footer
  * values, compared type-aware at prune time. A column absent from the
  * maps has no recorded stats and never prunes the file.
  */
final case class FileAdd(
    path: String, partition: String, kind: String = "base",
    kmin: String = null, kmax: String = null,
    cmin: Map[String, String] = Map.empty,
    cmax: Map[String, String] = Map.empty,
    /** file length in bytes (0 = unrecorded, pre-upgrade commit JSON) */
    bytes: Long = 0L,
    /** footer row count (0 = unrecorded: pre-upgrade commit JSON or an
      * unreadable footer — safe because the empty-batch guard means no
      * 0-row file is ever committed). Lets snapshot row counts answer
      * from the log alone (Delta's numRecords / Hudi's commit-metadata
      * counts): at 100 TB a `count(*)` must not scan data. */
    rows: Long = 0L,
    /** true = a `_record_key` bloom sidecar was written next to this
      * file at commit time (LakeTableConfig.bloomKeys); probes consult
      * it after the key-range check. false / missing (pre-upgrade JSON)
      * simply exempts the file from bloom pruning. */
    bloom: Boolean = false,
    /** columns with a per-file VALUE bloom in the `.bfm` sidecar
      * (LakeTableConfig.bloomCols — Delta's bloom-filter-index role for
      * arbitrary columns). null/missing (pre-upgrade JSON) = none. */
    cblooms: Seq[String] = null,
    /** per-file EXACT column sums (LakeTableConfig.sumCols): decimal
      * strings of the sum over the file's non-null values, computed at
      * commit time — the fact that lets a global SUM answer from the
      * commit log alone. null/missing = not recorded. */
    csum: Map[String, String] = null,
    /** per-file NON-NULL value counts for sumCols — SUM over zero
      * non-null rows is NULL, and only the count can prove which. */
    cnn: Map[String, Long] = null,
    /** partition-spec id the file was written under (index into the
      * table's spec history — Iceberg per-file spec-id role). 0 (and
      * missing in pre-upgrade JSONs) = the table's original spec; files
      * keep their layout across spec evolution and every partition-
      * tuple comparison dispatches on this id. */
    spec: Int = 0,
    /** deletion-vector sidecar only (kind == "dv"): the data file whose
      * row positions this DV tombstones. null for data files. Live DVs
      * are removed alongside their target (writeCommit's central rule),
      * superseded DV files are physically swept by the cleaner like any
      * removed file. */
    target: String = null) {
  def isDelta: Boolean = kind == "delta"
  def isDv: Boolean = kind == "dv"
  def hasKeyRange: Boolean = kmin != null && kmax != null
  /** null-safe accessors: commit JSONs written before the field existed
    * deserialize with null maps */
  def colMin: Map[String, String] = Option(cmin).getOrElse(Map.empty)
  def colMax: Map[String, String] = Option(cmax).getOrElse(Map.empty)
  def colBlooms: Seq[String] = Option(cblooms).getOrElse(Seq.empty)
  def colSum: Map[String, String] = Option(csum).getOrElse(Map.empty)
  /** Jackson erases Map[String, Long] and boxes small JSON numbers as
    * Integer — coerce through Number or the first deserialized commit
    * throws ClassCastException on access */
  def colNonNull: Map[String, Long] =
    Option(cnn).getOrElse(Map.empty)
      .asInstanceOf[Map[String, Any]] // widen BEFORE touching values —
      // a typed destructure would itself unbox (and throw) right here
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
}

/** Optimistic-concurrency arbitration failure: the timeline moved (or
  * the resolved id was taken/retired) between snapshot resolution and
  * publish. Subtype of IllegalStateException so callers that treated the
  * old untyped failures as fatal still do; [[graft.lake.LakeTable]]
  * catches it specifically to attempt a disjoint-writer rebase.
  */
final class CommitConflict(msg: String) extends IllegalStateException(msg)

/** Materialized snapshot state as of commit `id` (Delta's parquet
  * checkpoint / Hudi's metadata-table role, in the log's own JSON):
  * everything a reader needs to resolve snapshots at-or-after `id`
  * without replaying the timeline from commit 0. A PURE ACCELERATOR —
  * deleting every checkpoint changes no result, only cold-read I/O,
  * which drops from O(timeline) commit-JSON opens to O(commits since
  * the last checkpoint) + 1.
  *
  * @param id         commit the state is materialized as of (inclusive)
  * @param schemaJson table schema as of `id` (the last commit's)
  * @param schemas    distinct FILE schemas among `live` (schema
  *                   evolution: each live file reads with the schema its
  *                   add-commit recorded — see [[Snapshot.pathSchemas]])
  * @param live       live file set as of `id`, in replay order (the
  *                   LinkedHashMap order a full replay produces, so
  *                   checkpointed and replayed resolution are
  *                   indistinguishable, ordering included)
  * @param schemaIdx  per `live` entry, index into `schemas`
  */
final case class Checkpoint(
    id: Long,
    schemaJson: String,
    schemas: Seq[String],
    live: Seq[FileAdd],
    schemaIdx: Seq[Int])

/** One resolved version of a table ([[CommitLog.snapshot]]), immutable:
  * an operation resolves each version it reads exactly once and hands
  * this value to every helper below it, so it can never mix versions.
  *
  * @param id          the resolved commit id; None on an empty table
  * @param files       live DATA files (base + delta), in replay order
  * @param dvs         live deletion-vector sidecars, in replay order
  * @param schemaJson  table schema as of `id` (the last commit's)
  * @param pathSchemas `path -> schemaJson of its add-commit` for every
  *                    live file — the FILE schema a reader adapts from
  * @param nextId      the id a commit based on this snapshot publishes
  *                    at: one past every visible, rolled-back, staged
  *                    and archived id of the SAME listing that resolved
  *                    `id`, so a writer never picks its id before its base
  */
final case class Snapshot(
    id: Option[Long],
    files: Seq[FileAdd],
    dvs: Seq[FileAdd],
    schemaJson: Option[String],
    pathSchemas: Map[String, String],
    nextId: Long) {
  /** the full live set, DVs included — checkpoints, clones and savepoint
    * pins must cover DV sidecars or travel/clean would lose them */
  def all: Seq[FileAdd] = files ++ dvs
}

/** A compacted run of archived commits (Hudi timeline-archival role,
  * the companion of `KEEP_LATEST_COMMITS` the reference relies on —
  * `glue/HudiJarGlueJob.py:83`): commits whose snapshots fell below the
  * travel horizon, moved out of the live `_log/` listing into one file
  * per run of `segmentSize`. Content is preserved verbatim — history,
  * change-tails and audits still read archived commits — but snapshot
  * TRAVEL to them refuses (their superseded files were already
  * physically cleaned, so the snapshot was unreconstructable anyway).
  *
  * @param from lowest commit id in the segment (filename-visible, so
  *             lookup never opens a segment that cannot contain the id)
  * @param to   highest commit id in the segment
  */
/** one listing of a commit log's `_log` directory, parsed into its id
  * spaces: visible commits, rolled-back ids, staged transaction commits
  * and checkpoints */
private final case class LogScan(visible: Seq[Long], rolled: Seq[Long],
    staged: Seq[Long], ckpts: Seq[Long])

final case class ArchiveSegment(from: Long, to: Long, commits: Seq[Commit])

/** The OCC arbitration primitive: publish `tmp` at `dst` ATOMICALLY,
  * failing (false) when `dst` already exists. Every commit-log safety
  * argument — two same-id writers resolving one winner, retired-id
  * non-reuse, tag immutability — rests on this being a true
  * create-if-absent: a last-writer-wins rename would silently OVERWRITE
  * the winner and drop its commit.
  *
  * Implementations for stores without an atomic create must route
  * through whatever conditional primitive the store has — S3
  * `If-None-Match: *` conditional PUT, GCS `ifGenerationMatch=0`,
  * Azure lease/ETag — or an external lock service (the Hudi
  * lock-provider role). An implementation that cannot guarantee the
  * contract must NOT return true on a lost race; there is no safe
  * fallback, only a documented unsafe one (see
  * [[CommitStore.Filesystem]]'s rename path).
  */
trait CommitStore {
  /** atomically publish `tmp` as `dst`; false = `dst` already existed
    * (the caller loses the race and must re-resolve) */
  def publishAtomic(fs: FileSystem, tmp: Path, dst: Path): Boolean
}

object CommitStore {
  /** Default store: POSIX hard link on `file://` — link(2) fails with
    * EEXIST where rename(2) would silently overwrite — and
    * no-overwrite rename on HDFS-like filesystems. Mounts without
    * hard-link support (FAT/some NFS/FUSE) fall back to rename with
    * only the racing-writer guard weakened (documented). */
  object Filesystem extends CommitStore {
    override def publishAtomic(fs: FileSystem, tmp: Path, dst: Path): Boolean =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case e @ (_: UnsupportedOperationException |
                    _: java.nio.file.FileSystemException) =>
            // either a mount without hard-link support (fall back to
            // rename; only the racing-writer guard is weakened there)
            // or a real I/O error. Disambiguate: a loser whose EEXIST
            // surfaced oddly sees dst present; a rename failure after
            // a non-EEXIST link error is a real error and must not
            // masquerade as a writer conflict.
            if (fs.exists(dst)) false
            else if (fs.rename(tmp, dst)) true
            else throw new java.io.IOException(
              s"failed to publish $dst", e)
        }
      else fs.rename(tmp, dst) // HDFS-like rename is no-overwrite
  }
}

/** JSON commit log under `<root>/_log/`. Single-writer (matches the
  * reference's `MaxConcurrentRuns: 1`, `cloud_formation/HudiGlueJobCFn.yml:35`).
  * Crash safety: data files are written BEFORE the commit JSON, and the
  * JSON appears atomically (temp file + rename), so a crashed write leaves
  * only invisible orphan files — never a partial snapshot.
  *
  * Scale note: the log holds file-level METADATA only (one JSON per commit);
  * snapshot resolution never lists the filesystem, so reads stay O(live
  * files) in memory and O(commits) in I/O — the same reason Hudi keeps a
  * timeline instead of trusting S3 listings. `checkpointEvery` > 0
  * additionally materializes the live set every N commits
  * ([[Checkpoint]]), so a COLD reader's first resolution is O(N) commit
  * opens instead of O(timeline) — on a years-old 100 TB table the
  * difference between one metadata round-trip batch and tens of
  * thousands. 0 = never write checkpoints (existing ones are still
  * read: the policy is a writer knob, the files are the contract).
  */
final class CommitLog(root: String, hadoopConf: Configuration,
    val checkpointEvery: Int = 0,
    /** atomic-publish primitive ([[CommitStore]]): the default
      * filesystem impl covers file:// and HDFS-like stores; object
      * stores without conditional put plug their primitive in here */
    store: CommitStore = CommitStore.Filesystem) {
  private val logDir = new Path(root, "_log")

  /** Data files under this table's root are OWNED; a shallow clone's
    * first commit references files under another table's root
    * (borrowed). Physical maintenance — clean, rollback, restore — must
    * only ever delete owned files: deleting a borrowed file would
    * corrupt the source table the clone was taken from.
    */
  private lazy val rootStr = fs.makeQualified(new Path(root)).toString
  private def owned(p: String): Boolean = {
    val q = fs.makeQualified(new Path(p)).toString
    q == rootStr || q.startsWith(rootStr + "/")
  }
  private def fs: FileSystem = LocalFs.of(logDir, hadoopConf)

  // tolerate unknown fields: case-class getters (e.g. FileAdd.isDelta)
  // serialize as extra properties, and future log versions may add fields
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def commitPath(id: Long) = new Path(logDir, f"$id%08d.json")

  def exists: Boolean = fs.exists(logDir) && listIds.nonEmpty

  /** ONE directory listing parsed into visible commit ids, rolled ids,
    * staged txn ids and checkpoint ids, with the staged-materialization
    * sweep applied first when a FOREIGN staged name shows up — every
    * id-space consumer (listIds/nextId/tailableHead/snapshot) shares
    * this so no path pays extra metadata round-trips for the
    * transaction machinery or the checkpoints. A txn handle's
    * OWN undecided staging is exempt from the sweep trigger — its
    * timeline includes those ids anyway, and sweeping them would pay one
    * coordinator round-trip per resolution. */
  private def scanLog(): LogScan = {
    if (!fs.exists(logDir)) return LogScan(Seq.empty, Seq.empty, Seq.empty, Seq.empty)
    var names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
    // staged transaction commits are RARE: the name scan below is free
    // on the listing we already paid for, and the sweep (coordinator
    // check + rename/retire) runs only while a transaction is in flight
    def foreign(n: String): Boolean = n.endsWith(".json.txn") &&
      (staging.isEmpty ||
        !ownStaged.contains(n.stripSuffix(".json.txn").toLong))
    if (names.exists(foreign) && sweepStaged(names.filter(foreign)))
      names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
    // the archive boundary rides the same listing ([[archiveUpTo]] is
    // part of every next id)
    archCache = archRangesIn(names)
    val visible = names
      .filter(_.matches("\\d{8,}\\.json")) // %08d emits 9+ digits past 10^8 — keep them visible
      .map(_.stripSuffix(".json").toLong)
    val rolled = names.filter(_.matches("rolled-\\d{8,}"))
      .map(_.stripPrefix("rolled-").toLong)
    val staged = names.filter(_.matches("\\d{8,}\\.json\\.txn"))
      .map(_.stripSuffix(".json.txn").toLong)
    LogScan(visible, rolled, staged, ckptIdsIn(names))
  }

  private def listIds: Seq[Long] = timeline(scanLog().visible)

  /** the ids a resolution sees among `visible`: read-your-writes INSIDE
    * a transaction — the txn's own handle (and only it) resolves its own
    * staged commits as part of the timeline, so a second write in the
    * same transaction merges from a snapshot that includes the first.
    * Every other reader stays blind until decide. */
  private def timeline(visible: Seq[Long]): Seq[Long] =
    (if (staging.isDefined) visible ++ ownStagedSeq else visible).sorted

  /** one past every id of one listing: staged transaction ids are
    * allocated too (a parallel writer must not land on one — the
    * materialization rename targets that id), rolled-back ids are
    * retired, and the archived range is retired wholesale */
  private def nextIdOf(visible: Seq[Long], rolled: Seq[Long],
      staged: Seq[Long]): Long =
    (visible ++ rolled ++ staged :+ archiveUpTo).max.max(-1L) + 1

  // ---- multi-table transactions (GraftTxn): staged commits ------------
  // A transactional write stages its commit as `<id>.json.txn` — the id
  // is ALLOCATED (nextId counts it, OCC treats it as intervening) but
  // the commit is invisible to every resolution until the transaction's
  // single coordinator decision marker commits it; then any process's
  // next listing renames it into the live sequence at its original id
  // (commit → atomic; abort → the id retires like a rollback). Ids
  // assigned at stage time keep tails/CDF ordering sound: the tailable
  // head is capped below the first staged id so no consumer can pass an
  // undecided commit and later miss it.

  /** When set, [[append]] STAGES commits for this (txnId, coordinator
    * dir) instead of publishing them — [[GraftTxn]]'s enlistment hook. */
  @volatile private[graft] var staging: Option[(String, String)] = None

  /** ids THIS instance staged (the txn handle is its txn's only stager
    * on this log): folded into the handle's own timeline resolution for
    * within-txn read-your-writes */
  private val ownStaged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def ownStagedSeq: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    ownStaged.asScala.toSeq
  }

  private def stagedPath(id: Long) =
    new Path(logDir, f"$id%08d.json.txn")

  /** ids of staged (undecided) transaction commits */
  private[graft] def stagedIds: Seq[Long] = scanLog().staged.sorted

  /** the staged commits themselves (OCC rebase needs their partitions).
    * NOT memoized in `parsed`: a staged id only becomes immutable once
    * decided — an aborted id retires and its JSON vanishes. */
  private[graft] def stagedCommits: Seq[Commit] =
    stagedIds.flatMap { id =>
      scala.util.Try {
        val in: java.io.InputStream = fs.open(stagedPath(id))
        try mapper.readValue(in, classOf[Commit]) finally in.close()
      }.toOption
    }

  /** smallest staged id, if any — every forward-progress boundary
    * (checkpoint, archive, clean cutoff, tailable head) caps below it */
  private[graft] def stagedFloor: Option[Long] = stagedIds.headOption

  /** the highest commit id incremental consumers (tails, CDF) may serve:
    * the head, capped below any undecided staged commit so a commit can
    * never materialize BEHIND an already-served offset */
  def tailableHead: Option[Long] = {
    val LogScan(visible, _, staged, _) = scanLog() // ONE listing for head + floor
    val l = visible.maxOption
    staged.minOption match {
      case Some(f) => l.map(math.min(_, f - 1)).filter(_ >= 0)
      case None => l
    }
  }

  /** ids THIS handle staged, as a set snapshot ([[GraftTxn]] savepoints) */
  private[graft] def ownStagedIds: Set[Long] = ownStagedSeq.toSet

  /** Retract a subset of this handle's OWN staged (undecided) commits —
    * the partial-rollback primitive behind transaction savepoints
    * ([[GraftTxn.rollbackToSavepoint]]). Each id retires exactly like an
    * aborted staged commit (rolled marker so the id is never reused —
    * [[nextId]] counts rolled ids — then the staged JSON drops), and its
    * own data files delete eagerly: nothing else can reference an
    * UNDECIDED commit's files, so there is no vacuum window to respect.
    * Only ids this handle staged are accepted; processed descending so a
    * crash mid-retract leaves a clean staged PREFIX. */
  private[graft] def retractStaged(ids: Set[Long]): Unit = {
    require(ids.forall(ownStaged.contains),
      s"can only retract this transaction's own staged commits, " +
        s"got ${ids.toSeq.sorted.mkString(", ")}")
    ids.toSeq.sorted.reverse.foreach { id =>
      val sp = stagedPath(id)
      val c = scala.util.Try {
        val in: java.io.InputStream = fs.open(sp)
        try mapper.readValue(in, classOf[Commit]) finally in.close()
      }.toOption
      if (!fs.exists(commitPath(id)))
        scala.util.Try(fs.create(
          new Path(logDir, f"rolled-$id%08d"), false).close())
      scala.util.Try(fs.delete(sp, false))
      ownStaged.remove(id)
      c.foreach(_.adds.filter(a => owned(a.path)).foreach { a =>
        val dp = new Path(a.path)
        scala.util.Try(fs.delete(dp, false))
        scala.util.Try(fs.delete(
          new Path(dp.getParent, "." + dp.getName + ".bf"), false))
        scala.util.Try(fs.delete(
          new Path(dp.getParent, "." + dp.getName + ".bfm"), false))
        ()
      })
    }
  }

  /** decided transactions never change — memoize across the process */
  private val txnDecided =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** "commit" / "abort" when the coordinator decided; None while open */
  private[graft] def txnDecision(coord: String, txnId: String): Option[String] =
    txnDecided.get(txnId).orElse {
      val p = new Path(coord, s"$txnId.decision")
      val d = scala.util.Try {
        if (!LocalFs.of(p, hadoopConf).exists(p)) None
        else {
          val in: java.io.InputStream = LocalFs.of(p, hadoopConf).open(p)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
          finally in.close()
        }
      }.toOption.flatten
      d.foreach(txnDecided.put(txnId, _))
      d
    }

  /** materialize / retire every DECIDED staged commit; true if anything
    * moved (callers re-list). Concurrent sweepers are benign: renames of
    * the same immutable content arbitrate by existence, retire markers
    * are idempotent creates. */
  private def sweepStaged(names: Seq[String]): Boolean = {
    var moved = false
    names.filter(_.matches("\\d{8,}\\.json\\.txn")).foreach { n =>
      val id = n.stripSuffix(".json.txn").toLong
      val sp = new Path(logDir, n)
      val c = scala.util.Try {
        val in: java.io.InputStream = fs.open(sp)
        try mapper.readValue(in, classOf[Commit]) finally in.close()
      }.toOption
      c.flatMap(cm => Option(cm.txn).zip(Option(cm.txnCoord))).foreach {
        case (txnId, coord) =>
          txnDecision(coord, txnId) match {
            case Some("commit") =>
              // rename into the live sequence at the staged id; a racing
              // sweeper already materializing it is our success too
              // (same content, same id) — but a failed rename WITHOUT
              // the destination present is transient: leave the staged
              // file for the next sweep rather than drop a decided commit
              if (!fs.rename(sp, commitPath(id))) {
                if (fs.exists(commitPath(id))) {
                  scala.util.Try(fs.delete(sp, false)); ()
                }
              }
              moved = true
            case Some(_) =>
              // aborted: retire the id like a rollback (never reused),
              // THEN drop the staged file; data files age out via vacuum.
              // Skip the retire marker if a LIVE commit occupies the id
              // (the crashed-yield window) — marking a live id rolled
              // would confuse rollback bookkeeping.
              if (!fs.exists(commitPath(id)))
                scala.util.Try(fs.create(
                  new Path(logDir, f"rolled-$id%08d"), false).close())
              scala.util.Try(fs.delete(sp, false))
              moved = true
            case None => () // still open
          }
      }
    }
    moved
  }

  def latestId: Option[Long] = listIds.lastOption

  /** ids retracted by rollback — never reused, so commit JSONs stay
    * immutable PER ID and the forever-memoization (here and in any other
    * CommitLog instance on this root) stays sound */
  private def rolledIds: Seq[Long] = scanLog().rolled

  /** the next free id — for writers that base nothing on the table's
    * state (timeline tooling); table writes take [[Snapshot.nextId]] */
  def nextId: Long = {
    val LogScan(visible, rolled, staged, _) = scanLog()
    nextIdOf(visible, rolled, staged)
  }

  // commit JSONs are immutable once renamed into place, so parsed commits
  // memoize forever — snapshot resolution re-lists the directory (cheap)
  // but never re-parses, keeping read paths O(new commits) in I/O
  private val parsed = scala.collection.concurrent.TrieMap.empty[Long, Commit]

  /** count of commit-JSON file opens — observability hook letting specs
    * assert a read path's metadata I/O is O(new commits), not O(timeline) */
  private[graft] val jsonOpens = new java.util.concurrent.atomic.AtomicLong(0)

  def read(id: Long): Commit = parsed.getOrElseUpdate(id, {
    jsonOpens.incrementAndGet()
    // a txn handle's own staged commit reads from its staged path (the
    // read-your-writes half of listIds' merge). Memoizing it here is
    // sound for THIS instance: only this handle stages for its txn, the
    // content is immutable once published, and an aborted id retires
    // (never reused)
    val p = if (ownStaged.contains(id) && !fs.exists(commitPath(id)))
      stagedPath(id) else commitPath(id)
    val in: java.io.InputStream = fs.open(p)
    try mapper.readValue(in, classOf[Commit]) finally in.close()
  })

  def commits: Seq[Commit] = listIds.map(read)

  /** The commit at `id`, or None if the id was never committed or was
    * retired by a rollback — addressed DIRECTLY by path, no directory
    * listing. Falls back to the archived timeline, so change-tail
    * readers positioned below the archive boundary still see every
    * commit (at one segment open per `segmentSize` ids, memoized). */
  def commitIfExists(id: Long): Option[Commit] =
    parsed.get(id).orElse {
      if (fs.exists(commitPath(id))) Some(read(id))
      else if (id <= archiveUpTo) readArchived(id)
      // the JSON is gone and the cached boundary says "not archived":
      // another PROCESS may have archived since we listed — refresh the
      // segment set once before concluding the id never existed
      else if (id <= refreshArchivedRanges().lastOption.map(_._2).getOrElse(-1L))
        readArchived(id)
      else None
    }

  /** Commits with ids in `(from, to]`, addressed directly by id (commit
    * ids are dense except for rollback-retired holes, which are skipped).
    * This is the streaming tail's batch-resolution path: cost is
    * O(to - from) — new commits only — never a listing of the timeline
    * or the data tree. */
  def commitsInRange(from: Long, to: Long): Seq[Commit] =
    (from + 1 to to).flatMap(commitIfExists)

  /** Sentinel for [[append]]'s `basedOnLatest`: skip the staleness check
    * (raw timeline surgery / recovery tooling only — table writes always
    * pass the observed head). */
  val Unchecked: Long = Long.MinValue

  /** `basedOnLatest` encoding of "the table was empty when the snapshot
    * was resolved" (latestId was None). */
  val EmptyTable: Long = -1L

  /** Append a commit atomically with optimistic concurrency control.
    *
    * `basedOnLatest` is the latest commit id the writer observed when it
    * resolved the snapshot it merged from ([[EmptyTable]] if none,
    * [[Unchecked]] to skip). Publishing validates the timeline head is
    * STILL that id — a commit that landed in between means this write
    * merged from a stale snapshot, and it fails cleanly instead of
    * silently dropping the interleaved commit's rows (Hudi's optimistic
    * concurrency check; the reference avoids the race operationally via
    * `MaxConcurrentRuns: 1`, cloud_formation/HudiGlueJobCFn.yml:35).
    *
    * Two writers racing from the SAME observed state resolve the same
    * `max+1` id, and the publish itself is an atomic CREATE-OR-FAIL that
    * arbitrates them: on file:// a POSIX hard link — link(2) fails with
    * EEXIST where rename(2) would silently OVERWRITE the winner; on
    * HDFS-like filesystems rename is already no-overwrite. Writers from
    * DIFFERENT observed states are caught by the staleness check: a table
    * write takes both its id ([[Snapshot.nextId]]) and `basedOnLatest`
    * ([[Snapshot.id]]) from the one [[Snapshot]] it read, so the id can
    * never be resolved before the base, and any head change after that
    * listing is visible at publish. Every interleaving lands in one of
    * the two guards: one winner, one clean failure.
    *
    * The pre-publish checks (retired id, head, staged interveners) read
    * ONE fresh listing of the log.
    */
  def append(c: Commit, basedOnLatest: Long = Unchecked,
      knownStaged: Set[Long] = Set.empty): Unit = {
    val LogScan(visible, rolled, stagedNow, _) = scanLog()
    // a retired (rolled-back) id must NEVER be reused, even though its
    // JSON path is free again: other CommitLog instances memoize commit
    // JSONs forever per id, and a rollback interleaved between two
    // writers' id resolutions would otherwise let a stale writer land on
    // the retired id with the head check still passing
    if (rolled.contains(c.id))
      throw new CommitConflict(
        s"commit id ${c.id} was retired by a rollback — resolve a fresh id")
    // the archived range is retired wholesale: its ids are out of the
    // live listing, so a write landing there would be invisible to every
    // snapshot resolution (and rolled-id markers below the boundary were
    // folded into this one check by archive())
    if (c.id <= archiveUpTo)
      throw new CommitConflict(
        s"commit id ${c.id} is below the archived timeline boundary " +
          s"($archiveUpTo) — resolve a fresh id")
    if (basedOnLatest != Unchecked) {
      val head = timeline(visible).lastOption.getOrElse(EmptyTable)
      if (head != basedOnLatest)
        throw new CommitConflict(
          s"stale write: commit $head landed after the snapshot this write " +
            s"merged from (based on ${if (basedOnLatest == EmptyTable) "empty table"
              else s"commit $basedOnLatest"}) — retry from the current snapshot")
      // a STAGED transaction commit above the observed head is an
      // intervening write this merge did not see: if the transaction
      // later commits, both outputs fold — a lost update unless the two
      // are partition-disjoint. Conflict here; the rebase path inspects
      // the staged commit's partitions and passes the ids it proved
      // disjoint back as `knownStaged`. A txn handle's OWN staged
      // commits are exempt: its resolution already includes them
      // (read-your-writes), so the merge DID see them.
      val blocking = stagedNow.sorted.filter(i =>
        i > basedOnLatest && i != c.id && !knownStaged.contains(i) &&
          !ownStaged.contains(i))
      if (blocking.nonEmpty)
        throw new CommitConflict(
          s"pending transaction commit(s) ${blocking.mkString(", ")} are " +
            "staged above the snapshot this write merged from — retry " +
            "after the transaction decides (or rebase if disjoint)")
    }
    fs.mkdirs(logDir)
    val staged = staging
    val toWrite = staged match {
      case Some((txnId, coord)) => c.copy(txn = txnId, txnCoord = coord)
      case None => c
    }
    // same-id arbitration across the TWO publish targets (`<id>.json`
    // vs `<id>.json.txn` — publishAtomic only arbitrates one path):
    // the staged side always YIELDS to a live commit at the same id.
    // Pre-checks catch the already-published cases; the staged side's
    // post-publish re-check catches the symmetric race (both published
    // before either saw the other). A staged append only reports
    // success after that re-check, so a decided transaction can never
    // hold an id a live commit occupies.
    if (staged.isDefined && fs.exists(commitPath(c.id)))
      throw new CommitConflict(
        s"commit id ${c.id} was taken by a live writer — resolve a fresh id")
    if (staged.isEmpty && fs.exists(stagedPath(c.id)))
      throw new CommitConflict(
        s"commit id ${c.id} is held by a staged transaction commit — " +
          "resolve a fresh id")
    val tmp = new Path(logDir, s".tmp-${c.id}-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(toWrite)) finally out.close()
    val dst =
      if (staged.isDefined) stagedPath(c.id) else commitPath(c.id)
    val published =
      try store.publishAtomic(fs, tmp, dst)
      // best-effort tmp cleanup: a rename-based publish already moved
      // it (delete of a missing path is a cheap no-op), a link-based
      // one left it behind either way
      finally { scala.util.Try(fs.delete(tmp, false)); () }
    if (!published)
      throw new CommitConflict(
        s"commit ${c.id} already exists (concurrent writer?)")
    if (staged.isDefined) {
      if (fs.exists(commitPath(c.id))) { // lost the cross-path race: yield
        scala.util.Try(fs.delete(stagedPath(c.id), false))
        throw new CommitConflict(
          s"commit id ${c.id} was taken by a live writer — resolve a fresh id")
      }
      ownStaged.add(c.id) // this handle now resolves it (read-your-writes)
      return // staged: invisible to everyone else until the coordinator decides
    }
    maybeCheckpoint()
  }

  /** Resolve ONE version: the state as of `asOf` (inclusive), the head
    * when None — ONE listing of `_log` (commit and checkpoint ids
    * alike), one fold of the newest [[Checkpoint]] at-or-before the
    * target plus the commit tail. Checkpointed and replayed resolution
    * produce the IDENTICAL [[Snapshot]], order included.
    *
    * Contract: an operation resolves each version it reads exactly once,
    * here, and passes the value down; helpers below the entry point
    * never resolve the head themselves. A write's commit id is this
    * value's [[Snapshot.nextId]], taken from the same listing. The three
    * methods below are projections for callers that need one fact of
    * one resolution. */
  def snapshot(asOf: Option[Long] = None): Snapshot = {
    val LogScan(visible, rolled, staged, ckpts) = scanLog()
    val ids = timeline(visible)
    val nextId = nextIdOf(visible, rolled, staged)
    asOf.foreach { id =>
      require(id > archiveUpTo,
        s"commit $id is archived (timeline archived up to $archiveUpTo) — " +
          "its snapshot's superseded files were cleaned and it is no " +
          "longer travelable")
      require(ids.contains(id), s"no commit $id on the timeline")
    }
    val target = asOf.orElse(ids.lastOption).getOrElse(
      return Snapshot(None, Seq.empty, Seq.empty, None, Map.empty, nextId))
    val ck = checkpointAt(target, ckpts)
    val from = ck.map(_.id).getOrElse(-1L)
    val live = mutable.LinkedHashMap.empty[String, FileAdd]
    val schemaOf = mutable.HashMap.empty[String, String]
    var schemaJson = ck.map(_.schemaJson)
    ck.foreach(c => c.live.iterator.zip(c.schemaIdx.iterator).foreach {
      case (a, i) => live(a.path) = a; schemaOf(a.path) = c.schemas(i)
    })
    ids.withFilter(id => id > from && id <= target).map(read).foreach { c =>
      // a removed file leaves the schema map too: replayed and
      // checkpointed resolution then agree on it, entry for entry
      c.removes.foreach { p => live.remove(p); schemaOf.remove(p) }
      c.adds.foreach { a => live(a.path) = a; schemaOf(a.path) = c.schemaJson }
      schemaJson = Some(c.schemaJson)
    }
    val (dvs, files) = live.values.toSeq.partition(_.isDv)
    Snapshot(Some(target), files, dvs, schemaJson, schemaOf.toMap, nextId)
  }

  /** Live DATA files (base + delta) as of `asOf` ([[Snapshot.files]]). */
  def liveFiles(asOf: Option[Long] = None): Seq[FileAdd] = snapshot(asOf).files

  /** Live deletion-vector sidecars as of `asOf` ([[Snapshot.dvs]]). */
  def liveDvs(asOf: Option[Long] = None): Seq[FileAdd] = snapshot(asOf).dvs

  /** Table schema JSON as of `asOf` ([[Snapshot.schemaJson]]). */
  def schemaJsonAsOf(asOf: Option[Long] = None): Option[String] =
    snapshot(asOf).schemaJson

  // ---- checkpoints (the Delta parquet-checkpoint role; see [[Checkpoint]])

  private def ckptPath(id: Long) = new Path(logDir, f"ckpt-$id%08d.json")

  private def ckptIds: Seq[Long] =
    if (!fs.exists(logDir)) Seq.empty
    else ckptIdsIn(fs.listStatus(logDir).toSeq.map(_.getPath.getName))

  private def ckptIdsIn(names: Seq[String]): Seq[Long] =
    names.filter(_.matches("ckpt-\\d{8,}\\.json"))
      .map(_.stripPrefix("ckpt-").stripSuffix(".json").toLong)
      .sorted

  // a checkpoint id is immutable once written: checkpoints are only ever
  // created at the timeline HEAD, and a rollback that retracts the head
  // both deletes covering checkpoints and retires the id forever — so
  // (like commit JSONs) content memoizes per id, while WHICH checkpoint
  // applies is decided from a fresh listing on every resolution
  private val ckptParsed = scala.collection.concurrent.TrieMap.empty[Long, Checkpoint]

  /** checkpoint-file opens — the observability twin of [[jsonOpens]] */
  private[graft] val ckptOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** newest checkpoint at-or-before `target`, None if none covers it */
  def latestCheckpointAt(target: Long): Option[Checkpoint] =
    checkpointAt(target, ckptIds)

  /** [[latestCheckpointAt]] among checkpoint ids a listing already read */
  private def checkpointAt(target: Long, ckpts: Seq[Long]): Option[Checkpoint] =
    ckpts.filter(_ <= target).lastOption.map { id =>
      ckptParsed.getOrElseUpdate(id, {
        ckptOpens.incrementAndGet()
        val in: java.io.InputStream = fs.open(ckptPath(id))
        try mapper.readValue(in, classOf[Checkpoint]) finally in.close()
      })
    }

  /** write a checkpoint at the current head if `checkpointEvery` commits
    * accumulated since the last one (no-op when disabled or fresh).
    * Failures are swallowed: the commit this rides on is already
    * durable, a checkpoint is an accelerator, and the next append
    * retries — surfacing the error would make a SUCCESSFUL write look
    * failed and provoke a duplicating retry. */
  private def maybeCheckpoint(): Unit =
    if (checkpointEvery > 0) try {
      // ONE listing for head, floor and the last checkpoint
      val LogScan(visible, _, staged, ckpts) = scanLog()
      val ids = timeline(visible)
      if (ids.nonEmpty) {
        val last = ckpts.lastOption.getOrElse(-1L)
        // never checkpoint ACROSS a staged transaction commit: a live
        // set baked above an undecided id would silently skip it when
        // it later materializes (resolution trusts the checkpoint)
        val at = staged.minOption.map(f => math.min(ids.last, f - 1))
          .getOrElse(ids.last)
        if (at > last && ids.count(_ > last) >= checkpointEvery)
          writeCheckpoint(ids.filter(_ <= at).last)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** materialize a checkpoint at the current head regardless of the
    * interval (the `CALL graft.system.checkpoint` surface); returns the
    * checkpointed id, None on an empty timeline. Capped below any
    * staged transaction commit (same rule as [[maybeCheckpoint]]). */
  def forceCheckpoint(): Option[Long] =
    tailableHead.map { id => writeCheckpoint(id); id }

  private def writeCheckpoint(at: Long): Unit = {
    val dst = ckptPath(at)
    if (fs.exists(dst)) return // idempotent: same id ⇒ same content
    val snap = snapshot(Some(at))
    val live = snap.all
    val bySchema = snap.pathSchemas
    val table = snap.schemaJson.getOrElse(return)
    val schemas = live.map(a => bySchema.getOrElse(a.path, table)).distinct
    val idxOf = schemas.zipWithIndex.toMap
    val ck = Checkpoint(at, table, schemas, live,
      live.map(a => idxOf(bySchema.getOrElse(a.path, table))))
    val tmp = new Path(logDir, s".tmpckpt-$at-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(ck)) finally out.close()
    // best-effort atomic publish: a racing writer's identical content
    // makes the arbitration outcome irrelevant
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); () }
  }

  // ---- timeline archival (Hudi archived-timeline / Delta log-expiry
  // role): `_log/` must not grow one JSON per commit forever — at one
  // commit a minute a year is ~500k files, and every `listIds` pays for
  // all of them. Commits whose snapshots are no longer travelable
  // (strictly below the clean horizon, unpinned) move into
  // [[ArchiveSegment]] files; `listIds` then lists O(travel horizon)
  // entries. Archived commits remain READABLE (history, tails, audits)
  // through [[commitIfExists]]/[[commitsAll]]; only snapshot travel to
  // them refuses — which is not a loss, because clean() already deleted
  // the files those snapshots reference.

  private def archPath(from: Long, to: Long) =
    new Path(logDir, f"arch-$from%08d-$to%08d.json")

  /** (from, to) id ranges of every archive segment, ascending — read
    * from filenames alone, no segment opened. Cached after the first
    * listing: segments are immutable once renamed into place and only
    * [[archive]] extends the set (which refreshes), so the `id <=
    * archiveUpTo` probes on every append/nextId stop paying a listStatus
    * each — on object stores that roughly doubled per-commit metadata
    * round-trips for tables that never archive. Every id listing
    * (`scanLog`) refreshes it from the names it already read, so a
    * snapshot's next id costs no listing of its own. Cross-process
    * archival is otherwise handled at the miss site: [[commitIfExists]]
    * refreshes once before concluding a below-boundary id is gone. */
  @volatile private var archCache: Seq[(Long, Long)] = null

  private def listArchivedRanges(): Seq[(Long, Long)] =
    if (!fs.exists(logDir)) Seq.empty
    else archRangesIn(fs.listStatus(logDir).toSeq.map(_.getPath.getName))

  private val ArchName = "arch-(\\d{8,})-(\\d{8,})\\.json".r

  private def archRangesIn(names: Seq[String]): Seq[(Long, Long)] =
    names.collect { case ArchName(f, t) => (f.toLong, t.toLong) }.sorted

  def archivedRanges: Seq[(Long, Long)] = {
    var c = archCache
    if (c == null) { c = listArchivedRanges(); archCache = c }
    c
  }

  private[graft] def refreshArchivedRanges(): Seq[(Long, Long)] = {
    val c = listArchivedRanges(); archCache = c; c
  }

  /** highest archived commit id (-1 when nothing is archived): the
    * snapshot-travel floor — targets at or below it refuse */
  def archiveUpTo: Long = archivedRanges.lastOption.map(_._2).getOrElse(-1L)

  // segments are immutable once renamed into place (their commits were
  // immutable already) — memoize per range, like `parsed` per id
  private val archParsed =
    scala.collection.concurrent.TrieMap.empty[(Long, Long), Seq[Commit]]

  private def readSegment(range: (Long, Long)): Seq[Commit] =
    archParsed.getOrElseUpdate(range, {
      val in: java.io.InputStream = fs.open(archPath(range._1, range._2))
      try mapper.readValue(in, classOf[ArchiveSegment]).commits
      finally in.close()
    })

  private def readArchived(id: Long): Option[Commit] =
    archivedRanges.filter(r => r._1 <= id && id <= r._2)
      .flatMap(r => readSegment(r).find(_.id == id)).headOption

  /** Every commit, archived and live, ascending — the FULL table
    * history. O(segments) opens for the archived prefix (one per
    * `segmentSize` commits, memoized), O(live) for the tail. A
    * crash-interrupted archive run can leave an id both archived and
    * listed; the listed copy wins (identical content — commits are
    * immutable per id). */
  def commitsAll: Seq[Commit] = {
    val listed = listIds
    val listedSet = listed.toSet
    val archived = archivedRanges.flatMap(readSegment)
      .filterNot(c => listedSet(c.id))
    (archived ++ listed.map(read)).sortBy(_.id)
  }

  /** Archive every commit whose snapshot is no longer travelable:
    * strictly below the clean horizon ([[cleanedUpTo]] itself stays —
    * clean deletes files superseded AT-or-before the cutoff, which are
    * exactly the files NOT live at the cutoff, so the cutoff snapshot is
    * intact and pinnable), below every pin, and never the head. Returns
    * the number of commits archived (0 = nothing eligible).
    *
    * Sequencing is the crash-safety argument:
    *  1. a [[Checkpoint]] is materialized AT the boundary while it is
    *     still resolvable — afterwards every resolution at target ≥
    *     boundary reads that checkpoint plus an unarchived tail, never
    *     an archived commit;
    *  2. released-pin leftovers are swept: every remove-record in the
    *     eligible range refers to a file no CURRENT pin protects (a
    *     pinned snapshot's files are only removed above its pin id, and
    *     all pins are above the horizon), so one that still exists on
    *     disk was exempted by a since-released pin — delete it now,
    *     because after archival clean() will never replay this range;
    *  3. segments are written tmp+rename BEFORE any individual JSON is
    *     deleted — a crash between the two leaves ids doubly present,
    *     which readers resolve listed-copy-first and the next archive
    *     run repairs;
    *  4. only then are the JSONs, subsumed checkpoints, and rolled-id
    *     markers below the boundary removed (the append-time reuse
    *     guard shifts from per-marker to `id ≤ archiveUpTo`).
    */
  def archive(segmentSize: Int = 100): Int = {
    require(segmentSize >= 1, s"segmentSize must be >= 1, got $segmentSize")
    val ids = listIds
    if (ids.size <= 1) return 0
    val pinFloor = pins.minOption.map(_ - 1).getOrElse(Long.MaxValue)
    // the archive boundary's checkpoint must not bake across a staged
    // transaction commit (same rule as maybeCheckpoint)
    val txnFloor = stagedFloor.map(_ - 1).getOrElse(Long.MaxValue)
    val horizon = math.min(math.min(math.min(cleanedUpTo - 1, pinFloor),
      ids.last - 1), txnFloor)
    val eligible = ids.filter(_ <= horizon)
    if (eligible.isEmpty) return 0
    val boundary = eligible.last
    writeCheckpoint(boundary)
    require(latestCheckpointAt(boundary).exists(_.id == boundary),
      s"could not materialize the boundary checkpoint at $boundary — " +
        "timeline left untouched")
    eligible.map(read).flatMap(_.removes).filter(owned).foreach { p =>
      val dp = new Path(p)
      fs.delete(dp, false)
      fs.delete(new Path(dp.getParent, "." + dp.getName + ".bf"), false)
      fs.delete(new Path(dp.getParent, "." + dp.getName + ".bfm"), false)
    }
    val covered = archivedRanges
    def isCovered(id: Long) = covered.exists(r => r._1 <= id && id <= r._2)
    eligible.filterNot(isCovered).grouped(segmentSize).foreach { chunk =>
      val seg = ArchiveSegment(chunk.head, chunk.last, chunk.map(read))
      val tmp = new Path(logDir, s".tmparch-${chunk.head}-${System.nanoTime()}")
      val out = fs.create(tmp, false)
      try out.write(mapper.writeValueAsBytes(seg)) finally out.close()
      if (!fs.rename(tmp, archPath(chunk.head, chunk.last))) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"could not publish archive segment ${chunk.head}-${chunk.last}")
      }
    }
    eligible.foreach(id => fs.delete(commitPath(id), false))
    ckptIds.filter(_ < boundary).foreach { cid =>
      fs.delete(ckptPath(cid), false); ckptParsed.remove(cid)
    }
    rolledIds.filter(_ <= boundary).foreach { rid =>
      fs.delete(new Path(logDir, f"rolled-$rid%08d"), false)
    }
    refreshArchivedRanges()
    eligible.size
  }

  /** Staged-CTAS publish: rewrite every recorded file path under
    * `oldRoot` to live under THIS log's root — called once, right after
    * a staged table directory was renamed into its final location (the
    * staged commit JSONs still reference the stage directory, and
    * absolute paths are the log's contract). Deliberately bypasses the
    * immutable-once-published rule: the table is INVISIBLE until its
    * descriptor lands (publish-last ordering), so no other reader can
    * have memoized these ids yet. */
  private[graft] def relocateFrom(oldRoot: String): Unit =
    rewritePaths(fs.makeQualified(new Path(oldRoot)).toString, rootStr)

  /** Staged-publish preparation, the inverse direction: rewrite every
    * recorded file path under THIS (stage) root to live under `newRoot`
    * BEFORE the directory is renamed into place — so the publish itself
    * is a single atomic rename of an already-self-consistent table, with
    * no post-rename mutation window. The same invisibility argument as
    * [[relocateFrom]] applies; this log object must be discarded
    * afterwards (its cached paths point outside its own root). */
  private[graft] def relocateTo(newRoot: String): Unit =
    rewritePaths(rootStr, fs.makeQualified(new Path(newRoot)).toString)

  private def rewritePaths(fromQ: String, toQ: String): Unit = {
    // checkpoints hold materialized paths too — drop them rather than
    // rewrite (pure accelerators, and a staged table's timeline is tiny)
    ckptIds.foreach(cid => fs.delete(ckptPath(cid), false))
    ckptParsed.clear()
    def fix(p: String): String = {
      val q = fs.makeQualified(new Path(p)).toString
      if (q.startsWith(fromQ + "/")) toQ + q.stripPrefix(fromQ) else p
    }
    listIds.foreach { id =>
      val fixed = read(id) match { case c =>
        c.copy(adds = c.adds.map(a => a.copy(path = fix(a.path),
            target = Option(a.target).map(fix).orNull)),
          removes = c.removes.map(fix))
      }
      val out = fs.create(commitPath(id), true)
      try out.write(mapper.writeValueAsBytes(fixed)) finally out.close()
      parsed.put(id, fixed)
    }
    // archive segments record paths too (history/tail reads) — rewrite
    // in place under the same invisibility argument
    archivedRanges.foreach { r =>
      val fixed = readSegment(r).map(c =>
        c.copy(adds = c.adds.map(a => a.copy(path = fix(a.path),
            target = Option(a.target).map(fix).orNull)),
          removes = c.removes.map(fix)))
      val out = fs.create(archPath(r._1, r._2), true)
      try out.write(mapper.writeValueAsBytes(
        ArchiveSegment(r._1, r._2, fixed))) finally out.close()
      archParsed.put(r, fixed)
    }
  }

  // ---- identity-range claims (GENERATED AS IDENTITY allocation) ------

  /** Claim an exclusive allocation range for an identity column:
    * returns `base` such that [base, base + units) in UNIT space (value
    * = start + step * unit) belongs to this caller alone. Claims are
    * marker files named `<base>` (zero-padded) under
    * `_log/_ident_<col>/` whose CONTENT carries the claimed unit count,
    * published through the SAME conditional-put [[CommitStore]]
    * contract as commits. Keying the put on the base ALONE is what
    * makes the race safe: two writers that compute the same next base
    * collide on the destination name regardless of how many units each
    * wants (a `<base>_<units>` name would let different-sized claims
    * of the same base both land). No coordination against the commit
    * OCC (ranges are a separate, append-only resource; the loser simply
    * re-lists and claims the next base). A claimed-but-crashed batch
    * wastes its range — identity values may have gaps, the documented
    * contract. Legacy `<base>_<units>` markers from older claims are
    * still honored when computing the next base.
    *
    * Rolling upgrades: a LEGACY writer publishing `<base>_<units>` and
    * an upgraded writer publishing `<base>` land on DIFFERENT names, so
    * the name-collision arbitration cannot see the race. Two defenses:
    * the next base is computed over EVERY claim at the max base (so a
    * double-claimed base advances past the larger range), and a new
    * claimer re-lists after publishing — if a legacy-named marker shares
    * its base, it RETREATS (leaves its marker as a dead range, never
    * uses it) and claims again past both. The abandoned range is a gap,
    * which the identity contract already allows.
    */
  private[lake] def claimIdentityRange(col: String, units: Long): Long = {
    require(units > 0, s"identity claim needs positive units, got $units")
    val dir = new Path(logDir, s"_ident_$col")
    fs.mkdirs(dir)
    def unitsOf(p: Path): Long = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .toLongOption.getOrElse(0L)
      finally in.close()
    }
    def listClaims(): Seq[(Long, Path, Boolean)] =
      fs.listStatus(dir).toSeq
        .filterNot(_.getPath.getName.startsWith("."))
        .flatMap { st =>
          val n = st.getPath.getName
          n.split('_') match {
            case Array(b) => b.toLongOption.map(bb => (bb, st.getPath, true))
            case Array(b, w) =>
              for (bb <- b.toLongOption; _ <- w.toLongOption)
                yield (bb, st.getPath, false)
            case _ => None
          }
        }
    def unitsOfClaim(c: (Long, Path, Boolean)): Long =
      if (c._3) unitsOf(c._2) else c._2.getName.split('_')(1).toLong
    var attempts = 0
    while (attempts < 64) {
      // next base = max over claims of (base + units). Bases are unique
      // within one naming scheme, but a mixed-version race can leave TWO
      // claims of the same base (see Scaladoc) — so every claim AT the
      // max base contributes, and the largest range wins. Content reads
      // stay O(claims at max base), normally one.
      val claims = listClaims()
      val next = claims.map(_._1).maxOption match {
        case None => 0L
        case Some(maxBase) =>
          maxBase + claims.filter(_._1 == maxBase).map(unitsOfClaim).max
      }
      val tmp = new Path(dir, s".claim-${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      try out.write(units.toString.getBytes("UTF-8")) finally out.close()
      val ok =
        try store.publishAtomic(fs, tmp, new Path(dir, f"$next%020d"))
        finally { scala.util.Try(fs.delete(tmp, false)); () }
      if (ok) {
        // mixed-version guard: a legacy writer may have published
        // `<next>_<units>` concurrently — a DIFFERENT destination name,
        // so both claims landed. Re-list and retreat on collision: our
        // marker stays (a dead range other listers still step over),
        // the loop claims again past both. One extra listing per claim.
        val overlapped = listClaims().exists(c => c._1 == next && !c._3)
        if (!overlapped) return next
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not claim an identity range for '$col' after 64 attempts " +
        "(extreme writer contention?)")
  }

  // ---- savepoints (Hudi savepoint/restore: pin a commit against the
  // cleaner so it stays reproducible, restore the timeline back to it)

  private def savepointPath(id: Long) = new Path(logDir, f"save-$id%08d")

  /** Pin `id` against [[clean]]: its snapshot's files are never physically
    * deleted while the savepoint exists, so [[liveFiles]](Some(id)) stays
    * reproducible regardless of retention. */
  def savepoint(id: Long): Unit = {
    require(listIds.contains(id), s"no commit $id on the timeline")
    // a commit below the horizon still has its JSON, but the files its
    // snapshot references were already physically deleted — pinning it
    // would hand out a broken snapshot that fails at scan time
    require(id >= cleanedUpTo,
      s"commit $id's files were already cleaned (retained from $cleanedUpTo)")
    fs.create(savepointPath(id), true).close()
  }

  /** Release a savepoint; the NEXT clean may delete its files. */
  def releaseSavepoint(id: Long): Unit = {
    fs.delete(savepointPath(id), false); ()
  }

  def savepoints: Seq[Long] =
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("save-\\d{8,}"))
      .map(_.stripPrefix("save-").toLong)
      .sorted

  // ---- named tags (Iceberg tag refs: a NAME pinned to a commit id).
  // A tag pins its commit against the cleaner exactly like a savepoint
  // (see [[pins]]); it additionally resolves by name in time travel
  // (`VERSION AS OF 'v1.0'`). Immutable once created — retargeting a
  // name silently changes what every reader of that name sees, so a
  // tag must be dropped and re-created to move (the create-if-absent
  // store gives that for free, atomically).

  private def tagPath(name: String) = new Path(logDir, s"tag-$name")

  def createTag(name: String, id: Long): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}") &&
        !name.matches("\\d+"),
      s"illegal tag name '$name' (alphanumeric/._- and not a bare number " +
        "— a numeric name would shadow commit-id time travel)")
    require(listIds.contains(id), s"no commit $id on the timeline")
    require(id >= cleanedUpTo,
      s"commit $id's files were already cleaned (retained from $cleanedUpTo)")
    val out =
      try fs.create(tagPath(name), false) // create-if-absent: no retarget
      catch { case _: java.io.IOException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists (tags are immutable — drop it first)")
      }
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
  }

  def dropTag(name: String): Unit = { fs.delete(tagPath(name), false); () }

  def tags: Map[String, Long] =
    if (!fs.exists(logDir)) Map.empty
    else fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("tag-"))
      .map { n =>
        val in: java.io.InputStream = fs.open(new Path(logDir, n))
        val id = try new String(in.readAllBytes(), "UTF-8").trim.toLong
          finally in.close()
        n.stripPrefix("tag-") -> id
      }.toMap

  /** every commit id pinned against physical deletion: savepoints plus
    * tag targets — ONE set consulted by clean / rollback / the horizon
    * guards, so a tagged snapshot stays reproducible exactly like a
    * savepointed one */
  def pins: Seq[Long] = (savepoints ++ tags.values).distinct.sorted

  /** Roll back the LATEST commit (Hudi rollback): delete its JSON — the
    * only pointer making its files live — then physically remove the
    * now-orphaned files it added. Files it superseded become live again;
    * they are physically deleted only by clean(), so rollback refuses to
    * cross the cleaned horizon. A `rolled-<id>` marker retires the id
    * forever (written BEFORE the JSON is deleted — a crash between the
    * two just retires an id early, which is harmless). Returns the
    * rolled-back id, None on an empty timeline.
    */
  def rollbackLatest(): Option[Long] = latestId.map { id =>
    require(id > cleanedUpTo,
      s"commit $id's superseded files were cleaned — cannot roll back")
    require(!pins.contains(id),
      s"commit $id is pinned (savepoint or tag) — release it before rolling back")
    val c = read(id)
    // checkpoints covering the retracted commit are now wrong (they
    // materialized its adds) — delete them FIRST: a crash between this
    // and the JSON delete merely loses an accelerator. The id is retired
    // forever below, so `ckpt-<id>` can never be re-created with
    // different content and cross-instance memoization stays sound.
    ckptIds.filter(_ >= id).foreach { cid =>
      fs.delete(ckptPath(cid), false); ckptParsed.remove(cid)
    }
    fs.create(new Path(logDir, f"rolled-$id%08d"), true).close()
    if (!fs.delete(commitPath(id), false))
      throw new IllegalStateException(s"could not retract commit $id")
    parsed.remove(id)
    c.adds.filter(a => owned(a.path))
      .foreach { a =>
        val dp = new Path(a.path)
        fs.delete(dp, false)
        // bloom sidecars retire with their data file (clean's rule)
        fs.delete(new Path(dp.getParent, "." + dp.getName + ".bf"), false)
        fs.delete(new Path(dp.getParent, "." + dp.getName + ".bfm"), false)
      }
    id
  }

  // ---- cleaner (KEEP_LATEST_COMMITS semantics, glue/HudiJarGlueJob.py:83)

  private val cleanMarker = new Path(logDir, "_cleaned.json")

  def cleanedUpTo: Long =
    if (!fs.exists(cleanMarker)) -1L
    else {
      val in: java.io.InputStream = fs.open(cleanMarker)
      try mapper.readTree(in).get("upTo").asLong()
      finally in.close()
    }

  /** Physically delete files superseded at or before the cutoff so only the
    * last `retain` commits stay time-travelable. Latest snapshot unaffected.
    * Savepointed snapshots are exempt: any file live at a savepoint stays
    * on disk (and its commit readable) until the savepoint is released.
    */
  /** What [[clean]] WOULD do at this retain count: the horizon it would
    * advance to (-1 = nothing reclaimable) and the exact files it would
    * delete — the DRY RUN surface. Pure compute, nothing touched; the
    * real clean consumes the same plan, so dry-run and apply can only
    * diverge by commits landing in between. */
  def cleanPlan(retain: Int): (Long, Seq[String]) = {
    require(retain >= 1, s"must retain at least the latest commit, got $retain")
    val ids = listIds
    if (ids.size <= retain) return (-1L, Seq.empty)
    // oldest id that stays travelable: files superseded at or before it
    // are unreferenced by every retained snapshot. Capped below any
    // staged transaction commit: the clean horizon gates archival and
    // manifest validity, and a commit must never materialize UNDER it.
    val cutoff0 = ids(ids.size - retain)
    val cutoff = stagedFloor.map(f => math.min(cutoff0, f - 1))
      .getOrElse(cutoff0)
    if (cutoff < 0 || cutoff < cleanedUpTo) return (-1L, Seq.empty)
    val pinned: Set[String] = pins.filter(_ <= cutoff)
      .flatMap(s => snapshot(Some(s)).all.map(_.path)).toSet
    val removedEarly = commits.filter(_.id <= cutoff).flatMap(_.removes)
    (cutoff, removedEarly.filterNot(pinned).filter(owned))
  }

  /** returns the number of data files physically deleted — the
    * observability VACUUM reports (0 = nothing was reclaimable) */
  def clean(retain: Int): Int = {
    val (cutoff, victims) = cleanPlan(retain)
    if (cutoff < 0) return 0
    victims.foreach { p =>
        val dp = new Path(p)
        fs.delete(dp, false)
        // retire bloom sidecars with their data file (tiny hidden files
        // the data-file delete does not cover; deleting a non-existent
        // path is a cheap no-op)
        fs.delete(new Path(dp.getParent, "." + dp.getName + ".bf"), false)
        fs.delete(new Path(dp.getParent, "." + dp.getName + ".bfm"), false)
      }
    val out = fs.create(cleanMarker, true)
    try out.write(mapper.writeValueAsBytes(Map("upTo" -> cutoff)))
    finally out.close()
    victims.size
  }
}
