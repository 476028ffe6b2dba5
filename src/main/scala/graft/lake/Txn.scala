package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Multi-table transaction: writes to N lake tables become visible
  * ATOMICALLY — all or none — without a shared lock or a central
  * metastore transaction (the capability Delta/Iceberg OSS lack at the
  * log level; Iceberg REST catalogs bolt it onto the catalog).
  *
  * Protocol (two phases on the commit logs themselves):
  *
  *   1. STAGE — every write enlisted through [[table]] executes fully
  *      (files written, OCC checked, commit id ALLOCATED) but its commit
  *      JSON lands as `<id>.json.txn`, invisible to every resolution.
  *      Staged ids still participate in concurrency control: parallel
  *      writers either prove partition-disjointness and rebase over
  *      them, or fail with the usual [[CommitConflict]].
  *   2. DECIDE — [[commit]]/[[abort]] publish ONE atomic marker
  *      (`<txnId>.decision` in the coordinator dir, content
  *      `commit`/`abort`). That single create-or-fail is the
  *      transaction's visibility point for EVERY table at once.
  *
  * Materialization is lazy and crash-safe: any process's next listing of
  * a table's log sees the staged file, reads the recorded coordinator,
  * and either renames the commit into the live sequence at its original
  * id (committed) or retires the id rollback-style (aborted). A crash
  * anywhere leaves either no decision (stale transaction —
  * [[GraftTxn.abortStale]] reaps it) or a decision plus idempotent
  * sweeps.
  *
  * Invariants the engine enforces around undecided transactions:
  * checkpoints, timeline archival, and the clean horizon never cross a
  * staged id; streaming tails and CDF reads cap at the staged floor (a
  * commit must never materialize BEHIND a served offset); rollback and
  * restore refuse. Within the transaction, its OWN handles read their
  * own writes: the handle's timeline resolution folds its staged
  * commits in id order, so a second write on the same table merges
  * from a snapshot that includes the first — everyone else stays blind
  * until decide.
  *
  * Cost at scale: one marker file per transaction, one coordinator
  * existence check per staged file per process (decided statuses
  * memoize), zero overhead on tables with no transaction in flight.
  */
final class GraftTxn private (
    spark: SparkSession,
    val id: String,
    coordDir: Path,
    hconf: Configuration) {

  private val fs = LocalFs.of(coordDir, hconf)
  private val enlisted =
    scala.collection.mutable.LinkedHashMap.empty[String, LakeTable]
  @volatile private var outcome: Option[String] = None

  /** A staged-mode handle over the same table root: every write through
    * it stages under this transaction. The caller's own handle is not
    * touched. */
  def table(t: LakeTable): LakeTable = table(t.config)

  def table(config: LakeTableConfig): LakeTable =
    enlisted.getOrElseUpdate(config.root, {
      val h = LakeTable(spark, config)
      h.log.staging = Some((id, coordDir.toString))
      h
    })

  def commit(): Unit = decide("commit")

  def abort(): Unit = decide("abort")

  // ---- savepoints (partial rollback WITHIN the open transaction) ------
  // A savepoint records, per enlisted table, the staged-commit floor at
  // that instant; ROLLBACK TO retracts every staged commit ABOVE the
  // floor (a SUFFIX of each table's staged sequence — staging is
  // monotone) through the same retire-forever path an aborted txn takes,
  // so the ids never reuse and read-your-writes immediately reflect the
  // restored state. Tables enlisted AFTER the savepoint carry an
  // implicit empty floor: rolling back retracts their staged work
  // entirely. Savepoints are driver-side session state, like the
  // transaction handle itself — a crashed session's whole txn is
  // reaped, savepoints and all.

  private val savepoints = scala.collection.mutable.LinkedHashMap
    .empty[String, Map[String, Set[Long]]]

  /** record (or re-record — the SQL semantics: the name moves to NOW)
    * a named savepoint */
  def savepoint(name: String): Unit = {
    require(outcome.isEmpty, s"transaction $id already decided: $outcome")
    require(name.nonEmpty, "savepoint needs a name")
    savepoints.remove(name)
    savepoints(name) = enlisted.map { case (root, h) =>
      root -> h.log.ownStagedIds
    }.toMap
    ()
  }

  /** retract every staged commit made since `name`; savepoints set
    * AFTER it (now describing retracted state) drop, `name` survives
    * for repeated rollbacks — standard SQL savepoint semantics */
  def rollbackToSavepoint(name: String): Unit = {
    require(outcome.isEmpty, s"transaction $id already decided: $outcome")
    val floor = savepoints.getOrElse(name,
      throw new IllegalArgumentException(
        s"no savepoint '$name' in transaction $id"))
    enlisted.foreach { case (root, h) =>
      val retract = h.log.ownStagedIds -- floor.getOrElse(root, Set.empty)
      if (retract.nonEmpty) h.log.retractStaged(retract)
    }
    val ks = savepoints.keys.toSeq
    ks.drop(ks.indexOf(name) + 1).foreach(savepoints.remove)
    ()
  }

  /** forget `name` and every later savepoint (SQL RELEASE semantics);
    * staged work is untouched */
  def releaseSavepoint(name: String): Unit = {
    require(savepoints.contains(name),
      s"no savepoint '$name' in transaction $id")
    val ks = savepoints.keys.toSeq
    ks.drop(ks.indexOf(name)).foreach(savepoints.remove)
    ()
  }

  private def decide(d: String): Unit = {
    require(outcome.isEmpty, s"transaction $id already decided: $outcome")
    val marker = new Path(coordDir, s"$id.decision")
    fs.mkdirs(coordDir)
    val tmp = new Path(coordDir, s".tmp-$id-${System.nanoTime()}")
    val out = fs.create(tmp, false)
    try out.write(d.getBytes("UTF-8")) finally out.close()
    val won =
      try CommitStore.Filesystem.publishAtomic(fs, tmp, marker)
      finally { scala.util.Try(fs.delete(tmp, false)); () }
    val effective =
      if (won) d
      else { // decided concurrently (e.g. the stale-reaper aborted us)
        val in: java.io.InputStream = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    outcome = Some(effective)
    // eager materialization (any reader's next listing would do it too)
    enlisted.values.foreach { h =>
      h.log.staging = None
      h.log.latestId // listIds sweep renames/retires this txn's staging
      ()
    }
    if (effective != d)
      throw new CommitConflict(
        s"transaction $id was already decided '$effective' " +
          s"(attempted '$d') — staged commits followed that decision")
  }
}

object GraftTxn {

  /** Open a transaction. `coordDir` holds the begin/decision markers —
    * any shared location the participating writers and readers can
    * reach (e.g. `<warehouse>/_txns`). */
  def begin(spark: SparkSession, coordDir: String): GraftTxn = {
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val dir = new Path(coordDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = LocalFs.of(dir, hconf)
    fs.mkdirs(dir)
    // begin marker carries the open timestamp — the stale-reaper's clock
    val out = fs.create(new Path(dir, s"$id.begin"), false)
    try out.write(String.valueOf(System.currentTimeMillis())
      .getBytes("UTF-8")) finally out.close()
    new GraftTxn(spark, id, dir, hconf)
  }

  /** Abort every transaction older than `olderThanMs` with no decision —
    * the janitor for writers that crashed between stage and decide
    * (their staged commits block same-partition writers and cap
    * tails/checkpoints until decided). Publishing `abort` races any
    * late [[GraftTxn.commit]] safely: the atomic decision marker
    * arbitrates, exactly one outcome wins. Returns aborted txn ids. */
  def abortStale(spark: SparkSession, coordDir: String,
      olderThanMs: Long): Seq[String] = {
    val dir = new Path(coordDir)
    val fs = LocalFs.of(dir, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val now = System.currentTimeMillis()
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".begin"))
      .filter { s =>
        val txnId = s.getPath.getName.stripSuffix(".begin")
        val openedAt = scala.util.Try {
          val in: java.io.InputStream = fs.open(s.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
          finally in.close()
        }.getOrElse(s.getModificationTime)
        now - openedAt > olderThanMs &&
          !fs.exists(new Path(dir, s"$txnId.decision"))
      }
      .flatMap { s =>
        val txnId = s.getPath.getName.stripSuffix(".begin")
        val tmp = new Path(dir, s".tmp-reap-$txnId-${System.nanoTime()}")
        val out = fs.create(tmp, false)
        try out.write("abort".getBytes("UTF-8")) finally out.close()
        val won =
          try CommitStore.Filesystem.publishAtomic(
            fs, tmp, new Path(dir, s"$txnId.decision"))
          finally { scala.util.Try(fs.delete(tmp, false)); () }
        if (won) Some(txnId) else None
      }
  }
}
