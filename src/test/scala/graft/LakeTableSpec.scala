package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.{LakeTable, LakeTableConfig}

/** LakeTable semantics per SURVEY.md §5.1/§5.2: upsert insert/update/mixed,
  * precombine tie-break, stale batches, delete, empty batch, unpartitioned
  * variant, snapshot isolation / time travel, cleaner retention, crash
  * invisibility, and the reference's day-minus/0/1 CDC replay
  * (glue/NYTaxiDataPrep.py:37-48).
  */
class LakeTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory("laketest").resolve("tbl").toString

  private def cfg(root: String, part: Option[String] = Some("vendorid")) =
    LakeTableConfig(root, keyCols = Seq("pk"), precombineCol = "ts", partitionCols = part.toSeq)

  private def df(rows: (Long, Int, String, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("pk", "vendorid", "payload", "ts")
  }

  private def snap(t: LakeTable): Set[(Long, Int, String, Int)] = {
    import spark.implicits._
    t.read().select($"pk", $"vendorid", $"payload", $"ts")
      .as[(Long, Int, String, Int)].collect().toSet
  }

  test("mergePartitions: any unrecorded-bytes candidate raises to the parallelism floor") {
    // ADVICE r17 (medium): one legacy bytes=0 1 GB base file among
    // recorded 1 MB deltas summed to a >0 total that planned ~1
    // window-sort task — the r14 single-task regression. Mixed
    // recorded/unrecorded candidates must never plan BELOW the
    // defaultParallelism floor; fully-recorded candidates keep the
    // bytes-derived count; a bytes-derived count above the floor is
    // never reduced by an unrecorded straggler.
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    val p = spark.sparkContext.defaultParallelism
    def add(bytes: Long) = graft.lake.FileAdd("f", "1", bytes = bytes)
    val floor = math.min(p, 4 * p)
    // pure-legacy (all unrecorded) -> floor
    assert(t.mergePartitions(Seq(add(0), add(0))) == floor)
    // mixed: recorded bytes would plan 1 partition; the legacy file
    // raises it to the floor
    assert(t.mergePartitions(Seq(add(1L << 20), add(0))) == floor)
    // fully recorded stays bytes-derived (2 MB target -> 5 partitions)
    assert(t.mergePartitions(Seq(add(10L << 20))) == 5)
    // recorded count above the floor is not reduced by an unrecorded file
    val big = Seq.fill(2 * p)(add(2L << 20)) :+ add(0)
    assert(t.mergePartitions(big) == math.max(floor, 2 * p))
  }

  test("check constraints: violating write fails whole commit, table intact") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", partitionCols = Seq("vendorid"),
      checks = Map("ts_nonneg" -> "ts >= 0", "payload_short" -> "length(payload) < 10")))
    t.bulkInsert(df((1L, 1, "ok", 0)))
    val ex = intercept[Exception] {
      t.upsert(df((2L, 1, "fine", 1), (3L, 2, "bad", -5)))
    }
    assert(ex.getMessage.contains("ts_nonneg") ||
      Option(ex.getCause).exists(_.getMessage.contains("ts_nonneg")),
      s"error must name the constraint: ${ex.getMessage}")
    // the failed commit left nothing behind — not even the passing row
    assert(snap(t) == Set((1L, 1, "ok", 0)))
    assert(t.log.commits.size == 1)
    // a clean batch still goes through
    t.upsert(df((2L, 1, "fine", 1)))
    assert(snap(t) == Set((1L, 1, "ok", 0), (2L, 1, "fine", 1)))
  }

  test("check constraints: NULL passes (ANSI) — MoR tombstones unaffected") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", partitionCols = Seq("vendorid"),
      storageType = "mor", checks = Map("ts_nonneg" -> "ts >= 0")))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))
    t.delete(df((1L, 1, "a", 0)).select("pk", "vendorid"))
    assert(snap(t) == Set((2L, 1, "b", 0)))
    t.compact() // tombstone rows re-pass the guard during compaction
    assert(snap(t) == Set((2L, 1, "b", 0)))
  }

  test("checkMode=drop: violations filtered at ingest, counted; updates never delete keys") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"),
      checks = Map("ts_small" -> "ts < 100"), checkMode = "drop"))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "bad", 500), (3L, 2, "c", 1)))
    assert(snap(t) == Set((1L, 1, "a", 0), (3L, 2, "c", 1)))
    assert(t.log.commits.last.metadata
      .get("check.dropped.ts_small").contains("1"))
    // the violating UPDATE would WIN precombine (ts 999) — admission
    // filters it BEFORE the merge, so the table keeps its current row
    // instead of deleting the key
    t.upsert(df((1L, 1, "a2", 999), (4L, 2, "d", 2)))
    assert(snap(t) == Set((1L, 1, "a", 0), (3L, 2, "c", 1), (4L, 2, "d", 2)))
    assert(t.log.commits.last.metadata
      .get("check.dropped.ts_small").contains("1"))
    // clean batches record no dropped counts
    t.upsert(df((5L, 1, "e", 3)))
    assert(!t.log.commits.last.metadata.contains("check.dropped.ts_small"))
  }

  test("checkMode=warn: violations land, counted in commit metadata") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"),
      checks = Map("ts_small" -> "ts < 100"), checkMode = "warn"))
    // the violating rows LAND (DLT's plain expect: observe, don't gate)
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "bad", 500), (3L, 2, "c", 1)))
    assert(snap(t) == Set((1L, 1, "a", 0), (2L, 1, "bad", 500), (3L, 2, "c", 1)))
    assert(t.log.commits.last.metadata
      .get("check.warned.ts_small").contains("1"))
    // a violating UPDATE wins precombine and lands too — warn never gates
    t.upsert(df((1L, 1, "a2", 999), (4L, 2, "d", 2)))
    assert(snap(t) == Set((1L, 1, "a2", 999), (2L, 1, "bad", 500),
      (3L, 2, "c", 1), (4L, 2, "d", 2)))
    assert(t.log.commits.last.metadata
      .get("check.warned.ts_small").contains("1"))
    // clean batches record no warned counts
    t.upsert(df((5L, 1, "e", 3)))
    assert(!t.log.commits.last.metadata.contains("check.warned.ts_small"))
  }

  test("write-audit-publish: clone, audit writes, fast-forward publish") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 2, "c", 0)))
    val headBefore = t.log.latestId.get

    // WRITE: audited changes land on a shallow clone, source untouched
    val audit = t.shallowClone(freshRoot())
    audit.upsert(df((1L, 1, "a2", 5), (4L, 1, "d", 1)))
    audit.delete(df((3L, 2, "c", 0)).select("pk", "vendorid"))
    assert(snap(t) == Set((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 2, "c", 0)),
      "auditing must not touch the source")
    // the clone's timeline continues the source id space: every audit
    // write stamps above the source head (the publish stamp invariant)
    assert(audit.log.commits.head.id == headBefore + 1)

    // AUDIT: validation reads run against the audit table
    assert(snap(audit) == Set((1L, 1, "a2", 5), (2L, 2, "b", 0), (4L, 1, "d", 1)))

    // PUBLISH: one atomic commit, zero-copy
    val pub = t.publishFrom(audit)
    assert(snap(t) == snap(audit), "published source must equal the audit")
    assert(t.log.commits.last.op == "publish" && t.log.commits.last.id == pub)
    // incremental readers see every published row as after the old head
    assert(t.readIncremental(headBefore).select($"pk").as[Long].collect().toSet
      == Set(1L, 4L), "published rows invisible to an incremental read")
    // a second publish from the SAME audit is a no-op (already published)
    assert(t.publishFrom(audit) == pub)

    // maintenance on the published source never deletes audit-owned files
    t.upsert(df((5L, 1, "e", 1)))
    t.clean(retain = 1)
    assert(snap(t) == Set((1L, 1, "a2", 5), (2L, 2, "b", 0), (4L, 1, "d", 1),
      (5L, 1, "e", 1)))

    // OCC: a source that advanced since the clone refuses the publish
    val audit2 = t.shallowClone(freshRoot())
    audit2.upsert(df((6L, 2, "f", 1)))
    t.upsert(df((7L, 2, "g", 1))) // source moves first
    val ex = intercept[graft.lake.CommitConflict](t.publishFrom(audit2))
    assert(ex.getMessage.contains("fast-forward"), ex.getMessage)

    // a non-clone (or foreign-source) table refuses with provenance
    val stranger = LakeTable(spark, cfg(freshRoot()))
    stranger.bulkInsert(df((9L, 1, "x", 0)))
    val ex2 = intercept[IllegalArgumentException](t.publishFrom(stranger))
    assert(ex2.getMessage.contains("not a clone"), ex2.getMessage)
  }

  test("history reflects the timeline operations and file deltas") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    t.delete(df((2L, 2, "b", 0)).select("pk", "vendorid"))
    val h = t.history()
      .select($"commit_id", $"op", $"n_files_added", $"n_files_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(h.map(r => (r._1, r._2)).toSeq ==
      Seq((0L, "bulk_insert"), (1L, "upsert"), (2L, "delete")))
    assert(h(0)._3 > 0 && h(0)._4 == 0)
    assert(h(1)._4 > 0, "upsert supersedes files")
    val bytes = t.history().select($"bytes_added").as[Long].collect()
    assert(bytes.take(2).forall(_ > 0))
  }

  test("shallow clone: zero-copy snapshot, diverging writes, safe maintenance") {
    val srcRoot = freshRoot()
    val t = LakeTable(spark, cfg(srcRoot))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1)))

    val cloneRoot = freshRoot()
    val c = t.shallowClone(cloneRoot)
    assert(snap(c) == snap(t), "clone reads the source snapshot")
    // no data was copied: every referenced file lives under the source
    assert(c.log.liveFiles().forall(_.path.contains(srcRoot)))

    // writes diverge both ways
    c.upsert(df((3L, 1, "clone-only", 1)))
    t.upsert(df((4L, 2, "source-only", 1)))
    assert(snap(c) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (3L, 1, "clone-only", 1)))
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (4L, 2, "source-only", 1)))

    // clone maintenance must never delete borrowed (source-owned) files:
    // the upsert above superseded borrowed files in partition 1; clean
    // past it, then prove the source still reads intact
    c.clean(retain = 1)
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (4L, 2, "source-only", 1)),
      "cleaning the clone deleted source files")

    // rollback on a fresh clone retracts its own commit, keeps borrowed
    // files (clean() above forecloses rollback on `c` by design)
    val c2 = t.shallowClone(freshRoot())
    c2.upsert(df((9L, 1, "scratch", 1)))
    c2.rollback()
    assert(snap(c2) == snap(t), "rollback must restore the cloned snapshot")
    assert(snap(t).size == 3)

    // time-travel clone: pin an earlier source commit
    val c0 = t.shallowClone(freshRoot(), asOf = Some(0L))
    assert(snap(c0) == Set((1L, 1, "a", 0), (2L, 2, "b", 0)))
  }

  test("bulk insert then read returns the data plus metadata columns") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    val out = t.read()
    assert(out.columns.toSet.contains("_commit_id"))
    assert(out.columns.toSet.contains("_record_key"))
    assert(snap(t) == Set((1L, 1, "a", 0), (2L, 2, "b", 0)))
  }

  test("upsert updates matched keys, inserts new, leaves rest") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (3L, 1, "c", 1)))
  }

  test("stale precombine loses to the row already in the table") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "new", 5)))
    t.upsert(df((1L, 1, "old", 3)))
    assert(snap(t) == Set((1L, 1, "new", 5)))
  }

  test("equal precombine: later commit wins") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "first", 5)))
    t.upsert(df((1L, 1, "second", 5)))
    assert(snap(t) == Set((1L, 1, "second", 5)))
  }

  test("duplicate keys within one batch: highest precombine wins") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((9L, 1, "seed", 0)))
    t.upsert(df((1L, 1, "v1", 1), (1L, 1, "v2", 2), (1L, 1, "stale", 0)))
    assert(snap(t) == Set((9L, 1, "seed", 0), (1L, 1, "v2", 2)))
  }

  test("delete removes keys; other partitions untouched") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 1, "c", 0)))
    t.delete(df((1L, 1, "ignored", 0)))
    assert(snap(t) == Set((2L, 2, "b", 0), (3L, 1, "c", 0)))
  }

  test("empty upsert and empty delete are no-ops (no new commit)") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    val before = t.log.latestId
    t.upsert(df().limit(0))
    t.delete(df().limit(0))
    assert(t.log.latestId == before)
  }

  test("time travel: each commit's snapshot is reproducible") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0)))
    val c1 = t.upsert(df((1L, 1, "a2", 1)))
    val c2 = t.upsert(df((2L, 2, "b", 2)))
    import spark.implicits._
    def at(id: Long) = t.readAsOf(id).select($"pk", $"payload")
      .as[(Long, String)].collect().toSet
    assert(at(c0) == Set((1L, "a")))
    assert(at(c1) == Set((1L, "a2")))
    assert(at(c2) == Set((1L, "a2"), (2L, "b")))
    intercept[IllegalArgumentException](t.readAsOf(99))
  }

  test("unpartitioned variant (NonpartitionedKeyGenerator path)") {
    val t = LakeTable(spark, cfg(freshRoot(), part = None))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((2L, 2, "b2", 1)))
    t.delete(df((1L, 1, "x", 0)))
    assert(snap(t) == Set((2L, 2, "b2", 1)))
  }

  test("upsert is idempotent") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    val b = df((1L, 1, "a2", 1), (2L, 1, "b", 1))
    t.upsert(b)
    val once = snap(t)
    t.upsert(b)
    assert(snap(t) == once)
  }

  test("orphan data files (crashed write) are invisible to readers") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    val before = snap(t)
    // simulate a crashed write: parquet lands in the data area, no commit
    df((666L, 1, "ghost", 9)).write
      .parquet(t.config.root + "/data/c99999999-dead/_part=1")
    assert(snap(t) == before)
  }

  test("vacuumOrphans sweeps crashed-write directories, never live ones") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    val before = snap(t)
    df((666L, 1, "ghost", 9)).write
      .parquet(t.config.root + "/data/c99999999-dead/_part=1")
    // a fresh orphan survives a threshold-guarded vacuum (in-flight
    // writer protection)...
    assert(t.vacuumOrphans(olderThanMs = 60000).isEmpty)
    // ...and is swept once older than the threshold
    val gone = t.vacuumOrphans(olderThanMs = 0)
    assert(gone.size == 1 && gone.head.contains("c99999999-dead"), gone)
    assert(snap(t) == before)
    // superseded-but-retained files (time travel) are still referenced:
    // a second vacuum deletes nothing and readAsOf still works
    assert(t.vacuumOrphans(olderThanMs = 0).isEmpty)
    assert(t.readAsOf(0).count() == 1)
  }

  test("delete removes rows in null and empty-string partitions") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("cat")))
    val rows = Seq((1L, Option.empty[String], "a", 0), (2L, Some(""), "b", 0),
      (3L, Some("x"), "c", 0)).toDF("pk", "cat", "payload", "ts")
    t.bulkInsert(rows)
    // keys carry the partition column (null / empty values included)
    t.delete(Seq((1L, Option.empty[String]), (2L, Some("")))
      .toDF("pk", "cat"))
    val out = t.read().select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(out == Set((3L, "c")))
    // upsert into the empty-string partition also prunes correctly
    t.upsert(Seq((3L, Some("x"), "c2", 1), (4L, Some(""), "d", 1))
      .toDF("pk", "cat", "payload", "ts"))
    val out2 = t.read().select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(out2 == Set((3L, "c2"), (4L, "d")))
  }

  test("clean(0) is rejected; retain >= 1 enforced") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    intercept[IllegalArgumentException](t.clean(0))
  }

  test("multi-column partition paths: nested layout, pruned rewrite") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("region", "vendorid")))
    val rows = Seq((1L, "eu", 1, "a", 0), (2L, "eu", 2, "b", 0), (3L, "us", 1, "c", 0))
      .toDF("pk", "region", "vendorid", "payload", "ts")
    t.bulkInsert(rows)
    // partition tuples recorded per file, two levels deep
    assert(t.log.liveFiles().map(_.partition).toSet ==
      Set(Seq("eu", "1"), Seq("eu", "2"), Seq("us", "1")).map(_.mkString(LakeTable.PartSep)))
    val before = t.log.liveFiles().map(_.path).toSet
    t.upsert(Seq((1L, "eu", 1, "a2", 1)).toDF("pk", "region", "vendorid", "payload", "ts"))
    // only the (eu,1) partition's file was replaced
    val removed = before -- t.log.liveFiles().map(_.path).toSet
    assert(removed.forall(_.contains("__gp0=eu")), removed.toString)
    assert(removed.forall(_.contains("__gp1=1")), removed.toString)
    val out = t.read().select($"pk", $"region", $"vendorid", $"payload")
      .as[(Long, String, Int, String)].collect().toSet
    assert(out == Set((1L, "eu", 1, "a2"), (2L, "eu", 2, "b"), (3L, "us", 1, "c")))
  }

  test("hash buckets: unpartitioned upsert rewrites only touched buckets") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      hashBuckets = 8))
    t.bulkInsert(df((1L to 32L).map(i => (i, 1, s"p$i", 0)): _*))
    val filesBefore = t.log.liveFiles().map(_.path).toSet
    assert(t.log.liveFiles().map(_.partition).toSet.size > 1, "multiple buckets expected")
    t.upsert(df((5L, 1, "upd", 1)))
    val filesAfter = t.log.liveFiles().map(_.path).toSet
    val removed = filesBefore -- filesAfter
    assert(removed.size < filesBefore.size,
      s"bucket pruning should rewrite a strict subset (${removed.size}/${filesBefore.size})")
    assert(snap(t).contains((5L, 1, "upd", 1)))
    assert(snap(t).size == 32)
    // delete prunes by bucket too
    t.delete(df((6L, 1, "x", 0)))
    assert(snap(t).size == 31 && !snap(t).exists(_._1 == 6L))
  }

  private def morCfg(root: String) = LakeTableConfig(root, Seq("pk"), "ts",
    partitionCols = Seq("vendorid"), storageType = "mor")

  test("merge-on-read: delta upserts merge at read time") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))
    t.upsert(df((1L, 1, "stale", 0)))            // must lose to ts=1
    assert(t.log.liveFiles().count(_.isDelta) > 0, "upserts should be deltas")
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (3L, 1, "c", 1)))
  }

  test("merge-on-read: tombstone delete wins over earlier writes, loses to later") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 5), (2L, 1, "b", 5)))
    t.delete(df((1L, 1, "x", 0)))                 // no partition col needed
    assert(snap(t) == Set((2L, 1, "b", 5)))
    t.upsert(df((1L, 1, "reborn", 1)))            // later commit revives key
    assert(snap(t) == Set((1L, 1, "reborn", 1), (2L, 1, "b", 5)))
  }

  test("merge-on-read: read-optimized view sees base files only") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1), (2L, 1, "b", 1)))   // delta, not merged
    import spark.implicits._
    def ro = t.readOptimized().select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(ro == Set((1L, "a")))                       // stale but cheap
    t.compact()
    assert(ro == Set((1L, "a2"), (2L, "b")))           // caught up after compact
  }

  test("merge-on-read: compact rewrites deltas into base; snapshot unchanged") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    t.delete(df((2L, 2, "x", 0)))
    val before = snap(t)
    t.compact()
    assert(t.log.liveFiles().forall(!_.isDelta), "compaction leaves only base")
    assert(snap(t) == before)
    assert(snap(t) == Set((1L, 1, "a2", 1)))
    // compaction is a no-op when nothing to merge
    val last = t.log.latestId
    t.compact()
    assert(t.log.latestId == last)
  }

  test("null partition values route to the hive default directory and back") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    val rows = Seq((1L, Some(1), "a", 0), (2L, Option.empty[Int], "b", 0))
      .toDF("pk", "vendorid", "payload", "ts")
    t.bulkInsert(rows)
    t.upsert(Seq((2L, Option.empty[Int], "b2", 1)).toDF("pk", "vendorid", "payload", "ts"))
    val out = t.read().select($"pk", $"vendorid", $"payload")
      .as[(Long, Option[Int], String)].collect().toSet
    assert(out == Set((1L, Some(1), "a"), (2L, None, "b2")))
    assert(t.log.liveFiles().exists(_.partition == LakeTable.NullPartition))
  }

  test("inline compaction triggers after compactEvery delta commits") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor", compactEvery = 2))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))                 // delta 1
    assert(t.log.liveFiles().exists(_.isDelta))
    t.upsert(df((2L, 1, "b", 1)))                  // delta 2 -> auto compact
    assert(t.log.liveFiles().forall(!_.isDelta), "inline compaction should have run")
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 1, "b", 1)))
  }

  test("bucketed MoR snapshot read: untouched buckets bypass the merge shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
        storageType = "mor", hashBuckets = 8))
      t.bulkInsert(df((1L to 32L).map(i => (i, 1, s"p$i", 0)): _*))
      t.upsert(df((5L, 1, "upd", 1))) // one delta, in pk=5's bucket only
      val deltaBuckets = t.log.liveFiles().filter(_.isDelta).map(_.partition).toSet
      assert(deltaBuckets.size == 1)
      assert(snap(t) ==
        (1L to 32L).map(i => if (i == 5L) (i, 1, "upd", 1) else (i, 1, s"p$i", 0)).toSet)
      // the merge shuffle must cover ONLY the delta-touched bucket's files;
      // every untouched bucket streams base files with no Exchange above
      val plan = t.read().queryExecution.executedPlan
      def norm(s: String): String =
        new org.apache.hadoop.fs.Path(s).toUri.getPath
      def files(p: org.apache.spark.sql.execution.SparkPlan): Set[String] =
        p.collect { case f: FileSourceScanExec => f }
          .flatMap(_.relation.location.inputFiles)
          .map(norm).toSet
      val shuffled = plan.collect { case s: ShuffleExchangeExec => s }
        .flatMap(files).toSet
      assert(shuffled.nonEmpty, "expected a key-shuffle over the dirty bucket")
      val (dirtyFiles, cleanFiles) = t.log.liveFiles()
        .partition(f => deltaBuckets.contains(f.partition))
      assert(cleanFiles.nonEmpty)
      cleanFiles.foreach(f => assert(!shuffled.contains(norm(f.path)),
        s"untouched-bucket file entered the merge shuffle: ${f.path}"))
      assert(shuffled.subsetOf(dirtyFiles.map(f => norm(f.path)).toSet),
        s"shuffle read beyond the dirty bucket: $shuffled")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("partial compaction rewrites only file groups holding deltas") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 3, "c", 0)))
    val before = t.log.liveFiles().groupBy(_.partition)
      .view.mapValues(_.map(_.path).toSet).toMap
    t.upsert(df((1L, 1, "a2", 1)))    // delta lands in partition 1 only
    t.compact()
    val after = t.log.liveFiles().groupBy(_.partition)
      .view.mapValues(_.map(_.path).toSet).toMap
    assert(t.log.liveFiles().forall(!_.isDelta))
    assert(after("2") == before("2"), "partition 2 had no deltas; compaction rewrote it")
    assert(after("3") == before("3"), "partition 3 had no deltas; compaction rewrote it")
    assert(after("1") != before("1"), "partition 1 must be compacted")
    assert(snap(t) == Set((1L, 1, "a2", 1), (2L, 2, "b", 0), (3L, 3, "c", 0)))
  }

  test("small-file compaction bins delta floods; snapshot unchanged") {
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (9L, 2, "other", 0)))
    // a stream of micro-batch upserts floods partition 1 with tiny deltas
    (1 to 8).foreach(i => t.upsert(df((1L, 1, s"v$i", i), (2L, 1, s"w$i", i))))
    t.delete(df((2L, 1, "x", 0)))  // tombstone delta must survive binning
    val before = snap(t)
    assert(before == Set((1L, 1, "v8", 8), (9L, 2, "other", 0)))
    val deltasBefore = t.log.liveFiles().count(_.isDelta)
    assert(deltasBefore >= 9, s"expected a delta flood, got $deltasBefore")
    t.compactSmall()
    val deltasAfter = t.log.liveFiles().count(_.isDelta)
    assert(deltasAfter < deltasBefore,
      s"binning must shrink the delta count ($deltasBefore -> $deltasAfter)")
    assert(deltasAfter <= 2, s"expected tight binning, got $deltasAfter")
    assert(snap(t) == before, "binning must not change the snapshot")
    // commit-id/tombstone semantics survive: a stale upsert still loses
    t.upsert(df((1L, 1, "stale", 3)))
    assert(snap(t) == before)
    // nothing left to bin: no-op, no new commit
    t.compactSmall()
    val last = t.log.latestId
    t.compactSmall()
    assert(t.log.latestId == last)
    // full compaction after binning still converges to the same snapshot
    t.compact()
    assert(t.log.liveFiles().forall(!_.isDelta))
    assert(snap(t) == before)
  }

  test("tailStream: MoR delta commits arrive as an append-only change stream") {
    import spark.implicits._
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "base", 0)))          // base files: NOT in the tail
    t.upsert(df((1L, 1, "v1", 1), (2L, 1, "w", 1)))
    val q = t.tailStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("lake_tail")
      .start()
    try {
      q.processAllAvailable()
      def rows() = spark.sql(
        "SELECT pk, payload, _deleted, _commit_id FROM lake_tail")
        .as[(Long, String, Boolean, Long)].collect().toSet
      assert(rows() == Set((1L, "v1", false, 1L), (2L, "w", false, 1L)))
      // live tailing: a later upsert and a tombstone stream in append-only
      t.upsert(df((1L, 1, "v2", 2)))
      t.delete(df((2L, 1, "x", 0)))
      q.processAllAvailable()
      val r = rows()
      assert(r.contains((1L, "v2", false, 2L)))
      assert(r.exists { case (pk, _, del, cid) => pk == 2L && del && cid == 3L })
      assert(r.size == 4, s"append-only: all delta rows retained: $r")
    } finally q.stop()
  }

  test("merge-on-read equals copy-on-write over the same batch sequence") {
    val batches = Seq(
      df((1L, 1, "a", 2), (2L, 2, "b", 2), (3L, 1, "c", 2)),
      df((1L, 1, "upd", 3), (4L, 3, "d", 1)),
      df((3L, 1, "stale", 0)))
    val cow = LakeTable(spark, cfg(freshRoot()))
    val mor = LakeTable(spark, morCfg(freshRoot()))
    batches.foreach { b => cow.upsert(b); mor.upsert(b) }
    cow.delete(df((2L, 2, "x", 0)))
    mor.delete(df((2L, 2, "x", 0)))
    assert(snap(cow) == snap(mor))
    mor.compact()
    assert(snap(cow) == snap(mor))
  }

  test("schema evolution: upsert with a new column widens the table") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    import spark.implicits._
    val widened = Seq((2L, 1, "b", 1, "extra")).toDF("pk", "vendorid", "payload", "ts", "note")
    t.upsert(widened)
    val out = t.read().select($"pk", $"note").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, None), (2L, Some("extra"))))
  }

  test("incremental read: current row versions ingested after a commit") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))
    t.upsert(df((1L, 1, "stale", 0)))  // loses: must NOT appear incremental
    import spark.implicits._
    val inc = t.readIncremental(c0)
      .select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(inc == Set((1L, "a2"), (3L, "c")))  // key 2 unchanged since c0
  }

  test("change-data-feed: inserts, updates and deletes between commits") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 3, "c", 0)))
    t.upsert(df((1L, 1, "a2", 1), (4L, 1, "new", 1)))  // update 1, insert 4
    t.upsert(df((2L, 2, "stale", -1)))                 // loses: NOT a change
    val cN = t.delete(df((3L, 3, "x", 0)))             // delete 3
    val changes = t.changesBetween(c0, cN)
      .select($"_change_type", $"pk", $"payload", $"ts")
      .as[(String, Long, String, Int)].collect().toSet
    assert(changes == Set(
      ("update", 1L, "a2", 1),
      ("insert", 4L, "new", 1),
      ("delete", 3L, "c", 0)))   // delete carries the OLD values
    // a window covering only the delete commit reports just that delete
    val tail = t.changesBetween(cN - 1, cN)
      .select($"_change_type", $"pk").as[(String, Long)].collect().toSet
    assert(tail == Set(("delete", 3L)))
    intercept[IllegalArgumentException](t.changesBetween(cN, cN))
  }

  test("graft data source: format(\"graft\") reads snapshots, asOf, MoR, pushdown") {
    import spark.implicits._
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), statsCols = Seq("ts")))
    val c0 = t.bulkInsert(df((1L, 1, "a", 1), (2L, 2, "b", 5)))
    t.upsert(df((1L, 1, "a2", 9)))
    def src = spark.read.format("graft")
      .option("keyCols", "pk").option("precombineCol", "ts")
      .option("partitionCols", "vendorid").option("statsCols", "ts")
    // latest snapshot through the data source API
    val out = src.load(root).select($"pk", $"payload", $"ts")
      .as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "a2", 9), (2L, "b", 5)))
    // filter pushdown flows into the stats-pruned read and stays correct
    val filtered = src.load(root).filter($"ts" === 5)
      .select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(filtered == Set((2L, "b")))
    // time travel via option
    val at0 = src.option("asOf", c0.toString).load(root)
      .select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(at0 == Set((1L, "a"), (2L, "b")))
    // MoR tables merge deltas through the source
    val mroot = freshRoot()
    val m = LakeTable(spark, morCfg(mroot))
    m.bulkInsert(df((1L, 1, "x", 0)))
    m.upsert(df((1L, 1, "x2", 1), (2L, 1, "y", 1)))
    val mOut = spark.read.format("graft")
      .option("keyCols", "pk").option("precombineCol", "ts")
      .option("partitionCols", "vendorid").option("storageType", "mor")
      .load(mroot)
      .select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(mOut == Set((1L, "x2"), (2L, "y")))
  }

  test("graft data source: readChangeFeed serves the batch CDF window") {
    import spark.implicits._
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, Seq("pk"), "ts",
      partitionCols = Seq("vendorid")))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))    // c0
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))       // c1
    t.delete(Seq(2L).toDF("pk"))                          // c2
    def cdf = spark.read.format("graft")
      .option("keyCols", "pk").option("precombineCol", "ts")
      .option("partitionCols", "vendorid")
      .option("readChangeFeed", "true")
    // startingVersion is INCLUSIVE (the Delta contract): from c1 on
    val all = cdf.option("startingVersion", "1").load(root)
      .select($"pk", $"payload", $"_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(all == Set((1L, "a2", "update"), (3L, "c", "insert"),
      (2L, "b", "delete")))
    // endingVersion bounds the window; preImages splits updates
    val w = cdf.option("startingVersion", "1").option("endingVersion", "1")
      .option("preImages", "true").load(root)
      .select($"pk", $"payload", $"_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(w == Set((1L, "a2", "update_postimage"), (1L, "a", "update_preimage"),
      (3L, "c", "insert")))
    // missing startingVersion refuses loud
    intercept[Exception](cdf.load(root).collect())
  }

  test("graft data source write: SaveMode maps onto table operations") {
    import spark.implicits._
    val root = freshRoot()
    def w(rows: DataFrame) = rows.write.format("graft")
      .option("keyCols", "pk").option("precombineCol", "ts")
      .option("partitionCols", "vendorid")
    // ErrorIfExists = bulk insert, refuses a second time
    w(df((1L, 1, "a", 0), (2L, 2, "b", 0))).mode("error").save(root)
    intercept[IllegalArgumentException](
      w(df((9L, 9, "x", 0))).mode("error").save(root))
    // Append = upsert with precombine
    w(df((1L, 1, "a2", 1), (3L, 1, "c", 1))).mode("append").save(root)
    w(df((1L, 1, "stale", 0))).mode("append").save(root)
    def readBack = spark.read.format("graft")
      .option("keyCols", "pk").option("precombineCol", "ts")
      .option("partitionCols", "vendorid").load(root)
      .select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(readBack == Set((1L, "a2"), (2L, "b"), (3L, "c")))
    // Overwrite = insertOverwrite of the touched partition
    w(df((7L, 1, "only", 0))).mode("overwrite").save(root)
    assert(readBack == Set((7L, "only"), (2L, "b")))
    // Ignore = no-op on an existing table
    w(df((8L, 8, "ignored", 0))).mode("ignore").save(root)
    assert(readBack == Set((7L, "only"), (2L, "b")))
  }

  test("catalog sync: persistent table with partitions, auto-resynced") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.syncToCatalog("synced_tbl", "graftdb")
    assert(spark.catalog.tableExists("graftdb.synced_tbl"))
    // a real external table, not a temp view
    assert(spark.catalog.getTable("graftdb", "synced_tbl").tableType == "EXTERNAL")
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_tbl")
      .collect()(0).getLong(0) == 1L)
    def parts(): Set[String] =
      spark.sql("SHOW PARTITIONS graftdb.synced_tbl")
        .collect().map(_.getString(0)).toSet
    assert(parts() == Set("vendorid=1"))
    // a later commit re-syncs WITHOUT another syncToCatalog call and
    // registers the new partition
    t.upsert(df((2L, 2, "b", 1)))
    assert(parts() == Set("vendorid=1", "vendorid=2"))
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_tbl")
      .collect()(0).getLong(0) == 2L)
    // partition pruning happens against the catalog: values come back right
    import spark.implicits._
    val row = spark.sql(
      "SELECT pk, payload FROM graftdb.synced_tbl WHERE vendorid = 2")
      .as[(Long, String)].collect().toSet
    assert(row == Set((2L, "b")))
  }

  test("catalog sync before any commit defers until the first write") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.syncToCatalog("synced_pre", "graftdb") // no commits yet: must not crash
    assert(!spark.catalog.tableExists("graftdb.synced_pre"))
    t.bulkInsert(df((1L, 1, "a", 0))) // first commit performs the sync
    assert(spark.catalog.tableExists("graftdb.synced_pre"))
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_pre")
      .collect()(0).getLong(0) == 1L)
  }

  test("catalog sync: multi-column partitions + hash bucket register correctly") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts",
      partitionCols = Seq("vendorid", "payload"), hashBuckets = 2))
    t.bulkInsert(df((1L, 1, "x", 0), (2L, 2, "y", 0)))
    t.syncToCatalog("synced_multi", "graftdb")
    val parts = spark.sql("SHOW PARTITIONS graftdb.synced_multi")
      .collect().map(_.getString(0)).toSet
    // every spec is a 3-level vendorid/payload/_bucket path
    assert(parts.nonEmpty)
    assert(parts.forall(_.matches("vendorid=\\d+/payload=\\w+/_bucket=\\d+")), parts)
    import spark.implicits._
    val out = spark.sql(
      "SELECT pk, payload FROM graftdb.synced_multi WHERE vendorid = 2")
      .as[(Long, String)].collect().toSet
    assert(out == Set((2L, "y")))
  }

  test("catalog sync: unpartitioned table tracks the latest rewrite") {
    val t = LakeTable(spark, cfg(freshRoot(), part = None))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.syncToCatalog("synced_flat", "graftdb")
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_flat")
      .collect()(0).getLong(0) == 1L)
    t.upsert(df((1L, 1, "a2", 1), (2L, 1, "b", 1)))
    import spark.implicits._
    val out = spark.sql("SELECT pk, payload FROM graftdb.synced_flat")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2"), (2L, "b")))
  }

  test("concurrent writers on one commit id: one winner, one clean failure") {
    import graft.lake.{Commit, CommitLog}
    val log = new CommitLog(freshRoot(), spark.sparkContext.hadoopConfiguration)
    val id = log.nextId
    // two writers both resolved nextId before either published (the race
    // the single-writer contract must turn into a clean loser, not a
    // silent clobber)
    log.append(Commit(id, "upsert", 1L, "{}", Seq.empty, Seq.empty))
    val ex = intercept[IllegalStateException](
      log.append(Commit(id, "upsert", 2L, "{}", Seq.empty, Seq.empty)))
    assert(ex.getMessage.contains("concurrent writer"))
    // the first writer's commit content survives untouched
    assert(log.read(id).tsMillis == 1L)
    // and the loser can retry cleanly on the next id
    val id2 = log.nextId
    assert(id2 == id + 1)
    log.append(Commit(id2, "upsert", 2L, "{}", Seq.empty, Seq.empty))
    assert(log.read(id2).tsMillis == 2L)
  }

  test("optimistic concurrency: stale writer with a DIFFERENT id fails cleanly") {
    import graft.lake.{Commit, CommitLog}
    val log = new CommitLog(freshRoot(), spark.sparkContext.hadoopConfiguration)
    log.append(Commit(0L, "bulk_insert", 1L, "{}", Seq.empty, Seq.empty),
      basedOnLatest = log.EmptyTable)
    // writers A and B both resolve their snapshot at head=0, then B
    // publishes first; A later resolves a FRESH id (1 is taken → 2 via a
    // retry path) but still merged from head=0 — the lost-update anomaly
    // the same-id guard cannot catch
    log.append(Commit(1L, "upsert", 2L, "{}", Seq.empty, Seq.empty),
      basedOnLatest = 0L)
    val ex = intercept[IllegalStateException](
      log.append(Commit(2L, "upsert", 3L, "{}", Seq.empty, Seq.empty),
        basedOnLatest = 0L))
    assert(ex.getMessage.contains("stale write"))
    // B's commit survives untouched; A retries from the current head
    assert(log.latestId.contains(1L))
    log.append(Commit(2L, "upsert", 4L, "{}", Seq.empty, Seq.empty),
      basedOnLatest = 1L)
    assert(log.latestId.contains(2L))
  }

  test("optimistic concurrency: stale table writer leaves no orphan commit") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    // simulate an interleaved foreign commit between snapshot resolution
    // and publish by appending directly to the log with a raw (unchecked)
    // append — then the table's next write must observe it, not clobber it
    import graft.lake.Commit
    t.log.append(Commit(t.log.nextId, "upsert", 99L,
      t.read().schema.json, Seq.empty, Seq.empty))
    // the table object resolves a fresh snapshot including the foreign
    // commit, so its write is NOT stale and must succeed — and the rows
    // live at the foreign commit's time survive the merge
    t.upsert(df((2L, 1, "b", 1)))
    assert(snap(t) == Set((1L, 1, "a", 0), (2L, 1, "b", 1)))
    assert(t.log.latestId.contains(2L))
  }

  test("lookup scans only key-range candidate files for point reads") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot(), part = None))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.bulkInsert((1 to 200).map(i => (i.toLong, 1, s"p$i", 0))
      .toDF("pk", "vendorid", "payload", "ts"))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val total = t.read().inputFiles.length
    assert(total > 1)
    val hit = t.lookup(Seq(42L).toDF("pk"))
    assert(hit.inputFiles.length < total,
      s"point read must scan a strict subset of $total files")
    assert(hit.select($"pk", $"payload").as[(Long, String)].collect().toSet ==
      Set((42L, "p42")))
    // absent key: nothing
    assert(t.lookup(Seq(9999L).toDF("pk")).count() == 0)
    // MoR: merged version wins, deleted key vanishes
    val m = LakeTable(spark, morCfg(freshRoot()))
    m.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))
    m.upsert(df((1L, 1, "a2", 1)))
    m.delete(df((2L, 1, "x", 0)))
    assert(m.lookup(Seq(1L).toDF("pk")).select($"payload")
      .as[String].collect().toSet == Set("a2"))
    assert(m.lookup(Seq(2L).toDF("pk")).count() == 0)
  }

  test("commit log records per-file key ranges from parquet footers") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot(), part = None))
    // AQE would rightly coalesce this tiny shuffle into one file; disable
    // it here so the range clustering yields several files to inspect
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.bulkInsert((1 to 200).map(i => (i.toLong, 1, s"p$i", 0))
      .toDF("pk", "vendorid", "payload", "ts"))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val files = t.log.liveFiles()
    // unpartitioned writes range-cluster by key → several files
    assert(files.size > 1)
    assert(files.forall(_.hasKeyRange))
    files.foreach(f => assert(f.kmin <= f.kmax))
    // the recorded ranges jointly cover every written key
    (1 to 200).map(_.toString).foreach(k =>
      assert(files.exists(f => f.kmin <= k && k <= f.kmax), s"key $k uncovered"))
    // and they are DISJOINT in string space — clustering happens on the
    // materialized _record_key, the same order the footer stats use (a
    // native-numeric-order clustering would give overlapping string
    // ranges that prune nothing)
    val sorted = files.sortBy(_.kmin)
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a.kmax < b.kmin, s"overlapping ranges [${a.kmin},${a.kmax}] / [${b.kmin},${b.kmax}]")
    }
  }

  test("rollback restores the previous snapshot; timeline continues") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    val before = snap(t)
    t.upsert(df((1L, 1, "a2", 1), (2L, 2, "b", 1)))
    assert(snap(t) != before)
    assert(t.rollback().contains(1L))
    assert(snap(t) == before)
    // the retracted id is retired forever (commit JSONs stay immutable
    // per id for any reader) — the next write takes a FRESH id
    t.upsert(df((3L, 1, "c", 1)))
    assert(snap(t) == before + ((3L, 1, "c", 1)))
    assert(t.log.latestId.contains(2L))
    // after cleaning, the horizon blocks rollback
    t.upsert(df((4L, 1, "d", 2)))
    t.clean(retain = 1)
    intercept[IllegalArgumentException](t.rollback())
  }

  test("bulkInsert after rollbacks stamps rows with the RESOLVED commit id") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.rollback() // retires id 0; the timeline is empty again
    val cid = t.bulkInsert(df((2L, 1, "b", 0)))
    assert(cid == 1L, "retired ids are never reused")
    // incremental/CDC readers filter _commit_id > from — a hard-coded 0
    // stamp would hide the reload from every window that saw commit 0
    assert(t.read().select("_commit_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.readIncremental(0L).count() == 1)
  }

  test("rollback of the only commit drops the synced catalog table") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.syncToCatalog("synced_rb", "graftdb")
    assert(spark.catalog.tableExists("graftdb.synced_rb"))
    t.rollback()
    assert(!spark.catalog.tableExists("graftdb.synced_rb"),
      "an empty timeline must not leave a dangling catalog table")
    // the next first write re-registers it
    t.upsert(df((2L, 1, "b", 1)))
    assert(spark.catalog.tableExists("graftdb.synced_rb"))
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_rb")
      .collect()(0).getLong(0) == 1L)
  }

  test("column stats skip files whose range cannot satisfy the predicate") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      statsCols = Seq("ts", "payload")))
    // zero-padded keys: string clustering order == numeric order, so the
    // range-clustered files carry DISJOINT ts ranges (the well-clustered
    // regime column stats are built for)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.bulkInsert((1 to 200).map(i => (f"k$i%03d", 1, s"p$i", i))
      .toDF("pk", "vendorid", "payload", "ts"))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val total = t.read().inputFiles.length
    assert(total > 1, "need several files to demonstrate skipping")
    // range predicate on a stats column prunes the file LIST
    val pruned = t.read(col("ts") <= 10)
    assert(pruned.inputFiles.length < total,
      s"expected fewer than $total files for ts <= 10")
    assert(pruned.select($"pk", $"ts").as[(String, Int)].collect().toSet ==
      (1 to 10).map(i => (f"k$i%03d", i)).toSet)
    // equality + IN + conjunction shapes prune too and stay correct
    val eq = t.read(col("ts") === 150)
    assert(eq.inputFiles.length < total)
    assert(eq.select($"pk").as[String].collect().toSet == Set("k150"))
    val in = t.read(col("ts").isin(5, 6))
    assert(in.inputFiles.length < total)
    assert(in.count() == 2)
    // string-typed stats column
    val st = t.read(col("payload") === "p42")
    assert(st.select($"pk").as[String].collect().toSet == Set("k042"))
    // a predicate no file satisfies reads nothing
    assert(t.read(col("ts") > 10000).count() == 0)
    // unsupported shapes are conservative, never wrong
    assert(t.read(length(col("payload")) > 1).count() == 200L)
  }

  test("stats skipping applies to version-pinned reads, across later renames") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      statsCols = Seq("ts")))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      t.bulkInsert((1 to 200).map(i => (f"k$i%03d", s"p$i", i))
        .toDF("pk", "payload", "ts"))
      val pin = t.log.latestId.get
      // post-pin activity: rename a non-stats column, then grow the table
      t.renameColumn("payload", "body")
      t.upsert((201 to 400).map(i => (f"k$i%03d", s"p$i", i))
        .toDF("pk", "body", "ts"))
      val total = t.readAsOf(pin).inputFiles.length
      assert(total > 1, "need several files to demonstrate skipping")
      // the pinned read prunes its file list (resolution against the
      // PINNED schema — the head schema has renamed 'payload' away)
      val pruned = t.read(col("ts") <= 10, Some(pin))
      assert(pruned.inputFiles.length < total,
        s"pinned read scanned all $total files — stats skipping lost")
      assert(pruned.select($"pk").as[String].collect().toSet ==
        (1 to 10).map(i => f"k$i%03d").toSet)
      assert(pruned.columns.contains("payload") && !pruned.columns.contains("body"),
        "pinned read must expose the pinned version's column names")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("recluster folds MoR deltas into cluster order; snapshot and provenance unchanged") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor",
      clusterCols = Seq("ts"), statsCols = Seq("ts", "vendorid")))
    def rows(pks: Range, vendor: Int, ts: Int => Int) =
      pks.map(i => (i.toLong, vendor, s"p$i", ts(i))).toDF("pk", "vendorid", "payload", "ts")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      t.bulkInsert(rows(1 to 100, 1, identity).union(rows(1001 to 1010, 2, _ - 1000)))
      // scattered-ts delta appends: each delta file spans the whole ts
      // range, so file stats are useless until the rewrite re-sorts
      (0 until 4).foreach(j =>
        t.upsert(rows(200 + j * 100 to 203 + j * 100, 1, i => (i * 37) % 100)))
      t.upsert(rows(1101 to 1103, 2, _ - 1090))
      val before = t.read().select($"pk", $"vendorid", $"payload", $"ts")
        .as[(Long, Int, String, Int)].collect().toSet
      val stampsBefore = t.read().groupBy($"_commit_id").count()
        .as[(Long, Long)].collect().toSet
      def kindsOf(vendor: String) = t.log.liveFiles()
        .filter(_.partition == vendor).map(_.kind).toSet
      assert(kindsOf("1").contains("delta") && kindsOf("2").contains("delta"))

      // incremental: rewrite only vendor 1's file groups
      t.recluster(Some(col("vendorid") === 1))
      assert(kindsOf("1") == Set("base"), "vendor 1 must be fully folded")
      assert(kindsOf("2").contains("delta"), "vendor 2 must be untouched")

      // full pass folds the rest; snapshot and provenance stamps unchanged
      t.recluster()
      assert(t.log.liveFiles().forall(!_.isDelta))
      assert(t.read().select($"pk", $"vendorid", $"payload", $"ts")
        .as[(Long, Int, String, Int)].collect().toSet == before)
      assert(t.read().groupBy($"_commit_id").count()
        .as[(Long, Long)].collect().toSet == stampsBefore,
        "physical maintenance must not move provenance stamps")

      // the re-sorted files carry disjoint ts ranges: stats prune again
      val total = t.read().inputFiles.length
      assert(total > 1, "need several files to demonstrate skipping")
      assert(t.read(col("ts") <= 5 && col("vendorid") === 1).inputFiles.length < total)

      // repeat maintenance is a NO-OP: everything is already the product
      // of a recluster, so no commit lands and no file is rewritten
      val commits = t.log.commits.size
      t.recluster()
      assert(t.log.commits.size == commits,
        "back-to-back recluster must not rewrite an already-clustered table")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("float and millis-timestamp stats never mis-prune matching rows") {
    import spark.implicits._
    // FloatType: "0.12".toDouble != 0.12f.toDouble — the stored stat must
    // round-trip through Float or an exact-match predicate prunes the file
    val tf = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      statsCols = Seq("score")))
    tf.bulkInsert(Seq((1L, 0.12f, 0), (2L, 0.99f, 0))
      .toDF("pk", "score", "ts"))
    assert(tf.read(col("score") === lit(0.12f))
      .select($"pk").as[Long].collect().toSet == Set(1L))
    // MILLIS-unit parquet timestamps: footer stats are millis, prune-time
    // literals are micros — stats must normalize or every file prunes
    val tsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val tt = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
        statsCols = Seq("evt")))
      tt.bulkInsert(Seq(
        (1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 0),
        (2L, java.sql.Timestamp.valueOf("2024-06-15 12:00:00"), 0))
        .toDF("pk", "evt", "ts"))
      assert(tt.read(col("evt") === lit(
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .select($"pk").as[Long].collect().toSet == Set(1L))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
  }

  test("savepoint refuses cleaned commits; restore pre-validates every step") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    t.upsert(df((1L, 1, "a3", 2)))
    t.clean(retain = 1)
    // pinning a commit whose files are already gone would hand out a
    // snapshot that fails at scan time — refuse up front
    intercept[IllegalArgumentException](t.savepoint(c0))
    // restore past a savepointed intermediate must fail BEFORE deleting
    // anything, not strand the table mid-rewind
    val t2 = LakeTable(spark, cfg(freshRoot()))
    val d0 = t2.bulkInsert(df((1L, 1, "a", 0)))
    t2.upsert(df((1L, 1, "b", 1)))
    val d2 = t2.upsert(df((1L, 1, "c", 2)))
    val d3 = t2.upsert(df((1L, 1, "d", 3)))
    t2.savepoint(d2)
    intercept[IllegalArgumentException](t2.restoreTo(d0))
    assert(t2.log.latestId.contains(d3), "failed restore must not roll anything back")
    assert(snap(t2) == Set((1L, 1, "d", 3)))
  }

  test("retired commit ids are rejected at publish, even after rollback frees the path") {
    import graft.lake.{Commit, CommitLog}
    val log = new CommitLog(freshRoot(), spark.sparkContext.hadoopConfiguration)
    log.append(Commit(0L, "bulk_insert", 1L, "{}", Seq.empty, Seq.empty))
    log.append(Commit(1L, "upsert", 2L, "{}", Seq.empty, Seq.empty))
    log.rollbackLatest()
    // id 1 is retired: its JSON path is free again, but a writer that
    // resolved id 1 before the rollback must NOT land on it
    val ex = intercept[IllegalStateException](
      log.append(Commit(1L, "upsert", 3L, "{}", Seq.empty, Seq.empty)))
    assert(ex.getMessage.contains("retired"))
    assert(log.nextId == 2L)
  }

  test("clusterCols make stats columns skippable without key-order tricks") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      statsCols = Seq("ts"), clusterCols = Seq("ts")))
    // keys whose STRING order is uncorrelated with ts — without
    // clusterCols every file would span nearly the full ts range and
    // stats would prune nothing
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.bulkInsert((1 to 200).map(i => (s"k${i * 7919 % 1000}", 1, s"p$i", i))
      .toDF("pk", "vendorid", "payload", "ts"))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val total = t.read().inputFiles.length
    assert(total > 1)
    val pruned = t.read(col("ts") <= 10)
    assert(pruned.inputFiles.length < total,
      s"ts-clustered files must skip for ts <= 10 (total $total)")
    assert(pruned.select($"ts").as[Int].collect().toSet == (1 to 10).toSet)
    // key-range index degrades to overlapping ranges but stays CORRECT:
    // an upsert by key still lands on the right rows
    t.upsert(Seq((s"k${7919 % 1000}", 1, "upd", 999))
      .toDF("pk", "vendorid", "payload", "ts"))
    assert(t.read().filter($"pk" === s"k${7919 % 1000}")
      .select($"payload").as[String].collect().toSet == Set("upd"))
  }

  test("zOrder clustering makes BOTH dimensions skippable") {
    import spark.implicits._
    def build(z: Boolean): LakeTable = {
      val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
        statsCols = Seq("x", "y"), clusterCols = Seq("x", "y"), zOrder = z))
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // 20x20 grid: linear (x, y) clustering gives every file the full y
      // range, so only x-predicates skip; z-order bounds both
      try t.bulkInsert((0 until 400).map(i => (i.toLong, i % 20, i / 20, 0))
        .toDF("pk", "x", "y", "ts"))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      t
    }
    val lin = build(z = false)
    val zed = build(z = true)
    val total = zed.read().inputFiles.length
    assert(total > 2, s"need several files, got $total")
    // both layouts skip on the leading dimension...
    assert(zed.read(col("x") === 3).inputFiles.length < total)
    assert(lin.read(col("x") === 3).inputFiles.length < lin.read().inputFiles.length)
    // ...but only z-order skips on the trailing one
    assert(zed.read(col("y") === 17).inputFiles.length < total,
      "z-order must bound the second dimension per file")
    assert(lin.read(col("y") === 17).inputFiles.length ==
      lin.read().inputFiles.length,
      "sanity: linear clustering cannot skip on the trailing column here")
    // correctness through the pruned reads
    assert(zed.read(col("y") === 17).count() == 20)
    assert(zed.read(col("x") === 3 && col("y") === 17).count() == 1)
  }

  test("column stats on MoR prune whole file groups, never split a key") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor",
      statsCols = Seq("ts")))
    t.bulkInsert(df((1L, 1, "a", 10), (2L, 2, "b", 20), (3L, 3, "c", 30)))
    t.upsert(df((1L, 1, "a2", 11)))  // delta in partition 1
    val total = t.read().inputFiles.length
    // ts=30 lives only in partition 3 — partitions 1 and 2 prune away
    val p3 = t.read(col("ts") === 30)
    assert(p3.inputFiles.length < total)
    assert(p3.select($"pk", $"payload").as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    // a predicate selecting the DELTA version of key 1 must see base AND
    // delta files of partition 1 (group-granular pruning) and merge right
    val p1 = t.read(col("ts") === 11)
    assert(p1.select($"pk", $"payload", $"ts")
      .as[(Long, String, Int)].collect().toSet == Set((1L, "a2", 11)))
  }

  test("savepoint pins a snapshot against the cleaner; release un-pins it") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0)))
    val c1 = t.upsert(df((1L, 1, "a2", 1)))
    t.upsert(df((1L, 1, "a3", 2)))
    t.savepoint(c0)
    t.clean(retain = 1)
    // the savepointed snapshot is exactly reproducible below the horizon
    import spark.implicits._
    val at0 = t.readAsOf(c0).select($"pk", $"payload").as[(Long, String)].collect().toSet
    assert(at0 == Set((1L, "a")))
    // the un-savepointed intermediate commit is gone
    intercept[IllegalArgumentException](t.readAsOf(c1))
    // rollback refuses to retract a savepointed latest commit
    val t2 = LakeTable(spark, cfg(freshRoot()))
    t2.bulkInsert(df((9L, 1, "z", 0)))
    val last = t2.upsert(df((9L, 1, "z2", 1)))
    t2.savepoint(last)
    intercept[IllegalArgumentException](t2.rollback())
    // after release, a fresh clean may drop the pinned files
    t.releaseSavepoint(c0)
    t.upsert(df((1L, 1, "a4", 3)))
    t.clean(retain = 1)
    intercept[IllegalArgumentException](t.readAsOf(c0))
  }

  test("restore rewinds the timeline to a commit; ids are never reused") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1), (2L, 2, "b", 1)))
    val c2 = t.upsert(df((3L, 3, "c", 2)))
    t.restoreTo(c0)
    assert(t.log.latestId.contains(c0))
    assert(snap(t) == Set((1L, 1, "a", 0)))
    // restore reproduces readAsOf(c0) exactly
    import spark.implicits._
    val asOf = t.readAsOf(c0).select($"pk", $"vendorid", $"payload", $"ts")
      .as[(Long, Int, String, Int)].collect().toSet
    assert(snap(t) == asOf)
    // retired ids are never reused: the next write jumps past c2
    t.upsert(df((4L, 1, "d", 3)))
    assert(t.log.latestId.exists(_ > c2))
    assert(snap(t) == Set((1L, 1, "a", 0), (4L, 1, "d", 3)))
  }

  test("restore keeps a synced catalog table consistent") {
    val t = LakeTable(spark, cfg(freshRoot()))
    val c0 = t.bulkInsert(df((1L, 1, "a", 0)))
    t.syncToCatalog("synced_restore", "graftdb")
    t.upsert(df((2L, 2, "b", 1)))
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_restore")
      .collect()(0).getLong(0) == 2L)
    t.restoreTo(c0)
    assert(spark.sql("SELECT count(*) FROM graftdb.synced_restore")
      .collect()(0).getLong(0) == 1L)
  }

  test("cleaner retains last N commits; latest read survives") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    t.upsert(df((1L, 1, "a3", 2)))
    t.clean(retain = 1)
    assert(snap(t) == Set((1L, 1, "a3", 2)))
    intercept[IllegalArgumentException](t.readAsOf(0))
    intercept[IllegalArgumentException](t.readAsOf(1)) // exactly 1 retained
    assert(snap(t) == Set((1L, 1, "a3", 2)))
  }

  test("deleteWhere removes predicate matches and prunes untouched partitions") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 1), (2L, 2, "b", 5), (3L, 3, "c", 9)))
    def byPart() = t.log.liveFiles().groupBy(_.partition)
      .view.mapValues(_.map(_.path).toSet).toMap
    val before = byPart()
    t.deleteWhere(col("ts") <= 1)
    assert(snap(t) == Set((2L, 2, "b", 5), (3L, 3, "c", 9)))
    val after = byPart()
    assert(after("2") == before("2"), "partition 2 had no matches; was rewritten")
    assert(after("3") == before("3"), "partition 3 had no matches; was rewritten")
    // no matches: no-op, no new commit
    val last = t.log.latestId
    t.deleteWhere(col("ts") > 100)
    assert(t.log.latestId == last)
    // MoR variant goes through tombstones
    val m = LakeTable(spark, morCfg(freshRoot()))
    m.bulkInsert(df((1L, 1, "a", 1), (2L, 2, "b", 5)))
    m.deleteWhere(col("payload") === "a")
    assert(snap(m) == Set((2L, 2, "b", 5)))
  }

  test("insertOverwrite replaces touched partitions wholesale") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 5), (2L, 2, "b", 5), (3L, 3, "c", 5)))
    def byPart() = t.log.liveFiles().groupBy(_.partition)
      .view.mapValues(_.map(_.path).toSet).toMap
    val before = byPart()
    // LOWER precombine than the resident rows: overwrite wins anyway —
    // the batch IS the new truth for its partitions, no merge
    t.insertOverwrite(df((9L, 1, "backfill", 0)))
    assert(snap(t) == Set((9L, 1, "backfill", 0), (2L, 2, "b", 5), (3L, 3, "c", 5)))
    val after = byPart()
    assert(after("2") == before("2") && after("3") == before("3"),
      "untouched partitions must keep their files")
    // intra-batch duplicates still collapse by precombine
    t.insertOverwrite(df((7L, 2, "v1", 1), (7L, 2, "v2", 2)))
    assert(snap(t).filter(_._2 == 2) == Set((7L, 2, "v2", 2)))
    // time travel still reproduces the pre-overwrite snapshot
    assert(t.readAsOf(0).count() == 3)
    // unpartitioned table: whole-table overwrite
    val u = LakeTable(spark, cfg(freshRoot(), part = None))
    u.bulkInsert(df((1L, 1, "a", 5)))
    u.insertOverwrite(df((2L, 1, "only", 0)))
    assert(snap(u) == Set((2L, 1, "only", 0)))
  }

  test("insertOverwrite replaces whole user partitions on bucketed tables") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), hashBuckets = 8))
    t.bulkInsert(df((1L to 20L).map(i => (i, 1, s"p$i", 5)) :+ (99L, 2, "other", 5): _*))
    // one corrected row for partition 1: ALL buckets of partition 1 go,
    // partition 2 stays
    t.insertOverwrite(df((7L, 1, "only", 0)))
    assert(snap(t) == Set((7L, 1, "only", 0), (99L, 2, "other", 5)))
  }

  test("insertOverwrite keeps global-index keys unique table-wide") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), globalIndex = true))
    t.bulkInsert(df((1L, 1, "a", 5), (2L, 2, "b", 5)))
    // key 1 moves to partition 3 via overwrite: its partition-1 copy must
    // die in the same commit, not linger as a duplicate
    t.insertOverwrite(df((1L, 3, "moved", 0)))
    assert(snap(t) == Set((1L, 3, "moved", 0), (2L, 2, "b", 5)))
  }

  test("tailStream does not re-emit rows binned by compactSmall") {
    import spark.implicits._
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "base", 0)))
    (1 to 4).foreach(i => t.upsert(df((1L, 1, s"v$i", i))))
    t.compactSmall()
    assert(t.log.liveFiles().count(_.isDelta) == 1, "binned to one delta")
    val q = t.tailStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("lake_tail_nodup")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT payload FROM lake_tail_nodup")
        .as[String].collect().toSeq
      assert(rows.sorted == Seq("v1", "v2", "v3", "v4"),
        s"each written row exactly once, maintenance rewrites excluded: $rows")
    } finally q.stop()
  }

  test("tailStream schema includes columns added by delta schema evolution") {
    import spark.implicits._
    val t = LakeTable(spark, morCfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(Seq((2L, 1, "b", 1, "extra"))
      .toDF("pk", "vendorid", "payload", "ts", "note"))
    val q = t.tailStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("lake_tail_evo")
      .start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT pk, note FROM lake_tail_evo")
        .as[(Long, Option[String])].collect().toSet
      assert(out == Set((2L, Some("extra"))))
    } finally q.stop()
  }

  test("changesBetween refuses a window below the clean horizon") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))
    val cN = t.upsert(df((1L, 1, "a3", 2)))
    t.clean(retain = 1)
    intercept[IllegalArgumentException](t.changesBetween(0, cN))
  }

  test("bare-key delete rewrites only the partitions holding the keys") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 3, "c", 0)))
    def byPart() = t.log.liveFiles().groupBy(_.partition)
      .view.mapValues(_.map(_.path).toSet).toMap
    val before = byPart()
    import spark.implicits._
    // keys carry NO partition column: the key+partition index probe
    // (footer-range-pruned, column-pruned) must narrow the rewrite to the
    // partitions that actually hold the keys — never the whole table
    t.delete(Seq(1L).toDF("pk"))
    val after = byPart()
    assert(after("2") == before("2"), "untouched partition 2 was rewritten")
    assert(after("3") == before("3"), "untouched partition 3 was rewritten")
    assert(after.get("1") != Some(before("1")), "partition 1 must be rewritten")
    assert(snap(t) == Set((2L, 2, "b", 0), (3L, 3, "c", 0)))
  }

  test("delete with partition column only removes the key in that partition") {
    val t = LakeTable(spark, cfg(freshRoot()))
    // same pk in two partitions (legal under the partition-scoped index)
    t.bulkInsert(df((1L, 1, "p1", 0), (1L, 2, "p2", 0), (2L, 1, "x", 0)))
    // touches partitions 1 AND 2, but pins pk=1 to partition 1 only
    t.delete(df((1L, 1, "del", 0), (2L, 2, "nothere", 0)))
    assert(snap(t) == Set((1L, 2, "p2", 0), (2L, 1, "x", 0)))
  }

  test("partition values with hive-escaped characters prune correctly") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("cat")))
    val rows = Seq((1L, "a:b", "v1", 0), (2L, "plain", "w", 0))
      .toDF("pk", "cat", "payload", "ts")
    t.bulkInsert(rows)
    t.upsert(Seq((1L, "a:b", "v2", 1)).toDF("pk", "cat", "payload", "ts"))
    val out = t.read().select($"pk", $"cat", $"payload")
      .as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "a:b", "v2"), (2L, "plain", "w")))
  }

  // glue/NYTaxiDataPrep.py:37-48: day-minus rewrites vendorid==1 rows to
  // vendorid=0 at ts=now-5d; day0 is the full set at ts=now; day1 rewrites
  // the same keys to vendorid=9 at ts=now+1d. vendorid is ALSO the
  // partition path, so the replay exercises keys migrating partitions.
  private def cdcBatches = {
    val base = df((1L, 1, "r1", 100), (2L, 1, "r2", 100),
      (3L, 2, "r3", 100), (4L, 3, "r4", 100))
    val dayMinus = base.filter(col("vendorid") === 1)
      .withColumn("vendorid", lit(0)).withColumn("ts", lit(50))
    val day1 = base.filter(col("vendorid") === 1)
      .withColumn("vendorid", lit(9)).withColumn("ts", lit(200))
    (dayMinus, base, day1)
  }

  test("reference CDC replay, partition-scoped index (Hudi default)") {
    // non-global index = Hudi's default: a key migrating partitions leaves
    // its old partition's row behind — exactly what the reference produces
    val (dayMinus, day0, day1) = cdcBatches
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(dayMinus)
    t.upsert(day0)
    t.upsert(day1)
    assert(snap(t) == Set(
      (1L, 0, "r1", 50), (2L, 0, "r2", 50),     // day-minus rows, part 0
      (1L, 1, "r1", 100), (2L, 1, "r2", 100),   // day0 rows, part 1
      (1L, 9, "r1", 200), (2L, 9, "r2", 200),   // day1 rows, part 9
      (3L, 2, "r3", 100), (4L, 3, "r4", 100)))
  }

  test("reference CDC replay, global index: one row per key table-wide") {
    val (dayMinus, day0, day1) = cdcBatches
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), globalIndex = true))
    t.bulkInsert(dayMinus)
    t.upsert(day0)
    t.upsert(day1)
    assert(snap(t) == Set((1L, 9, "r1", 200), (2L, 9, "r2", 200),
      (3L, 2, "r3", 100), (4L, 3, "r4", 100)))
  }

  /** delete every live parquet data file under `root`, keeping the commit
    * log — any subsequent data read fails loudly, so whatever still
    * answers was a pure metadata read */
  private def dropDataFiles(root: String, matching: String => Boolean = _ => true): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && matching(f.toString)) {
        fs.delete(f, false); n += 1
      }
    }
    n
  }

  test("countRows/partitionRowCounts: CoW snapshot counts are metadata-only") {
    val root = freshRoot()
    val t = LakeTable(spark, cfg(root))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0)))
    t.upsert(df((2L, 1, "b2", 1), (4L, 2, "d", 1)))           // 1 update + 1 insert
    t.delete(df((3L, 2, "c", 0)).select("pk", "vendorid"))
    assert(t.countRows() == 3)
    assert(t.countRows(Some(0L)) == 3)                        // bulk-insert snapshot
    assert(t.countRows(Some(1L)) == 4)                        // pre-delete snapshot
    val pc = t.partitionRowCounts().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pc == Map(1 -> 2, 2 -> 1))
    // the proof: with every data file gone, a scan would throw — the
    // same answers still come back, so no data file was ever opened
    assert(dropDataFiles(root) > 0)
    assert(t.countRows() == 3)
    assert(t.countRows(Some(1L)) == 4)
    assert(t.partitionRowCounts().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 2, 2 -> 1))
  }

  test("bloom index prunes candidates key ranges cannot; lookup stays exact") {
    // MoR delta stack: every delta spans the full key range, so the
    // footer [kmin,kmax] check keeps ALL of them for any probe — only
    // the per-file bloom can tell which files actually saw the key
    def build(bloom: Int): LakeTable = {
      val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
        partitionCols = Seq("vendorid"), storageType = "mor",
        bloomKeys = bloom))
      val base = (0L until 90L).map(i => (i, 1, s"v$i", 0))
      t.bulkInsert(df(base: _*))
      // delta d1: keys ≡ 0 (mod 3);  delta d2: keys ≡ 1 (mod 3) — both
      // span [0, 89], ranges fully overlap the base and each other
      t.upsert(df((0L until 90L by 3L).map(i => (i, 1, s"a$i", 1)): _*))
      t.upsert(df((1L until 90L by 3L).map(i => (i, 1, s"b$i", 2)): _*))
      t
    }
    val probe = df((33L, 1, "x", 0)).select("pk", "vendorid") // 33 ≡ 0: base + d1 only
    val noBloom = build(0)
    val got0 = noBloom.lookup(probe).select("pk", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got0 == Set((33L, "a33")))
    val unprunedFiles = noBloom.lastLookupFiles
    val withBloom = build(1000)
    val got1 = withBloom.lookup(probe).select("pk", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got1 == Set((33L, "a33")))
    // ranges keep every delta; the bloom must have dropped at least d2
    // (33 is not in it) while keeping the files that saw key 33
    assert(withBloom.lastLookupFiles < unprunedFiles,
      s"bloom pruned nothing: ${withBloom.lastLookupFiles} vs $unprunedFiles")
    // a key no file ever saw: blooms prune every candidate (fpp=1% on
    // three files — a false positive here is possible but vanishingly
    // rare and would only weaken the assertion below to <=)
    val miss = withBloom.lookup(df((1000L, 1, "x", 0)).select("pk", "vendorid"))
    assert(miss.count() == 0)
    assert(withBloom.lastLookupFiles <= 1)
    // compaction rebuilds blooms for the compacted bases
    withBloom.compact()
    assert(withBloom.log.liveFiles().forall(f => !f.isDelta && f.bloom))
    assert(withBloom.lookup(probe).select("pk", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((33L, "a33")))
  }

  test("metadata counts fold hash buckets into their user partitions") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), hashBuckets = 4))
    t.bulkInsert(df((1L to 8L).map(i =>
      (i, if (i <= 5) 1 else 2, s"v$i", 0)): _*))
    assert(t.countRows() == 8)
    // one row per USER partition — the derived bucket level must fold in
    val pc = t.partitionRowCounts().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pc == Map(1 -> 5, 2 -> 3))
    val strict = t.metadataPartitionAggs(Seq.empty)
    assert(strict.isDefined)
    assert(strict.get.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 5, 2 -> 3))
  }

  test("overwriteWhere: one commit clears the region; survivors kept; batch wins keys") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 5), (2L, 1, "b", 20), (3L, 2, "c", 5)))
    val commits0 = t.log.commits.size
    // replace the ts<10 region: keys 1 and 3 (in-region) vanish; key 2
    // (ts=20) survives — but the batch re-writes key 2, and the batch is
    // the new truth for its keys
    t.overwriteWhere(col("ts") < 10, df((9L, 1, "n", 7), (2L, 1, "b2", 7)))
    assert(snap(t) == Set((9L, 1, "n", 7), (2L, 1, "b2", 7)))
    assert(t.log.commits.size == commits0 + 1, "replaceWhere must be ONE commit")
    // a batch row outside the region fails before any file work
    intercept[Exception] { t.overwriteWhere(col("ts") < 10, df((4L, 1, "x", 99))) }
    assert(snap(t) == Set((9L, 1, "n", 7), (2L, 1, "b2", 7)))
    // an empty batch CLEARS the matching region
    t.overwriteWhere(col("ts") >= 0, df((0L, 0, "z", 0)).filter(lit(false)))
    assert(snap(t).isEmpty)
  }

  test("overwriteWhere supersedes batch keys even in stats-pruned partitions") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), statsCols = Seq("ts")))
    t.bulkInsert(df((1L, 1, "old", 20), (2L, 2, "keep", 20)))
    // the predicate matches NOTHING currently on file (all ts=20), so the
    // stats index prunes every partition — but the batch re-writes key 1,
    // whose old out-of-region row must still be superseded
    t.overwriteWhere(col("ts") < 10, df((1L, 1, "new", 5)))
    assert(snap(t) == Set((1L, 1, "new", 5), (2L, 2, "keep", 20)))
  }

  test("overwriteWhere evicts a global-index batch key from foreign partitions") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), globalIndex = true,
      statsCols = Seq("vendorid")))
    t.bulkInsert(df((1L, 2, "was-r2", 0), (2L, 2, "stay", 0)))
    // replace the vendorid=1 region (stats prove vendorid=2 can't match,
    // so it is OUTSIDE the predicate scope) — key 1 currently lives in
    // vendorid=2 and must be evicted there, or the global key is twice live
    t.overwriteWhere(col("vendorid") === 1, df((1L, 1, "now-r1", 1)))
    assert(snap(t) == Set((1L, 1, "now-r1", 1), (2L, 2, "stay", 0)))
  }

  test("overwriteWhere on global-index MoR with pending deltas merges table-wide") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor",
      globalIndex = true, statsCols = Seq("ts")))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 2, "a2", 1))) // key 1 migrates to vendorid=2 via a delta
    // a subset merge could read key 1's stale vendorid=1 base without the
    // vendorid=2 delta that supersedes it — the table-wide guard forbids it
    t.overwriteWhere(col("ts") >= 90, df((3L, 1, "c", 95)))
    assert(snap(t) == Set((1L, 2, "a2", 1), (2L, 2, "b", 0), (3L, 1, "c", 95)))
  }

  test("string partition '' vs NULL: metadata counters refuse, the scan distinguishes") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("payload")))
    t.bulkInsert(df((1L, 1, "", 0), (2L, 1, null, 0), (3L, 1, "r1", 0)))
    // on disk '' and NULL share the hive-default directory: the stored
    // tuple is ambiguous, so the strict prover must refuse...
    assert(t.metadataPartitionAggs(Seq.empty).isEmpty)
    // ...and the hybrid must scan those partitions and report the TRUE
    // column values as distinct groups
    val pc = t.partitionRowCounts().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(pc == Map(Some("") -> 1L, None -> 1L, Some("r1") -> 1L))
    assert(t.countRows() == 3)
  }

  test("countRows: pending MoR deltas merge-count ONLY the dirty partitions") {
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor"))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0)))
    t.upsert(df((2L, 1, "b2", 1)))                            // delta in partition 1 only
    t.delete(df((1L, 1, "a", 0)).select("pk", "vendorid"))    // tombstone, partition 1
    assert(t.read().count() == 2)
    assert(t.countRows() == 2)
    val pc = t.partitionRowCounts().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pc == Map(1 -> 1, 2 -> 1))
    // partition 2 is delta-free: its count must come from metadata even
    // while partition 1 needs the merge — drop partition 2's data files
    // and the counts must be unchanged
    assert(dropDataFiles(root, _.contains("__gp0=2")) > 0)
    assert(t.countRows() == 2)
    assert(t.partitionRowCounts().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 1, 2 -> 1))
  }

  // ---- metadata-only retention delete ---------------------------------

  test("metadata-only delete: partition-range DELETE commits removals alone") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0), (3L, 3, "c", 0)))
    val before = t.log.liveFiles().map(f => f.partition -> f.path).toSet
    val cid = t.deleteWhere(col("vendorid") <= 2)
    val c = t.log.commitsInRange(cid - 1, cid).head
    assert(c.adds.isEmpty, "fast path must write no files")
    assert(c.metadata.get("delete.metadataOnly").contains("true"))
    assert(snap(t) == Set((3L, 3, "c", 0)))
    // survivors are byte-identical: the kept partition's file is the SAME
    // path — nothing was rewritten
    val after = t.log.liveFiles().map(f => f.partition -> f.path).toSet
    assert(after == before.filter(_._1 == "3"))
    // time travel still reproduces the pre-delete snapshot (files are
    // removed from the snapshot, not from disk, until clean)
    assert(t.readAsOf(cid - 1).count() == 3)
  }

  test("metadata-only delete: NULL predicate keeps the null partition (SQL semantics)") {
    import spark.implicits._
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(Seq((1L, Some(1), "a", 0), (2L, Option.empty[Int], "b", 0))
      .toDF("pk", "vendorid", "payload", "ts"))
    // vendorid < 9 is NULL on the null partition: DELETE removes only
    // TRUE rows, so the null partition must survive — still fast-path
    val cid = t.deleteWhere(col("vendorid") < 9)
    val c = t.log.commitsInRange(cid - 1, cid).head
    assert(c.adds.isEmpty && c.metadata.get("delete.metadataOnly").contains("true"))
    assert(t.read().select($"pk").as[Long].collect().toSet == Set(2L))
  }

  test("metadata-only delete: no-match predicate commits nothing; IN-list is fast") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    val commits = t.log.commits.size
    t.deleteWhere(col("vendorid") > 99)
    assert(t.log.commits.size == commits, "no-match delete must not commit")
    val cid = t.deleteWhere(col("vendorid").isin(2, 7))
    val c = t.log.commitsInRange(cid - 1, cid).head
    assert(c.adds.isEmpty && c.metadata.get("delete.metadataOnly").contains("true"))
    assert(snap(t) == Set((1L, 1, "a", 0)))
  }

  test("predicate delete falls back to the keyed rewrite when not partition-exact") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0)))
    // non-partition column: prover refuses, rewrite path answers
    val cid = t.deleteWhere(col("payload") === "b")
    val c = t.log.commitsInRange(cid - 1, cid).head
    assert(!c.metadata.contains("delete.metadataOnly"))
    assert(snap(t) == Set((1L, 1, "a", 0), (3L, 2, "c", 0)))
    // mixed partition + data predicate refuses too (conjunction is not
    // partition-only), and the rewrite honors BOTH conjuncts
    val cid2 = t.deleteWhere(col("vendorid") === 2 && col("payload") === "zzz")
    assert(snap(t) == Set((1L, 1, "a", 0), (3L, 2, "c", 0)))
    assert(cid2 == cid, "no-match rewrite delete must not commit")
  }

  test("metadata-only delete on MoR drops a partition's deltas with it; global index refuses") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor"))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((1L, 1, "a2", 1))) // delta lands inside partition 1
    val cid = t.deleteWhere(col("vendorid") === 1)
    val c = t.log.commitsInRange(cid - 1, cid).head
    assert(c.adds.isEmpty && c.metadata.get("delete.metadataOnly").contains("true"))
    assert(snap(t) == Set((2L, 2, "b", 0)))
    // global index: a delta in the doomed partition can shadow a KEPT
    // partition's key — only the rewrite path is sound, and it is taken
    val g = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), storageType = "mor", globalIndex = true))
    g.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    g.upsert(df((2L, 1, "moved", 1))) // key 2 relocates into partition 1
    val gid = g.deleteWhere(col("vendorid") === 1)
    val gc = g.log.commitsInRange(gid - 1, gid).head
    assert(!gc.metadata.contains("delete.metadataOnly"))
    assert(g.read().count() == 0)
  }

  test("changesBetween preImages: 4-type CDF; inserts and deletes have no preimage") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))         // c0
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "new", 0)))          // c1: update 1, insert 3
    t.delete(df((2L, 2, "b", 0)).select("pk", "vendorid"))     // c2
    val ch = t.changesBetween(0, 2, preImages = true)
      .select("_change_type", "pk", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(ch == Set(
      ("insert", 3L, "new"),
      ("update_postimage", 1L, "a2"),
      ("update_preimage", 1L, "a"),
      ("delete", 2L, "b")))
    // the default two-type form is unchanged — existing tails unaffected
    val old = t.changesBetween(0, 2).select("_change_type", "pk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(old == Set(("insert", 3L), ("update", 1L), ("delete", 2L)))
  }

  test("bloomCols: value blooms prune non-key point lookups; sidecars retire with clean") {
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, Seq("pk"), "ts",
      partitionCols = Seq("vendorid"), bloomCols = Seq("payload")))
    t.bulkInsert(df((1L, 1, "a1", 0), (2L, 1, "a2", 0)))
    t.upsert(df((3L, 2, "b1", 0), (4L, 2, "b2", 0)))
    t.upsert(df((5L, 3, "c1", 0), (6L, 3, "c2", 0)))
    assert(t.log.liveFiles().forall(_.colBlooms == Seq("payload")))
    val total = t.log.liveFiles().size
    assert(total >= 3)
    // point lookup on the NON-key column: only files that saw the value
    assert(t.read(col("payload") === "b1").select("pk").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(t.lastReadFiles < total,
      s"blooms pruned nothing: ${t.lastReadFiles} of $total")
    assert(t.lastReadFiles < total,
      s"blooms pruned nothing: ${t.lastReadFiles} of $total")
    // a value nobody holds: every file pruned, result still exact
    assert(t.read(col("payload") === "zzz").count() == 0)
    assert(t.lastReadFiles == 0)
    // IN-list spanning two commits
    assert(t.read(col("payload").isin("a1", "c2")).count() == 2)
    assert(t.lastReadFiles < total)
    // sidecar lifecycle: superseding + cleaning removes the .bfm with
    // its data file — no orphan index files accumulate
    t.upsert(df((1L, 1, "a1b", 1)))
    t.clean(1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".bfm")) {
        val dataName = f.getName.stripPrefix(".").stripSuffix(".bfm")
        assert(fs.exists(new org.apache.hadoop.fs.Path(f.getParent, dataName)),
          s"orphan sidecar ${f}")
      }
    }
  }

  test("bloomCols: misconfigured columns fail the write loud") {
    // absent column
    val bad = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      bloomCols = Seq("nope")))
    intercept[Exception] { bad.bulkInsert(df((1L, 1, "x", 0))) }
    assert(!bad.exists)
    // unstable render type (double)
    import spark.implicits._
    val dbl = LakeTable(spark, LakeTableConfig(freshRoot(), Seq("pk"), "ts",
      bloomCols = Seq("v")))
    intercept[Exception] { dbl.bulkInsert(Seq((1L, 0, 1.5)).toDF("pk", "ts", "v")) }
    assert(!dbl.exists)
  }

  test("cleanOlderThan: time-based retention keeps in-window commits travelable") {
    val t = LakeTable(spark, cfg(freshRoot()))
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((1L, 1, "a2", 1)))   // supersedes c0's file
    t.upsert(df((1L, 1, "a3", 2)))   // supersedes c1's file
    // everything is younger than a huge window: nothing cleans
    t.cleanOlderThan(24L * 3600 * 1000)
    assert(t.readAsOf(0).count() == 1, "in-window history must survive")
    // a zero window keeps only the latest (every commit is 'old')
    t.cleanOlderThan(0L)
    assert(snap(t) == Set((1L, 1, "a3", 2)))
    intercept[Exception] { t.readAsOf(0).collect() }
  }
}
