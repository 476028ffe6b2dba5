package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{FileAdd, LakeTable, LakeTableConfig, LogFileIndex}

/** The bounded change feed ([[LakeTable.changesBetween]] restricted to
  * the window's touched keys) equals the diff of the two snapshots it
  * spans — a reference built here from `readAsOf(from)` and
  * `readAsOf(to)` alone — for both change-type sets, across the commit
  * shapes that can change a key: stale MoR updates, tombstones and
  * re-inserts, compaction, CoW deletes, partition overwrites and drops,
  * deletion vectors, global-index partition moves, and a rename (the
  * unrestricted case). A 1-commit window scans only its partition, and
  * a window whose keys exceed the broadcast threshold broadcasts none. */
class ChangeFeedSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def table(storage: String, globalIndex: Boolean = false,
      deleteMode: String = "rewrite"): LakeTable =
    LakeTable(spark, LakeTableConfig(
      Files.createTempDirectory("cdf").resolve("tbl").toString,
      keyCols = Seq("pk"), precombineCol = "ts", partitionCols = Seq("part"),
      storageType = storage, globalIndex = globalIndex, deleteMode = deleteMode))

  /** rows (pk, part, v, ts); `part` defaults to `p<pk % 10>` */
  private def rows(pks: Seq[Int], ts: Int,
      part: Int => String = i => s"p${i % 10}"): DataFrame = {
    import spark.implicits._
    pks.map(i => (i.toLong, part(i), s"v$i-$ts", ts)).toDF("pk", "part", "v", "ts")
  }

  private val Shown = Seq("pk", "part", "v", "ts", "_commit_id")

  private def render(r: Row, cols: Seq[String], changeType: String): String =
    (cols.map(c => String.valueOf(r.getAs[Any](c))) :+ changeType).mkString("|")

  /** the change feed's contract, computed from the two snapshots */
  private def reference(t: LakeTable, from: Long, to: Long, preImages: Boolean,
      cols: Seq[String]): Seq[String] = {
    def byKey(df: DataFrame): Map[Seq[Any], Row] =
      df.collect().map(r => t.dedupCols.map(r.getAs[Any]) -> r).toMap
    val before = byKey(t.readAsOf(from))
    val after = byKey(t.readAsOf(to))
    val update = if (preImages) "update_postimage" else "update"
    val upserts = after.toSeq.flatMap { case (k, r) =>
      if (r.getAs[Long]("_commit_id") <= from) Nil
      else before.get(k) match {
        case None => Seq(render(r, cols, "insert"))
        case Some(old) => render(r, cols, update) +:
          (if (preImages) Seq(render(old, cols, "update_preimage")) else Nil)
      }
    }
    val deletes = before.toSeq.collect {
      case (k, r) if !after.contains(k) => render(r, cols, "delete") }
    (upserts ++ deletes).sorted
  }

  private def feed(t: LakeTable, from: Long, to: Long, preImages: Boolean,
      cols: Seq[String]): Seq[String] =
    t.changesBetween(from, to, preImages).collect()
      .map(r => render(r, cols, r.getAs[String]("_change_type"))).toSeq.sorted

  private def assertFeed(t: LakeTable, from: Long, to: Long,
      cols: Seq[String] = Shown): Unit = Seq(false, true).foreach { pre =>
    val want = reference(t, from, to, pre, cols)
    val got = feed(t, from, to, pre, cols)
    assert(got == want, s"($from, $to] preImages=$pre:\n got  $got\n want $want")
  }

  /** every file the frame's plan scans, from its commit-log scans */
  private def scanned(df: DataFrame): Seq[FileAdd] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location }
      .collect { case ix: LogFileIndex => ix.files }.flatten

  test("a stale MoR update in the window emits nothing") {
    val t = table("mor")
    t.bulkInsert(rows(1 to 50, 5))                 // 0
    t.upsert(rows(1 to 10, 1))                     // 1: loses on precombine
    t.upsert(rows(11 to 15, 9))                    // 2
    assert(feed(t, 0L, 1L, preImages = true, Shown).isEmpty)
    Seq((0L, 1L), (0L, 2L), (1L, 2L)).foreach { case (f, to) => assertFeed(t, f, to) }
  }

  test("a MoR tombstone then a re-insert") {
    import spark.implicits._
    val t = table("mor")
    t.bulkInsert(rows(1 to 50, 0))                 // 0
    t.delete(Seq((3L, "p3"), (4L, "p4")).toDF("pk", "part")) // 1
    t.upsert(rows(Seq(3), 7))                      // 2: re-insert
    t.upsert(rows(Seq(60, 4), 8))                  // 3
    Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (2L, 3L))
      .foreach { case (f, to) => assertFeed(t, f, to) }
  }

  test("a compaction inside the window") {
    import spark.implicits._
    val t = table("mor")
    t.bulkInsert(rows(1 to 50, 0))                 // 0
    t.upsert(rows(Seq(1, 2, 13, 70), 1))           // 1
    t.delete(Seq((5L, "p5")).toDF("pk", "part"))   // 2
    val c = t.compact()                            // 3
    assert(t.log.read(c).op == "compact")
    t.upsert(rows(Seq(2, 5, 71), 2))               // 4
    Seq((0L, 3L), (0L, 4L), (1L, 4L), (2L, 3L), (3L, 4L))
      .foreach { case (f, to) => assertFeed(t, f, to) }
    assert(feed(t, 2L, 3L, preImages = true, Shown).isEmpty,
      "a compaction changes no key")
  }

  test("CoW deletes, a partition overwrite and a partition drop") {
    import spark.implicits._
    val t = table("cow")
    t.bulkInsert(rows(1 to 50, 0))                 // 0
    t.upsert(rows(1 to 5, 9))                      // 1
    t.delete(Seq((10L, "p0"), (20L, "p0")).toDF("pk", "part")) // 2
    t.insertOverwrite(rows(Seq(3, 13, 103), 4))    // 3: p3 replaced
    t.deleteWhere(col("part") === "p7")            // 4
    Seq((0L, 2L), (0L, 3L), (1L, 3L), (2L, 3L), (3L, 4L), (0L, 4L))
      .foreach { case (f, to) => assertFeed(t, f, to) }
  }

  test("deletion-vector deletes and updates") {
    import spark.implicits._
    val t = table("cow", deleteMode = "dv")
    t.bulkInsert(rows(1 to 40, 0))                 // 0
    t.deleteDv(Seq(2L, 12L).toDF("pk"))            // 1
    t.upsert(rows(Seq(3, 41), 1))                  // 2
    t.updateDvWhere(col("pk") === 5L, Map("v" -> lit("upd"))) // 3
    t.deleteDv(Seq(22L, 5L).toDF("pk"))            // 4
    assert(t.log.read(1L).adds.forall(_.isDv))
    Seq((0L, 1L), (0L, 3L), (1L, 3L), (2L, 3L), (3L, 4L), (0L, 4L))
      .foreach { case (f, to) => assertFeed(t, f, to) }
  }

  test("a global-index key moving partitions") {
    Seq("mor", "cow").foreach { storage =>
      val t = table(storage, globalIndex = true)
      t.bulkInsert(rows(1 to 30, 0))               // 0
      t.upsert(rows(Seq(7, 8), 3, _ => "p0"))      // 1: both move to p0
      t.upsert(rows(Seq(9), 4))                    // 2
      Seq((0L, 1L), (0L, 2L), (1L, 2L)).foreach { case (f, to) =>
        assertFeed(t, f, to) }
    }
  }

  test("a window across a rename diffs both snapshots whole") {
    val t = table("mor")
    t.bulkInsert(rows(1 to 30, 0))                 // 0
    t.upsert(rows(Seq(1, 2), 1))                   // 1
    t.renameColumn("v", "w")                       // 2
    t.upsert(rows(Seq(2, 31), 2).withColumnRenamed("v", "w")) // 3
    val renamed = Seq("pk", "part", "ts", "_commit_id")
    val window = t.log.commitsInRange(0L, 3L)
    assert(t.changeFeedUnbounded(0L, window, t.log.snapshot(Some(0L)))
      .exists(_.contains("commit 2")))
    assert(t.changeFeedUnbounded(2L, t.log.commitsInRange(2L, 3L),
      t.log.snapshot(Some(2L))).isEmpty)
    Seq((0L, 3L), (1L, 3L), (0L, 1L)).foreach { case (f, to) =>
      assertFeed(t, f, to, renamed) }
    assertFeed(t, 2L, 3L, Seq("pk", "part", "w", "ts", "_commit_id"))
  }

  test("a window from a pinned version below the cleaner horizon is unbounded") {
    import spark.implicits._
    val t = table("cow")
    t.bulkInsert(rows(1 to 30, 0))                 // 0
    t.upsert(rows(Seq(1, 2), 1))                   // 1
    t.savepoint(1L)
    t.upsert(rows(Seq(2, 3), 2))                   // 2
    t.delete(Seq((4L, "p4")).toDF("pk", "part"))   // 3
    t.clean(1)
    assert(t.log.cleanedUpTo > 1L)
    assert(t.changeFeedUnbounded(1L, t.log.commitsInRange(1L, 3L),
      t.log.snapshot(Some(1L))).exists(_.contains("cleaner horizon")))
    assertFeed(t, 1L, 3L)
  }

  test("a 1-commit window scans only the partition it touched") {
    val t = table("mor")
    t.bulkInsert(rows(1 to 300, 0))
    (1 to 3).foreach(i => t.upsert(rows((i to 300 by 7), i)))
    val last = t.upsert(rows(Seq(3, 13, 23), 9))
    val touched = t.log.read(last).adds.map(_.partition).toSet
    assert(touched.size == 1)
    assert(t.changeFeedUnbounded(last - 1, Seq(t.log.read(last)),
      t.log.snapshot(Some(last - 1))).isEmpty)
    val files = scanned(t.changesBetween(last - 1, last, preImages = true))
    val parts = files.map(_.partition).toSet
    assert(parts == touched, s"scanned partitions $parts, window touched $touched")
    val before = t.log.snapshot(Some(last - 1)).files.filter(f => touched(f.partition))
    assert(before.forall(f => files.exists(_.path == f.path)),
      "the from side reads the touched partition's files")
    assertFeed(t, last - 1, last)
  }

  /** `body` under a broadcast threshold (static and adaptive), restored
    * after: the session is shared with other suites */
  private def withBroadcastThreshold[A](v: String)(body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, v))
    try body
    finally saved.foreach {
      case (k, Some(old)) => spark.conf.set(k, old)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** the executed plan's broadcasts and its left-semi joins, by kind */
  private def semiJoins(df: DataFrame): (Int, Seq[String]) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val broadcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    val semis = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => "broadcast"
      case j: SortMergeJoinExec if j.joinType == LeftSemi => "shuffled"
      case j: ShuffledHashJoinExec if j.joinType == LeftSemi => "shuffled"
    }
    (broadcasts.size, semis)
  }

  test("a window above the broadcast threshold semi-joins its keys by shuffle") {
    val t = table("mor")
    t.bulkInsert(rows(1 to 200, 0))                // 0
    t.upsert(rows(1 to 200 by 2, 1))               // 1: 100 keys, all partitions
    val (_, small) = withBroadcastThreshold("10m") {
      semiJoins(t.changesBetween(0L, 1L, preImages = true))
    }
    assert(small.nonEmpty && small.forall(_ == "broadcast"),
      s"a 100-row window broadcasts its keys: $small")
    withBroadcastThreshold("10") {
      val (broadcasts, large) = semiJoins(t.changesBetween(0L, 1L, preImages = true))
      assert(broadcasts == 0, "no key set is broadcast above the threshold")
      assert(large.nonEmpty && large.forall(_ == "shuffled"),
        s"the window stays restricted to its keys: $large")
      assertFeed(t, 0L, 1L)
    }
  }
}
