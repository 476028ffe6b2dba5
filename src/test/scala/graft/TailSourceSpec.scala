package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, LakeTableConfig}
import graft.sources.GraftTailSource

/** Commit-log-driven streaming tail (VERDICT r4 item #2): offsets are
  * commit ids, batches are the files the new commits name, and —
  * the scale contract — per-trigger metadata I/O is O(new commits),
  * never O(timeline) and never a data-tree listing.
  */
class TailSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory("tailsrc").resolve("tbl").toString

  private def df(rows: (Long, Int, String, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("pk", "vendorid", "payload", "ts")
  }

  private def morTable(root: String): LakeTable =
    LakeTable(spark, LakeTableConfig(root, keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid"),
      storageType = "mor"))

  /** table with a base load + `n` delta commits of one row each */
  private def build(root: String, n: Int): LakeTable = {
    val t = morTable(root)
    t.bulkInsert(df((1L, 1, "base", 0)))
    (1 to n).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    t
  }

  private def source(t: LakeTable): GraftTailSource =
    new GraftTailSource(spark.sqlContext, t, t.tailSchema)

  test("offsets are commit ids; batches hold exactly the new commits' rows") {
    val t = build(freshRoot(), 3)
    val src = source(t)
    assert(src.getOffset.contains(LongOffset(3L)))
    assert(src.getBatch(None, LongOffset(3L)).isStreaming,
      "getBatch must return a streaming frame")
    // full history: the 3 upsert rows (the base load is not a change delta)
    val allRows = src.batchFrame(-1L, 3L)
      .select("pk", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(allRows == Set((101L, "u1"), (102L, "u2"), (103L, "u3")))
    // incremental: only commits in (1, 3]
    val inc = src.batchFrame(1L, 3L)
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(inc == Set(102L, 103L))
  }

  test("delete tombstones flow through the tail; compaction emits nothing") {
    val t = build(freshRoot(), 2)
    t.delete(df((101L, 1, "u1", 1)))                       // commit 3: tombstone delta
    val afterDelete = t.log.latestId.get
    t.compact()                                            // commit 4: physical only
    val head = t.log.latestId.get
    assert(head > afterDelete, "compaction must have committed")
    val src = source(t)
    val delRows = src.batchFrame(2L, afterDelete)
      .select("pk", "_deleted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(delRows == Set((101L, true)))
    // the compaction window carries no logical change
    assert(src.batchFrame(afterDelete, head).count() == 0)
  }

  test("getBatch metadata I/O is O(new commits), not O(timeline)") {
    val root = freshRoot()
    build(root, 8)
    // fresh instance = restart: nothing memoized; schema precomputed so
    // only the batch-resolution path is measured
    val schema = morTable(root).tailSchema  // timeline read happens here, once
    val t = morTable(root)                  // cold log for the measurement
    val src = new GraftTailSource(spark.sqlContext, t, schema)
    t.log.jsonOpens.set(0)
    src.batchFrame(7L, 8L).count()
    val opens = t.log.jsonOpens.get()
    assert(opens <= 1,
      s"a 1-commit micro-batch on a 9-commit table opened $opens commit " +
        "JSONs — batch resolution must address new commits directly")
  }

  test("end-to-end streaming query over the source with checkpoint resume") {
    val root = freshRoot()
    val t = build(root, 2)
    val ckpt = Files.createTempDirectory("tailckpt").toString
    val out = Files.createTempDirectory("tailout").toString
    def run(): Unit = {
      val q = t.tailStream().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == Set(101L, 102L))
    // new commits after the checkpoint: only the delta is delivered
    t.upsert(df((103L, 1, "u3", 3)))
    run()
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == Set(101L, 102L, 103L),
      "resume from checkpoint must deliver exactly the post-offset commits")
  }

  test("rolled-back ids are skipped, not errors") {
    val t = build(freshRoot(), 3)
    t.log.rollbackLatest()                                  // retires id 3
    t.upsert(df((200L, 1, "after", 9)))                     // lands at id 4
    val src = source(t)
    val rows = src.batchFrame(2L, 4L)
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(rows == Set(200L))
  }

  // ---- schema evolution through a running stream ----------------------

  test("a rename mid-stream aliases transparently (by column id)") {
    val t = build(freshRoot(), 1)
    val src = source(t) // stream starts: schema has 'payload'
    t.renameColumn("payload", "body")
    t.upsert(df((300L, 1, "post-rename", 5)).withColumnRenamed("payload", "body"))
    // the pre-rename delta (u1) and the post-rename delta must BOTH
    // surface the value — under the stream's fixed column, not null
    val rows = src.batchFrame(-1L, t.log.latestId.get)
      .select("pk", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(101L) == "u1" && rows(300L) == "post-rename")
  }

  test("a stream started AFTER a rename sees the final name for old deltas") {
    val t = build(freshRoot(), 1)
    t.renameColumn("payload", "body")
    val src = source(t) // tailSchema folds by id: one column, named 'body'
    assert(src.schema.fieldNames.contains("body") &&
      !src.schema.fieldNames.contains("payload"))
    val rows = src.batchFrame(-1L, t.log.latestId.get)
      .select("pk", "body").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(101L) == "u1", "pre-rename delta must alias to the new name")
  }

  test("a column added after stream start fails the batch loudly") {
    val t = build(freshRoot(), 1)
    val src = source(t)
    t.upsert(df((400L, 1, "x", 6)).withColumn("extra",
      org.apache.spark.sql.functions.lit(1)))
    val e = intercept[IllegalStateException] {
      src.batchFrame(t.log.latestId.get - 1, t.log.latestId.get).collect()
    }
    assert(e.getMessage.contains("restart the stream"))
  }

  test("pre-widening deltas upcast; widening past the stream schema fails") {
    val t = morTable(freshRoot())
    import spark.implicits._
    t.bulkInsert(Seq((1L, 1, 10, 0)).toDF("pk", "vendorid", "qty", "ts"))
    t.upsert(Seq((2L, 1, 20, 1)).toDF("pk", "vendorid", "qty", "ts"))
    t.widenColumn("qty", org.apache.spark.sql.types.LongType)
    val src = source(t) // stream schema: qty LONG (folded, later wins)
    // the pre-widening int delta upcasts into the long stream column
    val rows = src.batchFrame(-1L, t.log.latestId.get)
      .select("pk", "qty").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(2L) == 20L)
    // now start a NARROW stream (as if checkpointed before the widening)
    // — post-widening deltas must fail it, not truncate
    val narrow = new GraftTailSource(spark.sqlContext, t,
      org.apache.spark.sql.types.StructType(src.schema.fields.map(f =>
        if (f.name == "qty") f.copy(dataType = org.apache.spark.sql.types.IntegerType)
        else f)))
    t.upsert(Seq((3L, 1, 5000000000L, 2)).toDF("pk", "vendorid", "qty", "ts"))
    val e = intercept[IllegalStateException] {
      narrow.batchFrame(t.log.latestId.get - 1, t.log.latestId.get).collect()
    }
    assert(e.getMessage.contains("restart the stream"))
  }

  // ---- Copy-on-Write tail: changes derived from commit adds/removes ----

  private def cowTable(root: String): LakeTable =
    LakeTable(spark, LakeTableConfig(root, keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid"),
      clusterCols = Seq("pk")))

  test("CoW tail: effective changes only — updates/inserts, not rewritten rows") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0))) // commit 0
    t.upsert(df((1L, 1, "a2", 5), (4L, 2, "d", 1)))                     // commit 1
    val src = source(t)
    // the initial load IS a change batch on CoW (every row is new)
    val load = src.batchFrame(-1L, 0L)
      .select("pk", "_deleted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(load == Set((1L, false), (2L, false), (3L, false)))
    // commit 1 rewrote partitions 1 and 2 wholesale, but only the rows
    // it logically touched may surface: update of 1, insert of 4 —
    // NOT the co-located rewritten rows 2 and 3
    val inc = src.batchFrame(0L, 1L)
      .select("pk", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(inc == Set((1L, "a2"), (4L, "d")),
      s"rewritten-but-unchanged rows leaked into the tail: $inc")
  }

  test("CoW tail: delete tombstones; stale upserts and maintenance emit nothing") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0))) // commit 0
    t.delete(df((2L, 1, "b", 0)))                                       // commit 1
    val src = source(t)
    val del = src.batchFrame(0L, 1L)
      .select("pk", "_deleted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(del == Set((2L, true)), s"expected one tombstone, got $del")
    // a stale upsert (lower precombine) loses the merge: the table did
    // not change, so the CoW tail emits nothing (documented divergence
    // from MoR, which emits the raw ingested row)
    t.upsert(df((3L, 2, "stale", -1)))                                  // commit 2
    assert(src.batchFrame(1L, 2L).isEmpty,
      "a losing upsert must not surface as a change")
    // physical reorganization is invisible to the tail
    t.recluster()                                                       // commit 3
    assert(src.batchFrame(2L, t.log.latestId.get).isEmpty,
      "recluster must emit nothing")
  }

  test("CoW tail: insert_overwrite emits new rows plus tombstones for dropped keys") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0), (3L, 2, "c", 0))) // commit 0
    // replace partition 1: key 1 survives with a new value, key 2 drops
    t.insertOverwrite(df((1L, 1, "A", 1)))                              // commit 1
    val src = source(t)
    val got = src.batchFrame(0L, 1L)
      .select("pk", "payload", "_deleted").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, "A", false), (2L, "b", true)),
      s"overwrite tail mismatch: $got")
  }

  test("a truncated timeline never regresses offsets; new commits resume the tail") {
    val t = build(freshRoot(), 3) // commits 0..3
    val src = source(t)
    src.getBatch(None, LongOffset(3L)) // stream has tailed through 3
    t.restoreTo(1L)                    // timeline truncated under it
    assert(t.log.latestId.exists(_ < 3L), "precondition: head moved backwards")
    assert(src.getOffset.isEmpty,
      "a head below the streamed high-water mark must offer NO offset " +
        "(a catch-down batch would regress the checkpoint)")
    // new commits past the high-water mark resume the tail; the retired
    // ids between are skipped, not errors
    t.upsert(df((500L, 1, "after", 9)))
    t.upsert(df((501L, 1, "after2", 10)))
    val head = t.log.latestId.get
    assert(head >= 3L && src.getOffset.contains(LongOffset(head)))
    val rows = src.batchFrame(3L, head)
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(rows == Set(500L, 501L))
  }

  test("startingCommit skips the backlog for a fresh stream; checkpoints override it") {
    val t = build(freshRoot(), 3) // base + upserts at commits 1..3
    val ckpt = Files.createTempDirectory("startc_ckpt").toString
    val out = Files.createTempDirectory("startc_out").toString
    def run(): Unit = {
      val q = t.tailStream(startingCommit = Some(2L))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // fresh stream: first included commit is 2 — commit 1 skipped
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == Set(102L, 103L))
    // on resume the CHECKPOINT start wins over startingCommit: only the
    // genuinely new commit arrives, nothing replays from commit 2
    t.upsert(df((104L, 1, "u4", 4)))
    run()
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == Set(102L, 103L, 104L))
  }

  test("maxCommitsPerTrigger chunks a catch-up backlog; offsets never regress") {
    val t = build(freshRoot(), 6) // commits 0..6
    val src = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(2))
    // no anchor yet: the first offer is uncapped (safe-by-construction)
    assert(src.getOffset.contains(LongOffset(6L)))
    // engine runs a first batch up to 1; subsequent offers cap at +2
    src.getBatch(None, LongOffset(1L)).isStreaming
    assert(src.getOffset.contains(LongOffset(3L)),
      "after a batch ends at 1, the next offer is capped at 1 + 2")
    src.getBatch(Some(LongOffset(1L)), LongOffset(3L))
    assert(src.getOffset.contains(LongOffset(5L)))
    src.getBatch(Some(LongOffset(3L)), LongOffset(5L))
    // the cap never exceeds the head
    assert(src.getOffset.contains(LongOffset(6L)))
    // full end-to-end under the cap: same rows, just more micro-batches
    val ckpt = Files.createTempDirectory("cap_ckpt").toString
    val out = Files.createTempDirectory("cap_out").toString
    val q = t.tailStream(maxCommitsPerTrigger = Some(2))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == (1 to 6).map(100L + _).toSet)
  }

  test("restart under a backlog: metadata-log anchor caps the FIRST offer") {
    // r11: the high-water metadata log under the source's checkpoint
    // dir seeds the admission-control anchor across restarts, so a
    // restarted capped stream's very first offer is already capped —
    // the r9-documented one-uncapped-batch window is closed for every
    // engine-created stream (which always has a metadataPath).
    val t = build(freshRoot(), 2)
    val cap = 3
    val mp = Files.createTempDirectory("tail_mp").toString
    // phase 1: capped stream consumes commits 1..2, checkpoint at 2
    val src1 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(cap), metadataPath = Some(mp))
    src1.getBatch(None, LongOffset(2L))
    // phase 2: a 30-commit backlog accumulates while the stream is down
    (3 to 32).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    val head = t.log.latestId.get
    // phase 3: restart = fresh source instance over the SAME metadata
    // path; the anchor seeds from disk and the first offer is capped
    val src2 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(cap), metadataPath = Some(mp))
    assert(src2.getOffset.contains(LongOffset(2L + cap)),
      "first post-restart offer must cap at checkpointed-end + cap")
    // the capped catch-up batch is exact; caps keep engaging
    val rows = src2.batchFrame(2L, 2L + cap)
      .select("pk").collect().map(_.getLong(0)).toSeq
    assert(rows.toSet == (3 to 5).map(100L + _).toSet)
    src2.getBatch(Some(LongOffset(2L)), LongOffset(2L + cap))
    assert(src2.getOffset.contains(LongOffset(2L + 2 * cap)))
    // the anchor advances DURABLY batch-over-batch: yet another restart
    // seeds from src2's last handled end (2 + cap), not the original
    // checkpoint — so no post-restart offer can fall below an end a
    // previous run already handed to getBatch
    val src3 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(cap), metadataPath = Some(mp))
    assert(src3.getOffset.contains(LongOffset(2L + 2 * cap)))
  }

  test("cap toggled off and on across restarts: markers still advance, no stale anchor") {
    // The anchor invariant (seeded anchor >= any committed end) must
    // hold even when an operator drains a backlog with the cap REMOVED
    // and then re-enables it: markers persist on every getBatch, capped
    // or not — a capped-only persist would seed the pre-backlog anchor
    // and offer an end BELOW the uncapped run's checkpoint (a
    // checkpoint regression + duplicate re-emission).
    val t = build(freshRoot(), 2)
    val mp = Files.createTempDirectory("tail_mp_toggle").toString
    val capped1 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(2), metadataPath = Some(mp))
    capped1.getBatch(None, LongOffset(2L))
    // uncapped restart drains a 10-commit backlog in one batch
    (3 to 12).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    val head = t.log.latestId.get
    val uncapped = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      metadataPath = Some(mp))
    uncapped.getBatch(Some(LongOffset(2L)), LongOffset(head))
    // capped restart: seeds the uncapped run's end, never the stale 2
    (1 to 4).foreach(i => t.upsert(df((900L + i, 1, s"n$i", 99))))
    val capped2 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(2), metadataPath = Some(mp))
    assert(capped2.getOffset.contains(LongOffset(head + 2)),
      "post-toggle offer must anchor on the uncapped run's handled end")
  }

  test("restart under a backlog: a BARE source (no metadata path) stays uncapped-but-exact") {
    // direct construction without a metadataPath (this harness) keeps
    // the pre-r11 contract: the V1 API reveals the checkpointed start
    // only at the first getBatch, so the first offer spans the backlog —
    // row-exact, O(backlog commits) of driver plan fan-out, one trigger
    // wide — and the cap re-engages immediately after.
    val t = build(freshRoot(), 2)
    val cap = 3
    val src1 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(cap))
    src1.getBatch(None, LongOffset(2L))
    (3 to 32).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    val head = t.log.latestId.get
    val src2 = new GraftTailSource(spark.sqlContext, t, t.tailSchema,
      maxCommitsPerTrigger = Some(cap))
    assert(src2.getOffset.contains(LongOffset(head)),
      "first post-restart offer has no anchor and spans the backlog")
    val rows = src2.batchFrame(2L, head)
      .select("pk").collect().map(_.getLong(0)).toSeq
    assert(rows.size == 30 && rows.toSet == (3 to 32).map(100L + _).toSet,
      "uncapped catch-up batch must carry the backlog exactly once")
    src2.getBatch(Some(LongOffset(2L)), LongOffset(head))
    t.upsert(df((999L, 1, "next", 99)))
    t.upsert(df((998L, 1, "next2", 99)))
    t.upsert(df((997L, 1, "next3", 99)))
    t.upsert(df((996L, 1, "next4", 99)))
    assert(src2.getOffset.contains(LongOffset(head + cap)),
      s"post-restart offers must re-cap at handled-end + $cap")
  }

  test("end-to-end: a capped stream restarts into cap-sized micro-batches") {
    val t = build(freshRoot(), 4) // commits 0..4
    val cap = 2
    val ckpt = Files.createTempDirectory("restart_ckpt").toString
    val out = Files.createTempDirectory("restart_out").toString
    def runOnce(): Unit = {
      val q = t.tailStream(maxCommitsPerTrigger = Some(cap))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    def batches(): Int = // numeric offset-log entries only (skip .crc)
      new java.io.File(s"$ckpt/offsets").list()
        .count(n => scala.util.Try(n.toLong).isSuccess)
    runOnce()
    val batchesBefore = batches()
    // a 6-commit backlog accumulates while the stream is down
    (5 to 10).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    runOnce()
    val batchesAfter = batches()
    // the anchor survived the restart: 6 commits drain as 3 batches of
    // `cap`, never one catch-up batch
    assert(batchesAfter - batchesBefore == 3,
      s"expected 3 capped catch-up batches, got ${batchesAfter - batchesBefore}")
    // and the rows are exactly-once regardless of batching
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == (1 to 10).map(100L + _).toSet)
  }

  test("Trigger.AvailableNow: bounded backfill drains capped, then terminates") {
    val t = build(freshRoot(), 4) // commits 0..4
    val cap = 2
    val ckpt = Files.createTempDirectory("avnow_ckpt").toString
    val out = Files.createTempDirectory("avnow_out").toString
    def runAvailableNow(): Unit = {
      val q = t.tailStream(maxCommitsPerTrigger = Some(cap))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", out).start()
      assert(q.awaitTermination(120000),
        "AvailableNow must drain the pinned backlog and STOP on its own")
    }
    def batches(): Int =
      new java.io.File(s"$ckpt/offsets").list()
        .count(n => scala.util.Try(n.toLong).isSuccess)
    runAvailableNow()
    val batchesBefore = batches()
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == (1 to 4).map(100L + _).toSet)
    // a 6-commit backlog accumulates while the stream is down; the next
    // bounded run drains it in cap-sized batches and terminates again
    (5 to 10).foreach(i => t.upsert(df((100L + i, 1, s"u$i", i))))
    runAvailableNow()
    assert(batches() - batchesBefore == 3,
      s"expected 3 capped catch-up batches, got ${batches() - batchesBefore}")
    assert(spark.read.parquet(out).select("pk").collect()
      .map(_.getLong(0)).toSet == (1 to 10).map(100L + _).toSet,
      "restart must resume past the drained backlog, exactly-once")
  }

  test("AvailableNow pins the head at prepare; later commits wait for the next run") {
    val t = build(freshRoot(), 3)
    val src = source(t)
    src.prepareForTriggerAvailableNow()
    t.upsert(df((200L, 1, "late", 99))) // commit 4: AFTER the pin
    val end = src.latestOffset(null, src.getDefaultReadLimit)
    assert(end.asInstanceOf[LongOffset].offset == 3L,
      "the run must drain to the PINNED head, ignoring post-pin commits")
    val again = src.latestOffset(LongOffset(3L), src.getDefaultReadLimit)
    assert(again.asInstanceOf[LongOffset].offset == 3L,
      "drained to the pin: no further progress may be offered")
    // the next run (a fresh source, fresh pin) sees the late commit
    assert(source(t).getOffset.contains(LongOffset(4L)))
  }

  test("CoW tail: per-trigger schema-index fold is O(new commits), not O(timeline)") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0)))                       // commit 0
    (1 to 3).foreach(i => t.upsert(df((1L, 1, s"v$i", i)))) // commits 1-3
    val src = source(t)
    src.batchFrame(-1L, 3L).collect()
    assert(src.indexedFoldedCommits == 4,
      s"first trigger seeds the full prefix, got ${src.indexedFoldedCommits}")
    t.upsert(df((2L, 1, "new", 9)))                         // commit 4
    src.batchFrame(3L, 4L).collect()
    assert(src.indexedFoldedCommits == 5,
      "a later trigger must fold ONLY its new commits, never re-fold the timeline")
  }

  test("CoW tail below the cleaner horizon fails loud, not FileNotFound mid-job") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0)))
    (1 to 3).foreach(i => t.upsert(df((1L, 1, s"v$i", i))))
    t.clean(retain = 1) // rewritten files of the early commits are gone
    assert(t.log.cleanedUpTo > 0, "precondition: the cleaner must have advanced")
    val src = source(t)
    val e = intercept[IllegalArgumentException] {
      src.batchFrame(-1L, t.log.latestId.get).collect()
    }
    assert(e.getMessage.contains("cleaner horizon"), e.getMessage)
    // a tail starting at the horizon still works
    val ok = src.batchFrame(t.log.cleanedUpTo - 1, t.log.latestId.get)
      .select("pk").collect()
    assert(ok.nonEmpty)
  }

  test("delete commit exactly at the horizon fails loud: its removes were swept") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))     // c0
    t.upsert(df((1L, 1, "a1", 1)))                          // c1
    import spark.implicits._
    t.delete(Seq((2L, 1)).toDF("pk", "vendorid"))           // c2 (reads removes)
    t.upsert(df((1L, 1, "a2", 2)))                          // c3
    t.clean(retain = 2) // cutoff = c2: ITS removes are at-or-before and swept
    assert(t.log.cleanedUpTo == 2L, "precondition: horizon at the delete")
    val src = source(t)
    // the batch-level >= guard admits a batch starting AT the horizon
    // (upsert-only diffs read no removes), but the delete commit's
    // tombstone branch must refuse with the restart message — this used
    // to surface as FileNotFound mid-job
    val e = intercept[IllegalArgumentException] {
      src.batchFrame(t.log.cleanedUpTo - 1, t.log.latestId.get).collect()
    }
    assert(e.getMessage.contains("cleaner horizon"), e.getMessage)
    // a batch ABOVE the delete commit still works
    val ok = src.batchFrame(2L, 3L).select("pk").collect()
    assert(ok.nonEmpty)
  }

  test("CoW tail: end-to-end streaming query with checkpoint resume") {
    val t = cowTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0)))
    t.upsert(df((2L, 1, "b", 1)))
    val ckpt = Files.createTempDirectory("cow_tail_ckpt").toString
    val out = Files.createTempDirectory("cow_tail_out").toString
    def run(): Unit = {
      val q = t.tailStream()
        .select("pk", "payload", "_deleted")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val first = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 2L))
    // resume from the checkpoint: only the new commits' changes arrive
    t.upsert(df((1L, 1, "a2", 5)))
    t.delete(df((2L, 1, "b", 1)))
    run()
    val resumed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(resumed == Set((1L, "a", false), (2L, "b", false),
      (1L, "a2", false), (2L, "b", true)),
      s"checkpoint resume must deliver exactly the new changes: $resumed")
  }

  test("changeTypes: typed CDF tail on CoW") {
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid")))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))      // c0: inserts
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))         // c1: update + insert
    t.delete(df((2L, 1, "b", 0)).select("pk", "vendorid"))  // c2: delete
    val src = new GraftTailSource(spark.sqlContext, t, t.changeFeedSchema,
      changeTypes = true)
    val rows = src.batchFrame(-1L, 2L)
      .select("_change_type", "pk", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(
      ("insert", 1L, "a"), ("insert", 2L, "b"),      // c0 seed batch
      ("update_preimage", 1L, "a"),                  // c1 old value
      ("update_postimage", 1L, "a2"),                // c1 new value
      ("insert", 3L, "c"),                           // c1 fresh key
      ("delete", 2L, "b")))                          // c2 last values
    // a stale upsert changes nothing and emits nothing, typed or not
    t.upsert(df((1L, 1, "stale", 0)))                       // c3: loses
    assert(src.batchFrame(2L, 3L).count() == 0)
  }

  test("changeTypes: typed CDF tail on MoR classifies from pre/post merged state") {
    val root = freshRoot()
    val t = LakeTable(spark, LakeTableConfig(root, keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid"),
      storageType = "mor"))
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 1, "b", 0)))      // c0: seed (base)
    t.upsert(df((1L, 1, "a2", 1), (3L, 1, "c", 1)))         // c1: update + insert
    t.delete(df((2L, 1, "b", 0)).select("pk", "vendorid"))  // c2: delete
    val src = new GraftTailSource(spark.sqlContext, t, t.changeFeedSchema,
      changeTypes = true)
    // the seeding base load is not a change (untyped MoR tail scope);
    // c1/c2 classify against the merged prior state of just their keys
    val rows = src.batchFrame(-1L, 2L)
      .select("_change_type", "pk", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(
      ("update_preimage", 1L, "a"),                  // c1 old value
      ("update_postimage", 1L, "a2"),                // c1 new value
      ("insert", 3L, "c"),                           // c1 fresh key
      ("delete", 2L, "b")), rows)                    // c2 PRIOR values
    // a stale delta (loses precombine) changes nothing: emits nothing
    t.upsert(df((1L, 1, "stale", 0)))                       // c3: loses
    assert(src.batchFrame(2L, 3L).count() == 0)
    // a winning second update classifies against the MERGED state
    // (base + prior delta), not just the base file
    t.upsert(df((1L, 1, "a3", 2)))                          // c4: wins
    val again = src.batchFrame(3L, 4L)
      .select("_change_type", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(again == Set(
      ("update_preimage", "a2"), ("update_postimage", "a3")), again)
  }

  // Spark cannot order a struct holding a map, so the typed tails must
  // pick each side's winner without max(payload struct)
  private def mapDf(rows: (Long, Int, Map[String, Int], Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("pk", "vendorid", "attrs", "ts")
  }

  private def typedMapRows(t: LakeTable, from: Long, to: Long) =
    new GraftTailSource(spark.sqlContext, t, t.changeFeedSchema,
      changeTypes = true).batchFrame(from, to)
      .select("_change_type", "pk", "attrs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getMap[String, Int](2).toMap))
      .toSet

  test("changeTypes: typed CDF tail on CoW with a MAP column") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid")))
    t.bulkInsert(mapDf((1L, 1, Map("a" -> 1), 0), (2L, 1, Map("b" -> 2), 0)))
    t.upsert(mapDf((1L, 1, Map("a" -> 3), 1), (3L, 1, Map("c" -> 4), 1)))
    t.delete(mapDf((2L, 1, Map.empty, 0)).select("pk", "vendorid"))
    assert(typedMapRows(t, -1L, 2L) == Set(
      ("insert", 1L, Map("a" -> 1)), ("insert", 2L, Map("b" -> 2)),
      ("update_preimage", 1L, Map("a" -> 1)),
      ("update_postimage", 1L, Map("a" -> 3)),
      ("insert", 3L, Map("c" -> 4)),
      ("delete", 2L, Map("b" -> 2))))
  }

  test("changeTypes: typed CDF tail on MoR with a MAP column") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid"),
      storageType = "mor"))
    t.bulkInsert(mapDf((1L, 1, Map("a" -> 1), 0), (2L, 1, Map("b" -> 2), 0)))
    t.upsert(mapDf((1L, 1, Map("a" -> 3), 1), (3L, 1, Map("c" -> 4), 1)))
    t.delete(mapDf((2L, 1, Map.empty, 0)).select("pk", "vendorid"))
    // c1 + c2 classify as one fused run
    assert(typedMapRows(t, -1L, 2L) == Set(
      ("update_preimage", 1L, Map("a" -> 1)),
      ("update_postimage", 1L, Map("a" -> 3)),
      ("insert", 3L, Map("c" -> 4)),
      ("delete", 2L, Map("b" -> 2))))
    // a run of one commit
    t.upsert(mapDf((1L, 1, Map("a" -> 5), 2)))
    assert(typedMapRows(t, 2L, 3L) == Set(
      ("update_preimage", 1L, Map("a" -> 3)),
      ("update_postimage", 1L, Map("a" -> 5))))
  }

  private def optDf(rows: (Long, Option[Int], String, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("pk", "vendorid", "payload", "ts")
  }

  private def tailRows(t: LakeTable, from: Long, to: Long, typed: Boolean) = {
    val src = new GraftTailSource(spark.sqlContext, t,
      if (typed) t.changeFeedSchema else t.tailSchema, changeTypes = typed)
    src.batchFrame(from, to)
      .select((if (typed) "_change_type" else "_deleted"), "pk", "vendorid", "payload")
      .collect().map(r => (r.get(0).toString, r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getString(3))).toSet
  }

  test("CoW typed tail keys a partition-scoped table by (partition, key)") {
    // one key value stamped in two partitions (one of them the null
    // partition) is two rows of the table, so two inserts; an update in
    // the null partition pairs its pre-image null-safely
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid")))
    t.bulkInsert(optDf((1L, Some(1), "a", 0), (2L, None, "b", 0)))
    t.upsert(optDf((5L, Some(1), "x", 1), (5L, None, "y", 1), (2L, None, "b2", 1)))
    assert(t.read().filter(col("pk") === 5L).count() == 2)
    assert(tailRows(t, 0L, 1L, typed = true) == Set(
      ("insert", 5L, Some(1), "x"), ("insert", 5L, None, "y"),
      ("update_preimage", 2L, None, "b"), ("update_postimage", 2L, None, "b2")))
  }

  test("CoW tail: a key leaving one partition for another pairs no foreign pre-image") {
    // one overwrite rewrites partitions 1 and 2: key 5 drops out of
    // partition 1 and is written fresh into partition 2 — on a
    // partition-scoped table that is a delete plus an insert, never an
    // update whose pre-image comes from the other partition
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid")))
    t.bulkInsert(df((1L, 1, "a", 0), (5L, 1, "x", 0), (7L, 2, "z", 0)))
    t.insertOverwrite(df((1L, 1, "a2", 1), (5L, 2, "y", 1)))
    assert(tailRows(t, 0L, 1L, typed = true) == Set(
      ("update_preimage", 1L, Some(1), "a"), ("update_postimage", 1L, Some(1), "a2"),
      ("delete", 5L, Some(1), "x"), ("insert", 5L, Some(2), "y"),
      ("delete", 7L, Some(2), "z")))
    assert(tailRows(t, 0L, 1L, typed = false) == Set(
      ("false", 1L, Some(1), "a2"), ("false", 5L, Some(2), "y"),
      ("true", 5L, Some(1), "x"), ("true", 7L, Some(2), "z")))
  }

  test("MoR typed tail reads a run's files with the run's own file schemas") {
    // with checkpoints the head snapshot maps only its LIVE files to
    // schemas: the run at commit 1 reads files the compaction removed,
    // written before the rename, which must still alias v -> w
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("vendorid"),
      storageType = "mor", checkpointEvery = 2))
    def row(pk: Long, ts: Int, name: String) =
      Seq((pk, 1, s"v$pk-$ts", ts)).toDF("pk", "vendorid", name, "ts")
    t.bulkInsert(Seq(1L, 2L, 3L).map(pk => (pk, 1, s"v$pk-0", 0))
      .toDF("pk", "vendorid", "v", "ts"))                    // c0
    t.upsert(row(3L, 1, "v"))                                // c1
    t.renameColumn("v", "w")                                 // c2
    t.compact()                                              // c3
    t.upsert(row(1L, 1, "w"))                                // c4
    t.upsert(row(2L, 1, "w"))                                // c5
    val got = new GraftTailSource(spark.sqlContext, t, t.changeFeedSchema,
      changeTypes = true).batchFrame(0L, 1L)
      .select("_change_type", "pk", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("update_preimage", 3L, "v3-0"),
      ("update_postimage", 3L, "v3-1")), got)
  }

  test("MoR tail derives tombstones from a metadata-only partition drop") {
    val t = morTable(freshRoot())
    t.bulkInsert(df((1L, 1, "a", 0), (2L, 2, "b", 0)))
    t.upsert(df((3L, 1, "c", 1))) // delta add inside partition 1
    val cid = t.deleteWhere(col("vendorid") === 1) // metadata-only drop
    assert(t.log.commitsInRange(cid - 1, cid).head.adds.isEmpty,
      "fixture must take the metadata-only path")
    // the drop commit has no delta files, but its deletes must still
    // reach the tail: NULL-payload tombstones per dropped (key, part)
    val rows = source(t).batchFrame(cid - 1, cid)
      .select("pk", "vendorid", "payload", "_deleted").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getBoolean(3) && r.isNullAt(2)))
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 1), (3L, 1)))
    assert(t.read().count() == 1)
  }
}
