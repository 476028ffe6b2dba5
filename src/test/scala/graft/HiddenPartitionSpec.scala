package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.{FileAdd, LakeTable, LakeTableConfig, PartTransform}

/** Hidden partitioning (Iceberg partition-spec transforms): directory
  * layout, timezone-free rendering, predicate→directory pruning through
  * every transform, write-path scoping, prover refusal, and the SQL DDL
  * surface (`PARTITIONED BY (months(ts), bucket(n, k))`).
  */
class HiddenPartitionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory("hiddenpart").resolve("tbl").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def rows(r: (Long, Timestamp, String, Int)*): DataFrame = {
    import spark.implicits._
    r.toDF("pk", "ev_ts", "payload", "ts")
  }

  private def daysTable(): LakeTable = {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("ev_ts"), partitionTransforms = Seq("days")))
    t.bulkInsert(rows(
      (1L, ts("2024-03-01 10:00:00"), "a", 0),
      (2L, ts("2024-03-01 23:59:59"), "b", 0),
      (3L, ts("2024-03-02 00:00:00"), "c", 0),
      (4L, ts("2024-03-05 12:00:00"), "d", 0),
      (5L, ts("2024-04-01 00:00:00"), "e", 0)))
    t
  }

  private def prunedFiles(t: LakeTable, pred: org.apache.spark.sql.Column): Seq[FileAdd] = {
    val snap = t.log.snapshot()
    val p = t.resolvePredicate(pred, snap).get
    t.pruneFilesFor(snap.files, p, snap)
  }

  test("days(ts): directories are epoch-day dates; reads stay complete") {
    val t = daysTable()
    val parts = t.log.liveFiles(None).map(_.partition).toSet
    assert(parts == Set("2024-03-01", "2024-03-02", "2024-03-05", "2024-04-01"))
    assert(t.read().count() == 5)
    // pruned read returns exactly the filtered rows
    val filtered = t.read(col("ev_ts") >= lit(ts("2024-03-02 00:00:00")))
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(filtered == Set(3L, 4L, 5L))
  }

  test("days(ts): range + equality predicates prune directories") {
    val t = daysTable()
    val all = t.log.liveFiles(None)
    assert(all.size == 4)
    // range keeps only days that can satisfy it
    val r = prunedFiles(t, col("ev_ts") >= lit(ts("2024-03-02 00:00:00")) &&
      col("ev_ts") < lit(ts("2024-03-06 00:00:00")))
    assert(r.map(_.partition).toSet == Set("2024-03-02", "2024-03-05"))
    // equality keeps ONE day (the whole day — over-approximate, never wrong)
    val e = prunedFiles(t, col("ev_ts") === lit(ts("2024-03-01 13:00:00")))
    assert(e.map(_.partition).toSet == Set("2024-03-01"))
    // a predicate no directory satisfies prunes everything
    val none = prunedFiles(t, col("ev_ts") >= lit(ts("2025-01-01 00:00:00")))
    assert(none.isEmpty)
  }

  test("months rendering is session-timezone-free (instant arithmetic)") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("ev_ts"), partitionTransforms = Seq("months")))
    // 00:30 UTC on March 1: in America/Los_Angeles the LOCAL date is
    // still Feb 29 — a localized render would split these rows across
    // two month directories depending on who wrote them
    t.bulkInsert(rows((1L, ts("2024-03-01 00:30:00"), "a", 0)))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      t.upsert(rows((2L, ts("2024-03-01 00:45:00"), "b", 0)))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(t.log.liveFiles(None).map(_.partition).toSet == Set("2024-03"),
      "both writers must agree on the month directory regardless of session TZ")
  }

  test("bucket(n, k): equality/IN prunes to the key's bucket; nulls to sentinel") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("payload"), partitionTransforms = Seq("bucket[8]")))
    import spark.implicits._
    val df = (1L to 64L).map(i => (i, s"v$i", 0)).toDF("pk", "payload", "ts")
      .unionByName(Seq((65L, null.asInstanceOf[String], 0))
        .toDF("pk", "payload", "ts"))
    t.bulkInsert(df)
    val parts = t.log.liveFiles(None).map(_.partition).toSet
    assert(parts.contains(graft.lake.LakeTable.NullPartition),
      "null rows land in the sentinel directory")
    assert((parts - graft.lake.LakeTable.NullPartition)
      .forall(p => (0 until 8).map(_.toString).contains(p)))
    // equality prunes to one bucket and the row comes back
    val one = prunedFiles(t, col("payload") === "v17")
    assert(one.map(_.partition).toSet.size == 1)
    assert(t.read(col("payload") === "v17").count() == 1)
    // IN prunes to at most |keys| buckets
    val in3 = prunedFiles(t, col("payload").isin("v1", "v2", "v3"))
    assert(in3.map(_.partition).toSet.size <= 3)
    assert(t.read(col("payload").isin("v1", "v2", "v3")).count() == 3)
  }

  test("truncate(w) on string: prefix directories; '' folds to sentinel with null") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("payload"), partitionTransforms = Seq("truncate[2]")))
    import spark.implicits._
    t.bulkInsert(Seq(
      (1L, "alpha", 0), (2L, "alto", 0), (3L, "beta", 0),
      (4L, "", 0), (5L, null.asInstanceOf[String], 0))
      .toDF("pk", "payload", "ts"))
    val parts = t.log.liveFiles(None).map(_.partition).toSet
    assert(parts == Set("al", "be", graft.lake.LakeTable.NullPartition))
    val e = prunedFiles(t, col("payload") === "alpine")
    assert(e.map(_.partition).toSet == Set("al"))
    // equality with '' keeps the sentinel (it holds '' AND null rows)
    val empty = prunedFiles(t, col("payload") === "")
    assert(empty.map(_.partition).toSet == Set(graft.lake.LakeTable.NullPartition))
    assert(t.read(col("payload") === "").select("pk").collect()
      .map(_.getLong(0)).toSet == Set(4L))
    // IS NOT NULL must NOT prune the string sentinel ('' IS NOT NULL)
    val nn = prunedFiles(t, col("payload").isNotNull)
    assert(nn.map(_.partition).toSet.contains(graft.lake.LakeTable.NullPartition))
  }

  test("exactness provers refuse on transformed layouts") {
    val t = daysTable()
    assert(t.exactPartitionFiles(
      Map("ev_ts" -> Seq(ts("2024-03-01 10:00:00"))), None).isEmpty,
      "filtered metadata aggregates must not claim a transformed level")
    assert(t.metadataPartitionAggs(Seq.empty, None).isEmpty,
      "grouped metadata aggs cannot re-parse transform values")
    assert(t.partitionKeyRows(t.log.liveFiles(None), t.log.snapshot()).isEmpty,
      "key-grouped (storage-partitioned join) reporting must refuse")
    // per-partition counts still answer — through a scan
    val pc = t.partitionRowCounts(None).collect()
    assert(pc.map(_.getLong(1)).sum == 5)
  }

  test("upsert/overwrite scope by transformed tuples; other directories untouched") {
    val t = daysTable()
    val before = t.log.liveFiles(None).map(f => f.partition -> f.path).toMap
    // upsert into 2024-03-05 only
    t.upsert(rows((4L, ts("2024-03-05 18:00:00"), "D", 1)))
    val after = t.log.liveFiles(None).map(f => f.partition -> f.path).toMap
    assert(after("2024-03-01") == before("2024-03-01") &&
      after("2024-03-02") == before("2024-03-02") &&
      after("2024-04-01") == before("2024-04-01"),
      "untouched day directories must keep their files")
    assert(after("2024-03-05") != before("2024-03-05"))
    assert(t.read().filter(col("pk") === 4L).select("payload").head.getString(0) == "D")
    // dynamic overwrite replaces exactly the batch's transformed tuples
    t.insertOverwrite(rows((9L, ts("2024-03-01 01:00:00"), "z", 9)))
    val snap = t.read().select("pk").collect().map(_.getLong(0)).toSet
    assert(snap == Set(3L, 4L, 5L, 9L),
      s"overwrite must supersede the whole 2024-03-01 day, got $snap")
  }

  test("SQL DDL: PARTITIONED BY (months(ts), bucket(4, key)) round-trips and prunes") {
    val wh = Files.createTempDirectory("hiddenwh").toString
    spark.conf.set("spark.sql.catalog.hptest", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.hptest.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hptest.db")
    spark.sql("""CREATE TABLE hptest.db.ev
      (pk BIGINT, ev_ts TIMESTAMP, ukey BIGINT, ts INT)
      USING graft PARTITIONED BY (months(ev_ts), bucket(4, ukey))
      TBLPROPERTIES (keyCols='pk', precombineCol='ts', globalIndex='true')""")
    spark.sql("""INSERT INTO hptest.db.ev VALUES
      (1, TIMESTAMP'2024-01-10 00:00:00', 100, 0),
      (2, TIMESTAMP'2024-02-10 00:00:00', 200, 0),
      (3, TIMESTAMP'2024-02-20 00:00:00', 300, 0),
      (4, TIMESTAMP'2024-03-10 00:00:00', 400, 0)""")
    // partitioning() reports the real transforms (SHOW CREATE surface)
    val parts = spark.sql("SHOW CREATE TABLE hptest.db.ev")
      .head.getString(0)
    assert(parts.contains("months(ev_ts)") && parts.contains("bucket(4, ukey)"),
      s"SHOW CREATE must surface the transforms:\n$parts")
    // month-range query reads the right rows
    val got = spark.sql("""SELECT pk FROM hptest.db.ev
      WHERE ev_ts >= TIMESTAMP'2024-02-01 00:00:00'
        AND ev_ts < TIMESTAMP'2024-03-01 00:00:00'
      ORDER BY pk""").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L))
    // and the persisted descriptor round-trips the transform specs
    val desc = graft.lake.TableDescriptor.load(s"$wh/db/ev",
      spark.sparkContext.hadoopConfiguration).get
    assert(desc.partitionTransforms == Seq("months", "bucket[4]"))
    assert(desc.config(s"$wh/db/ev").hasHiddenParts)
    spark.sql("DROP TABLE hptest.db.ev")
  }

  test("transform spec validation fails fast") {
    intercept[IllegalArgumentException] {
      PartTransform.parse("weeks")
    }
    // months over a non-temporal column refuses at write
    val t = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("payload"), partitionTransforms = Seq("months")))
    import spark.implicits._
    val ex = intercept[Exception] {
      t.bulkInsert(Seq((1L, "nope", 0)).toDF("pk", "payload", "ts"))
    }
    assert(ex.getMessage.contains("not valid"), ex.getMessage)
    // arity mismatch refuses at config construction
    intercept[IllegalArgumentException] {
      LakeTableConfig(freshRoot(), keyCols = Seq("pk"), precombineCol = "ts",
        partitionCols = Seq("a", "b"), partitionTransforms = Seq("days"))
    }
    // hidden partitioning without a global index refuses: per-partition
    // record identity over a transformed level is ill-defined (two raw
    // values, one directory)
    val gi = intercept[IllegalArgumentException] {
      LakeTableConfig(freshRoot(), keyCols = Seq("pk"), precombineCol = "ts",
        partitionCols = Seq("ev_ts"), partitionTransforms = Seq("days"))
    }
    assert(gi.getMessage.contains("globalIndex"), gi.getMessage)
  }

  test("aligned-range count on months(ts) is a metadata read; misaligned scans") {
    val wh = Files.createTempDirectory("hp_cnt_wh").toString
    spark.conf.set("spark.sql.catalog.hc", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.hc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hc.db")
    spark.sql("""CREATE TABLE hc.db.m (pk BIGINT, ev TIMESTAMP, v STRING,
        ts INT) USING graft PARTITIONED BY (months(ev))
      TBLPROPERTIES (keyCols='pk', precombineCol='ts', globalIndex='true')""")
    spark.sql("""INSERT INTO hc.db.m VALUES
      (1, TIMESTAMP '2024-03-05 10:00:00', 'a', 0),
      (2, TIMESTAMP '2024-03-31 23:59:59.999999', 'b', 0),
      (3, TIMESTAMP '2024-04-01 00:00:00', 'c', 0),
      (4, TIMESTAMP '2024-05-20 08:00:00', 'd', 0),
      (5, NULL, 'e', 0)""")
    def cnt(sql: String): Long = spark.sql(sql).collect().head.getLong(0)
    val aligned = """SELECT count(*) FROM hc.db.m
      WHERE ev >= TIMESTAMP '2024-03-01 00:00:00'
        AND ev < TIMESTAMP '2024-05-01 00:00:00'"""
    assert(cnt(aligned) == 3L) // March + April rows; the null row excluded
    // plain SELECT with the same CLAIMED range: the filter is fully
    // handled (never re-applied above the scan), so the sentinel
    // directory's null-ev row must be excluded BY PRUNING — the
    // regression this pins: a kept sentinel would leak pk=5 here
    assert(spark.sql("""SELECT pk FROM hc.db.m
        WHERE ev >= TIMESTAMP '2024-03-01 00:00:00'
          AND ev < TIMESTAMP '2024-05-01 00:00:00'
        ORDER BY pk""").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    // the proof the count never scans: delete every data file — real
    // scans fail, the month-boundary-aligned count still answers from
    // commit-log footer counts
    val p = new org.apache.hadoop.fs.Path(wh, "db/m")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var dropped = 0
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) { fs.delete(f, false); dropped += 1 }
    }
    assert(dropped > 0)
    assert(cnt(aligned) == 3L)
    // closed upper bound at a month END is aligned too
    assert(cnt("""SELECT count(*) FROM hc.db.m
      WHERE ev <= TIMESTAMP '2024-03-31 23:59:59.999999'""") == 2L)
    // a MID-month bound is interior to its level: the count is a row
    // question and must scan (= fail here) — the alignment control
    intercept[Exception](cnt("""SELECT count(*) FROM hc.db.m
      WHERE ev >= TIMESTAMP '2024-03-15 00:00:00'"""))
  }

  test("prover: truncate/bucket levels refuse claims; days-on-DATE equality accepts") {
    import spark.implicits._
    val tr = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("name"), partitionTransforms = Seq("truncate[2]")))
    tr.bulkInsert(Seq((1L, "abel", 0), (2L, "abba", 0), (3L, "carl", 0))
      .toDF("pk", "name", "ts"))
    // truncate: 'ab' re-renders cleanly while rows differ — refuse both
    assert(tr.exactPartitionFiles(Map("name" -> Seq("abel")), None).isEmpty)
    assert(tr.exactPartitionFiles(Map.empty, None,
      ranges = Map("name" -> Seq((">=", "ab")))).isEmpty)

    val dd = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("d"), partitionTransforms = Seq("days")))
    dd.bulkInsert(Seq(
      (1L, java.sql.Date.valueOf("2024-03-01"), 0),
      (2L, java.sql.Date.valueOf("2024-03-02"), 0)).toDF("pk", "d", "ts"))
    // days over DATE is injective: equality is exactly level membership
    val kept = dd.exactPartitionFiles(
      Map("d" -> Seq(java.sql.Date.valueOf("2024-03-01"))), None)
    assert(kept.exists(_.map(_.partition).toSet == Set("2024-03-01")))
    // every DATE bound is day-aligned: ranges accept
    val ranged = dd.exactPartitionFiles(Map.empty, None,
      ranges = Map("d" -> Seq((">=", java.sql.Date.valueOf("2024-03-02")))))
    assert(ranged.exists(_.map(_.partition).toSet == Set("2024-03-02")))
  }
}
