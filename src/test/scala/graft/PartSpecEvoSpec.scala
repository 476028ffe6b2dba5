package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.{FileAdd, LakeTable, LakeTableConfig}

/** Partition-spec evolution (Iceberg per-file spec ids): transforms
  * change for FUTURE writes only — `months(ts)` → `days(ts)` as the
  * table grows — old files keep their layout, every tuple comparison
  * (pruning, upsert/delete/overwrite scoping) dispatches on the file's
  * own spec, and exactness provers refuse whenever ANY spec in the
  * history is non-identity.
  */
class PartSpecEvoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory("specevo").resolve("tbl").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def rows(r: (Long, Timestamp, String, Int)*): DataFrame = {
    import spark.implicits._
    r.toDF("pk", "ev_ts", "payload", "ts")
  }

  /** months-spec table with March+April rows, then evolved to days with
    * May rows written under the new spec */
  private def evolved(): LakeTable = {
    val t0 = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("ev_ts"), partitionTransforms = Seq("months")))
    t0.bulkInsert(rows(
      (1L, ts("2024-03-01 10:00:00"), "a", 0),
      (2L, ts("2024-03-15 23:59:59"), "b", 0),
      (3L, ts("2024-04-02 00:00:00"), "c", 0)))
    val t = t0.evolvePartitionSpec(Seq("days"))
    t.upsert(rows(
      (4L, ts("2024-05-05 12:00:00"), "d", 1),
      (5L, ts("2024-05-06 00:00:00"), "e", 1)))
    t
  }

  private def prunedFiles(t: LakeTable, pred: org.apache.spark.sql.Column): Seq[FileAdd] = {
    val snap = t.log.snapshot()
    val p = t.resolvePredicate(pred, snap).get
    t.pruneFilesFor(snap.files, p, snap)
  }

  test("evolution: old files keep months tuples, new files get days; reads complete") {
    val t = evolved()
    val bySpec = t.log.liveFiles().groupBy(_.spec)
    assert(bySpec.keySet == Set(0, 1), bySpec.keySet)
    assert(bySpec(0).map(_.partition).toSet == Set("2024-03", "2024-04"))
    assert(bySpec(1).map(_.partition).toSet == Set("2024-05-05", "2024-05-06"))
    assert(t.read().count() == 5)
    // a reloaded instance sees the evolved spec from the descriptor
    val cold = LakeTable(spark, t.config)
    assert(cold.config.currentSpecId == 1)
    assert(cold.read().count() == 5)
  }

  test("pruning dispatches per spec: both halves prune under their own layout") {
    val t = evolved()
    // range spanning the boundary: keeps 2024-04 (months file) and
    // 2024-05-05 (days file), drops 2024-03 and 2024-05-06 (the bound
    // sits inside 05-05 — an exact-midnight bound keeps the next day
    // conservatively, the transform cannot see strictness)
    val r = prunedFiles(t, col("ev_ts") >= lit(ts("2024-04-01 00:00:00")) &&
      col("ev_ts") < lit(ts("2024-05-05 23:59:59")))
    assert(r.map(_.partition).toSet == Set("2024-04", "2024-05-05"), r.map(_.partition))
    // equality inside the OLD half keeps only its month
    val e = prunedFiles(t, col("ev_ts") === lit(ts("2024-03-15 23:59:59")))
    assert(e.map(_.partition).toSet == Set("2024-03"))
    // equality inside the NEW half keeps only its day
    val e2 = prunedFiles(t, col("ev_ts") === lit(ts("2024-05-06 00:00:00")))
    assert(e2.map(_.partition).toSet == Set("2024-05-06"))
    // pruned READ is row-correct across the boundary
    val got = t.read(col("ev_ts") >= lit(ts("2024-04-01 00:00:00")))
      .select("pk").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L, 5L))
  }

  test("upsert across the boundary: a key in an old-spec file updates, never duplicates") {
    val t = evolved()
    // pk=1 lives in the months-spec 2024-03 file; the global-index probe
    // plus per-spec tuple closure must locate and rewrite it
    t.upsert(rows((1L, ts("2024-03-01 10:00:00"), "a2", 2)))
    val snap = t.read().select("pk", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap.size == 5, s"duplicate keys after cross-spec upsert: $snap")
    assert(snap(1L) == "a2")
    // the whole touched months-partition rewrote under the CURRENT
    // (days) spec — pk2 co-resided in "2024-03" and migrated with it
    val holding = t.log.liveFiles().filter(f => f.partition.startsWith("2024-03"))
    assert(holding.forall(_.spec == 1), holding.map(f => (f.partition, f.spec)))
    assert(holding.map(_.partition).toSet == Set("2024-03-01", "2024-03-15"))
  }

  test("delete and overwrite scope correctly across the boundary") {
    val t = evolved()
    import spark.implicits._
    t.delete(Seq(2L).toDF("pk")) // old-spec resident key
    assert(t.read().select("pk").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 5L))
    // overwrite a region that includes an old-spec partition: April's
    // row is replaced by a same-month row written under the days spec
    t.overwriteWhere(col("ev_ts") >= lit(ts("2024-04-01 00:00:00")) &&
        col("ev_ts") < lit(ts("2024-05-01 00:00:00")),
      rows((30L, ts("2024-04-10 08:00:00"), "c2", 3)))
    val got = t.read().select("pk", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 30L -> "c2", 4L -> "d", 5L -> "e"), got)
  }

  test("provers refuse after months->identity evolution (old files stay transformed)") {
    val t0 = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts", globalIndex = true,
      partitionCols = Seq("ev_ts"), partitionTransforms = Seq("months")))
    t0.bulkInsert(rows((1L, ts("2024-03-01 10:00:00"), "a", 0)))
    val t = t0.evolvePartitionSpec(Seq("identity"))
    assert(t.config.anyHiddenSpec && !t.config.hasHiddenParts)
    // metadata partition aggs must refuse: the 2024-03 level is not a
    // row value even though the CURRENT spec is identity
    assert(t.metadataPartitionAggsOf(Seq.empty, Seq.empty,
      t.log.liveFiles(), t.log.snapshot()).isEmpty)
  }

  test("exactness claims dispatch per spec: every spec group must prove") {
    val t = evolved() // months files (2024-03, 2024-04) + days (05-05, 05-06)
    // a month-boundary range is edge-aligned under BOTH specs (a month
    // start is also a day start) — the claim holds across the boundary
    val kept = t.exactPartitionFiles(Map.empty, None, Set.empty,
      Map("ev_ts" -> Seq((">=", ts("2024-04-01 00:00:00")),
        ("<", ts("2024-06-01 00:00:00")))))
    assert(kept.exists(_.map(_.partition).toSet ==
      Set("2024-04", "2024-05-05", "2024-05-06")), kept.map(_.map(_.partition)))
    // a day boundary mid-month proves under days but NOT under the
    // months the old files carry — partial exactness is not exactness
    assert(t.exactPartitionFiles(Map.empty, None, Set.empty,
      Map("ev_ts" -> Seq((">=", ts("2024-05-06 00:00:00"))))).isEmpty)
  }

  test("evolution guards: arity, no-op, type validity, unpartitioned") {
    val t = evolved()
    intercept[IllegalArgumentException](t.evolvePartitionSpec(Seq("days")))
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq("days", "months")))
    intercept[IllegalArgumentException](t.evolvePartitionSpec(Seq("truncate[4]")))
    val unpart = LakeTable(spark, LakeTableConfig(freshRoot(),
      keyCols = Seq("pk"), precombineCol = "ts"))
    unpart.bulkInsert(rows((1L, ts("2024-03-01 10:00:00"), "a", 0)))
    intercept[IllegalArgumentException](unpart.evolvePartitionSpec(Seq("days")))
  }

  test("SQL surface: ALTER TABLE SET TBLPROPERTIES evolves the spec") {
    val wh = Files.createTempDirectory("specevo_wh").toString
    spark.conf.set("spark.sql.catalog.se", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.se.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS se.db")
    spark.sql("""CREATE TABLE se.db.ev (pk BIGINT, ev_ts TIMESTAMP, v STRING,
                 ts INT) USING graft PARTITIONED BY (months(ev_ts))
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                 globalIndex='true')""")
    spark.sql("""INSERT INTO se.db.ev VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00', 'a', 0)""")
    spark.sql("ALTER TABLE se.db.ev SET TBLPROPERTIES ('partitionTransforms'='days')")
    spark.sql("""INSERT INTO se.db.ev VALUES
      (2, TIMESTAMP '2024-05-05 12:00:00', 'b', 0)""")
    assert(spark.sql("SELECT pk FROM se.db.ev ORDER BY pk").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // cross-spec upsert through SQL: pk=1 still single
    spark.sql("""INSERT INTO se.db.ev VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00', 'a2', 1)""")
    assert(spark.sql("SELECT v FROM se.db.ev WHERE pk = 1").collect()
      .map(_.getString(0)).toSeq == Seq("a2"))
    // partition COLUMNS stay immutable
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE se.db.ev SET TBLPROPERTIES ('partitionCols'='v')"))
    assert(e.getMessage.contains("not alterable"), e.getMessage)
  }

  test("SQL surface: spec evolution in a multi-property ALTER keeps the siblings") {
    val wh = Files.createTempDirectory("specevo_wh2").toString
    spark.conf.set("spark.sql.catalog.se2", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.se2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS se2.db")
    spark.sql("""CREATE TABLE se2.db.multi (pk BIGINT, ev_ts TIMESTAMP,
                 v STRING, ts INT) USING graft PARTITIONED BY (months(ev_ts))
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                 globalIndex='true')""")
    spark.sql("""INSERT INTO se2.db.multi VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00', 'a', 0)""")
    // a sibling property set in the SAME statement as the spec evolution
    // must survive the evolution's descriptor round-trip
    spark.sql("""ALTER TABLE se2.db.multi SET TBLPROPERTIES
      ('compactEvery'='5', 'partitionTransforms'='days')""")
    val props = spark.sql("SHOW TBLPROPERTIES se2.db.multi").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("compactEvery").contains("5"), props.toString)
    // the spec itself is surfaced through partitioning, not properties —
    // read the persisted descriptor for it
    val desc = graft.lake.TableDescriptor.load(s"$wh/db/multi",
      spark.sparkContext.hadoopConfiguration).get
    assert(desc.partitionTransforms == Seq("days"), desc.toString)
    assert(desc.compactEvery == 5, desc.toString)
  }

  test("SQL surface: UNSET partitionTransforms is idempotent") {
    val wh = Files.createTempDirectory("specevo_wh3").toString
    spark.conf.set("spark.sql.catalog.se3", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.se3.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS se3.db")
    spark.sql("""CREATE TABLE se3.db.un (pk BIGINT, ev_ts TIMESTAMP,
                 v STRING, ts INT) USING graft PARTITIONED BY (months(ev_ts))
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                 globalIndex='true')""")
    spark.sql("""INSERT INTO se3.db.un VALUES
      (1, TIMESTAMP '2024-03-01 10:00:00', 'a', 0)""")
    // first unset evolves months -> identity; second is a no-op reset,
    // like every other RemoveProperty — not an error
    spark.sql("ALTER TABLE se3.db.un UNSET TBLPROPERTIES ('partitionTransforms')")
    spark.sql("ALTER TABLE se3.db.un UNSET TBLPROPERTIES ('partitionTransforms')")
    assert(spark.sql("SELECT pk FROM se3.db.un").collect().length == 1)
  }
}
