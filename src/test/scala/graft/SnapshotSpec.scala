package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, LakeTableConfig}

/** `file://` filesystem that counts directory listings of a table's
  * commit-log directory (`_log`) — the metadata round-trips a snapshot
  * resolution pays (one LIST request each on an object store). Installed
  * only for the duration of a test ([[SnapshotSpec.withLogCounting]]). */
class LogListingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_log") LogListingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object LogListingFs {
  val listings = new AtomicLong(0)
}

/** One operation reads one resolved version ([[graft.lake.Snapshot]]):
  *   - the commit log is listed a bounded number of times per resolved
  *     version, whatever the read surface, and a write resolves the
  *     version it is based on once;
  *   - metadata answers (aggregate pushdown) consult the PINNED version's
  *     deletion vectors, never the head's;
  *   - every snapshot read surface returns the same columns whether or
  *     not a file survives pruning;
  *   - a read-free MoR delta append rebases over a racing compaction;
  *   - map columns evolve like arrays (value types widen, struct values
  *     gain fields) through snapshot reads, time travel and typed tails.
  */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft_snapshot_wh").toString
    spark.conf.set("spark.sql.catalog.snp", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.snp.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS snp.db")
    dir
  }

  private def freshRoot(): String =
    Files.createTempDirectory("snaptest").resolve("tbl").toString

  private def rows(pks: Seq[Int], ts: Int): DataFrame = {
    import spark.implicits._
    pks.map(i => (i.toLong, s"p${i % 10}", s"v$i-$ts", ts))
      .toDF("pk", "part", "v", "ts")
  }

  /** run `body` with `_log` listings counted: the counting filesystem
    * replaces `file://` (uncached, so every `getFileSystem` sees it) and
    * the previous settings are restored afterwards */
  private def withLogCounting[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[LogListingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }

  private def listings(body: => Any): Long = {
    val before = LogListingFs.listings.get
    body
    LogListingFs.listings.get - before
  }

  /** 6 commits over 10 partitions and 300 rows: a base load, then five
    * upserts of 40 keys each (deltas on MoR, rewrites on CoW) */
  private def apiTable(storage: String): LakeTable = {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"), storageType = storage))
    t.bulkInsert(rows(1 to 300, 0))
    (1 to 5).foreach(i => t.upsert(rows((1 to 40).map(_ * 7 % 300 + i), i)))
    t
  }

  private def sqlTable(name: String, storage: String): String = {
    wh
    val ident = s"snp.db.$name"
    spark.sql(s"""CREATE TABLE $ident (pk BIGINT, part STRING, v STRING, ts INT)
                  USING graft PARTITIONED BY (part)
                  TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                 storageType='$storage')""")
    rows(1 to 300, 0).writeTo(ident).append()
    (1 to 5).foreach(i =>
      rows((1 to 40).map(_ * 7 % 300 + i), i).writeTo(ident).append())
    ident
  }

  test("each read resolves its version once: bounded _log listings") {
    import spark.implicits._
    val counts = Seq("mor", "cow").map { storage =>
      val t = apiTable(storage)
      val ident = sqlTable(s"listings_$storage", storage)
      val keys = Seq(8L, 15L, 22L).toDF("pk")
      val n = withLogCounting(Seq(
        "read()" -> listings(t.read()),
        "read(pred)" -> listings(t.read(col("part") === "p3")),
        "readAsOf" -> listings(t.readAsOf(2L)),
        "lookup" -> listings(t.lookup(keys)),
        "readPartitions" -> listings(t.readPartitions(Set("p3"))),
        "changesBetween" -> listings(t.changesBetween(1L, 5L)),
        "sql lookup" -> listings(spark.sql(
          s"SELECT * FROM $ident WHERE pk IN (8, 15, 22)").collect()),
        "sql max(pk)" -> listings(spark.sql(s"SELECT max(pk) FROM $ident").collect())))
      info(s"$storage: ${n.map { case (op, c) => s"$op=$c" }.mkString(", ")}")
      storage -> n.toMap
    }
    counts.foreach { case (storage, n) =>
      Seq("read()", "read(pred)", "readAsOf", "lookup", "readPartitions").foreach { op =>
        assert(n(op) <= 3, s"$storage $op listed _log ${n(op)} times for one version")
      }
      assert(n("changesBetween") <= 6,
        s"$storage changesBetween listed _log ${n("changesBetween")} times for two versions")
      Seq("sql lookup", "sql max(pk)").foreach { op =>
        assert(n(op) <= 6, s"$storage $op listed _log ${n(op)} times")
      }
    }
  }

  test("each write resolves its base once: bounded _log listings") {
    import spark.implicits._
    Seq("mor", "cow").foreach { storage =>
      val t = apiTable(storage)
      val ops = Seq(
        "upsert" -> (() => t.upsert(rows((1 to 40).map(_ * 3), 9))),
        "delete" -> (() => t.delete(Seq((8L, "p8"), (15L, "p5")).toDF("pk", "part"))),
        "deleteWhere" -> (() => t.deleteWhere(col("pk") === 22L)),
        "insertOverwrite" -> (() => t.insertOverwrite(rows(Seq(3, 13), 10)))) ++
        (if (storage == "mor") Seq("compact" -> (() => t.compact())) else Seq.empty)
      val n = withLogCounting(ops.map { case (op, run) => op -> listings(run()) })
      info(s"$storage: ${n.map { case (op, c) => s"$op=$c" }.mkString(", ")}")
      n.foreach { case (op, c) =>
        assert(c <= 6, s"$storage $op listed _log $c times for one write")
      }
    }
  }

  test("time-travel MIN/MAX/SUM pushdown reads the pinned version's DVs") {
    wh
    spark.sql("""CREATE TABLE snp.db.ttdv (pk BIGINT, ts INT, part INT)
                 USING graft PARTITIONED BY (part)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                statsCols='pk', sumCols='pk', deleteMode='dv')""")
    val vals = (1 to 40).map(i => s"($i, 0, ${i % 4})").mkString(", ")
    spark.sql(s"INSERT INTO snp.db.ttdv VALUES $vals")
    spark.sql("DELETE FROM snp.db.ttdv WHERE pk = 40")
    val t = LakeTable(spark, LakeTableConfig(
      new Path(wh, "db/ttdv").toString, keyCols = Seq("pk"),
      precombineCol = "ts"))
    val v = t.log.latestId.get
    assert(t.log.liveDvs(Some(v)).nonEmpty, "the delete must land as a DV")
    // rewrite pk 40's partition: the head retires the DV with its target
    spark.sql("INSERT INTO snp.db.ttdv VALUES (44, 1, 0)")
    assert(t.log.liveDvs().isEmpty, "the rewrite must retire the DV at the head")
    val scanned = spark.sql(s"SELECT pk FROM snp.db.ttdv VERSION AS OF $v")
      .collect().map(_.getLong(0))
    assert(scanned.max == 39L && scanned.sum == 780L)
    val agg = spark.sql(
      s"SELECT max(pk), sum(pk) FROM snp.db.ttdv VERSION AS OF $v").collect().head
    assert((agg.getLong(0), agg.getLong(1)) == ((39L, 780L)),
      "the metadata answer must agree with a scan of the same version")
  }

  test("every snapshot read surface keeps its columns when nothing matches") {
    import spark.implicits._
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"), storageType = "mor",
      metaColumns = true))
    t.bulkInsert(rows(1 to 20, 0))
    t.upsert(rows(Seq(3, 13), 1)) // the latest commit is a delta
    def same(surface: String, hit: DataFrame, miss: DataFrame): Unit = {
      assert(hit.count() > 0 && miss.count() == 0, surface)
      assert(hit.columns.toSeq == miss.columns.toSeq,
        s"$surface: ${hit.columns.mkString(",")} vs ${miss.columns.mkString(",")}")
    }
    same("read(pred)", t.read(col("part") === "p3"), t.read(col("part") === "zz"))
    same("readPartitions", t.readPartitions(Set("p3")), t.readPartitions(Set("zz")))
    same("lookup", t.lookup(Seq(3L).toDF("pk")), t.lookup(Seq(999L).toDF("pk")))
    val full = t.read()
    // an empty batch truncates: the snapshot has no file left to scan
    t.overwriteAll(rows(Seq.empty, 2))
    same("read()", full, t.read())
    same("readAsOf", t.readAsOf(1L), t.readAsOf(t.log.latestId.get))
  }

  test("a MoR delta append rebases over a racing compaction") {
    import spark.implicits._
    val cfg = LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"), storageType = "mor")
    val writer = LakeTable(spark, cfg)
    writer.bulkInsert(rows(1 to 20, 0))
    writer.upsert(rows(Seq(3, 13), 1)) // p3 now carries a delta
    val maintainer = LakeTable(spark, cfg)
    var compacted = -1L
    writer.onHeadResolved = () => {
      writer.onHeadResolved = () => ()
      compacted = maintainer.compact() // rewrites p3 inside the window
    }
    val id = writer.upsert(rows(Seq(3, 23), 2))
    assert(compacted >= 0L && id > compacted,
      s"the append must land after the compaction ($compacted), got $id")
    val c = writer.log.commitIfExists(id).get
    assert(c.op == "delta_commit" && c.adds.forall(_.isDelta))
    val got = writer.read().select("pk", "v").as[(Long, String)].collect().toMap
    assert(got.size == 21)
    assert(got(3L) == "v3-2" && got(23L) == "v23-2" && got(13L) == "v13-1")
    // the restamped rows carry the landed id
    assert(writer.read().filter(col("pk") === 3L)
      .select("_commit_id").as[Long].collect().toSeq == Seq(id))
  }

  test("map columns evolve: value widening and struct values gaining a field") {
    import spark.implicits._
    import org.apache.spark.sql.functions.coalesce
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part")))
    // (pk, part, m, s, ts) as SQL expressions: literal maps carry exact types
    def batch(rs: (Long, String, String, String, Int)*): DataFrame =
      rs.map { case (pk, part, m, sv, ts) =>
        spark.range(1).selectExpr(s"CAST($pk AS BIGINT) AS pk", s"'$part' AS part",
          s"$m AS m", s"$sv AS s", s"$ts AS ts")
      }.reduce(_ unionByName _)
    t.bulkInsert(batch(
      (1L, "a", "map('x', 1)", "map('k', named_struct('a', 1))", 0),
      (2L, "b", "map('y', 2)", "map('k', named_struct('a', 2))", 0)))
    // c1: map<string,int> -> map<string,bigint> through a CoW merge
    t.upsert(batch((1L, "a", "map('x', 10000000000L)",
      "map('k', named_struct('a', 3))", 1)))
    // c2: struct values gain a field (a new partition: no merge read)
    t.insertOverwrite(batch((3L, "c", "map('z', 5L)",
      "map('k', named_struct('a', 4, 'b', 'new'))", 2)))
    val schema = t.read().schema
    assert(schema("m").dataType.simpleString == "map<string,bigint>")
    assert(schema("s").dataType.simpleString == "map<string,struct<a:int,b:string>>")
    def mVals(df: DataFrame): Map[Long, Long] =
      df.select($"pk", coalesce(Seq("x", "y", "z").map($"m".getItem(_)): _*))
        .collect().map(r => r.getLong(0) -> r.get(1).asInstanceOf[Number].longValue)
        .toMap
    assert(mVals(t.read()) == Map(1L -> 10000000000L, 2L -> 2L, 3L -> 5L))
    val sv = t.read().select($"pk", $"s".getItem("k").getField("a"),
        $"s".getItem("k").getField("b")).as[(Long, Int, String)]
      .collect().toSet
    assert(sv == Set((1L, 3, null), (2L, 2, null), (3L, 4, "new")))
    // time travel across the change reads the old version's types
    assert(t.readAsOf(0L).schema("m").dataType.simpleString == "map<string,int>")
    assert(mVals(t.readAsOf(0L)) == Map(1L -> 1L, 2L -> 2L))
    // the typed CoW tail adapts pre-evolution files to the stream schema
    val changes = new graft.sources.GraftTailSource(spark.sqlContext, t,
      t.changeFeedSchema, changeTypes = true).batchFrame(-1L, 2L)
    def typed(kind: String): Set[(Long, Long)] = mVals(
      changes.filter($"_change_type" === kind)).toSet
    assert(typed("update_preimage") == Set((1L, 1L)))
    assert(typed("update_postimage") == Set((1L, 10000000000L)))
    assert(typed("insert") == Set((1L, 1L), (2L, 2L), (3L, 5L)))
    assert(changes.filter($"pk" === 3L)
      .select($"s".getItem("k").getField("b")).as[String].collect().toSeq == Seq("new"))
  }
}
