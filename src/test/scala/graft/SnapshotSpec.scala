package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, LakeTableConfig}

/** `file://` filesystem that counts directory listings of a table's
  * commit-log directory (`_log`) — the metadata round-trips a snapshot
  * resolution pays (one LIST request each on an object store) — and the
  * listings and status requests of paths under a table's `data/`
  * directory. Installed only for the duration of a test
  * ([[SnapshotSpec.withLogCounting]]). */
class LogListingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_log") LogListingFs.listings.incrementAndGet()
    LogListingFs.countData(f)
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    LogListingFs.countData(f)
    super.getFileStatus(f)
  }
}

object LogListingFs {
  val listings = new AtomicLong(0)
  val dataCalls = new AtomicLong(0)
  def countData(f: Path): Unit =
    if (f.getName == "data" || f.toUri.getPath.contains("/data/"))
      dataCalls.incrementAndGet()
}

/** One operation reads one resolved version ([[graft.lake.Snapshot]]):
  *   - the commit log is listed a bounded number of times per resolved
  *     version, whatever the read surface, and a write resolves the
  *     version it is based on once;
  *   - a lake scan takes its file list from the commit log: building a
  *     read lists no data path and runs no Spark job, a file whose
  *     commit recorded no length still reads whole, and position-delete
  *     reads and updates keep their rows;
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

  /** (data-path listings and status requests, Spark jobs) while `build`
    * runs. Jobs count through a listener; a marker job submitted after
    * `build` drains the asynchronous listener bus up to it. */
  private def buildCost(build: => DataFrame): (Long, Int) = {
    val sc = spark.sparkContext
    val group = s"build-${System.nanoTime()}"
    val marker = s"marker-${System.nanoTime()}"
    val jobs = new AtomicLong(0)
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        if (g == marker) drained = true
      }
    }
    sc.addSparkListener(listener)
    try {
      val before = LogListingFs.dataCalls.get
      sc.setJobGroup(group, "build")
      try build finally sc.clearJobGroup()
      val data = LogListingFs.dataCalls.get - before
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
      (data, jobs.get.toInt)
    } finally sc.removeSparkListener(listener)
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
        assert(n(op) <= 1, s"$storage $op listed _log ${n(op)} times for one version")
      }
      assert(n("changesBetween") <= 3,
        s"$storage changesBetween listed _log ${n("changesBetween")} times for two versions")
      Seq("sql lookup", "sql max(pk)").foreach { op =>
        assert(n(op) <= 1, s"$storage $op listed _log ${n(op)} times")
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
        assert(c <= 3, s"$storage $op listed _log $c times for one write")
      }
    }
  }

  test("lake reads list no data files and run no job while built") {
    import spark.implicits._
    val t = apiTable("mor")
    assert(t.log.snapshot().files.size > 32,
      "past the parallel partition-discovery threshold")
    val keys = Seq(8L, 15L, 22L).toDF("pk")
    val cost = withLogCounting(Seq(
      "read()" -> buildCost(t.read()),
      "read(pred)" -> buildCost(t.read(col("part") === "p3")),
      "readAsOf" -> buildCost(t.readAsOf(2L)),
      "lookup" -> buildCost(t.lookup(keys)),
      "changesBetween" -> buildCost(t.changesBetween(1L, 5L))))
    info(cost.map { case (op, (d, j)) => s"$op: $d data-path calls, $j jobs" }
      .mkString(", "))
    cost.foreach { case (op, (data, jobs)) =>
      assert(data == 0, s"$op listed or stat'ed data paths $data times")
      // lookup prunes eagerly: its key-range probe runs jobs of its own
      // (no listing among them — no data path was touched)
      if (op != "lookup") assert(jobs == 0, s"$op ran $jobs jobs while built")
    }
    // and the scans read what they name
    assert(t.read().count() == t.readAsOf(5L).count())
    assert(t.lookup(keys).count() == 3)
  }

  test("a file whose commit recorded no length still reads all its rows") {
    val cfg = LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"))
    val t = LakeTable(spark, cfg)
    t.bulkInsert(rows(1 to 60, 0))
    t.upsert(rows(Seq(3, 14, 25), 1))
    val before = t.read().select("pk", "v").collect().map(_.toString).sorted.toSeq
    // commit 0 as a commit JSON written before lengths were recorded
    val logDir = java.nio.file.Paths.get(cfg.root, "_log")
    val json = logDir.resolve("00000000.json")
    Files.write(json, new String(Files.readAllBytes(json), "UTF-8")
      .replaceAll("\"bytes\"\\s*:\\s*\\d+", "\"bytes\":0").getBytes("UTF-8"))
    Files.deleteIfExists(logDir.resolve(".00000000.json.crc"))
    val legacy = LakeTable(spark, cfg)
    assert(legacy.log.snapshot().files.exists(_.bytes == 0L))
    assert(legacy.read().select("pk", "v").collect().map(_.toString).sorted.toSeq == before)
    assert(legacy.read(col("part") === "p3").count() == 6)
  }

  test("position-delete reads and UPDATE keep their rows") {
    val t = LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"), deleteMode = "dv"))
    t.bulkInsert(rows(1 to 40, 0))
    import spark.implicits._
    t.deleteDv(Seq(2L, 12L, 33L).toDF("pk"))
    t.updateDvWhere(col("pk") === 5L || col("pk") === 15L,
      Map("v" -> org.apache.spark.sql.functions.lit("upd")))
    assert(t.log.liveDvs().nonEmpty, "deletes and updates land as DVs")
    val expected = (1 to 40).filterNot(Set(2, 12, 33)).map { i =>
      i.toLong -> (if (i == 5 || i == 15) "upd" else s"v$i-0") }.toSet
    assert(t.read().select("pk", "v").as[(Long, String)].collect().toSet == expected)
    assert(t.read(col("part") === "p5").select("pk", "v").as[(Long, String)]
      .collect().toSet == expected.filter(_._1 % 10 == 5))
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
