package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftBatchScan

/** The DSv2 native batch read path: when it engages (strict prover),
  * when it falls back (MoR deltas, schema evolution), that both paths
  * agree row-for-row, that the planner sees pruned statistics, and
  * that runtime (dynamic partition pruning) filters reach the file
  * list.
  */
class NativeScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft_native_wh").toString
    spark.conf.set("spark.sql.catalog.nsc", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nsc.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nsc.db")
    dir
  }

  private def executed(sql: String): SparkPlan = {
    val df = spark.sql(sql)
    df.collect()
    df.queryExecution.executedPlan
  }

  // walks through AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec)
  // and subqueries — a plain collect sees only the adaptive root
  private def batchScans(p: SparkPlan): Seq[GraftBatchScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val buf = scala.collection.mutable.ArrayBuffer.empty[GraftBatchScan]
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BatchScanExec if b.scan.isInstanceOf[GraftBatchScan] =>
          buf += b.scan.asInstanceOf[GraftBatchScan]
        case _ => ()
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    buf.toSeq
  }

  private def rows(sql: String): Seq[Seq[Any]] =
    spark.sql(sql).collect().toSeq.map(_.toSeq)

  test("CoW snapshot plans the native batch scan; results match the V1 path") {
    wh
    spark.sql("""CREATE TABLE nsc.db.nat (pk BIGINT, ts INT, v STRING, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    spark.sql("""INSERT INTO nsc.db.nat VALUES
      (1, 0, 'a', 'r1'), (2, 0, 'b', 'r1'), (3, 0, 'c', 'r2'), (4, 0, 'd', 'r3')""")
    spark.sql("INSERT INTO nsc.db.nat VALUES (1, 5, 'a2', 'r1'), (5, 1, 'e', 'r2')")

    val q = "SELECT pk, v, region FROM nsc.db.nat ORDER BY pk"
    val native = rows(q)
    assert(batchScans(executed(q)).nonEmpty, "native scan not planned")
    assert(native == Seq(Seq(1L, "a2", "r1"), Seq(2L, "b", "r1"),
      Seq(3L, "c", "r2"), Seq(4L, "d", "r3"), Seq(5L, "e", "r2")))

    // the V1 fallback (escape hatch off) returns the identical rows
    spark.conf.set("spark.graft.nativeScan.enabled", "false")
    try {
      val p = executed(q)
      assert(batchScans(p).isEmpty, "native scan planned while disabled")
      assert(rows(q) == native)
    } finally spark.conf.unset("spark.graft.nativeScan.enabled")

    // filters + projections still correct through the native path
    assert(rows("SELECT pk FROM nsc.db.nat WHERE region = 'r2' ORDER BY pk") ==
      Seq(Seq(3L), Seq(5L)))
    // time travel rides the same scan (pinned snapshot)
    assert(rows("SELECT pk FROM nsc.db.nat VERSION AS OF 0 ORDER BY pk") ==
      Seq(Seq(1L), Seq(2L), Seq(3L), Seq(4L)))
  }

  test("MoR pending deltas fall back to V1; compaction restores native") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natmor (pk BIGINT, ts INT, v STRING)
                 USING graft
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                storageType='mor')""")
    spark.sql("INSERT INTO nsc.db.natmor VALUES (1, 0, 'a'), (2, 0, 'b')")
    spark.sql("INSERT INTO nsc.db.natmor VALUES (1, 5, 'a2')") // delta

    val q = "SELECT pk, v FROM nsc.db.natmor ORDER BY pk"
    assert(batchScans(executed(q)).isEmpty,
      "native scan must not plan over a pending MoR delta stack")
    assert(rows(q) == Seq(Seq(1L, "a2"), Seq(2L, "b")))

    spark.sql("CALL nsc.system.compact('db.natmor')")
    assert(batchScans(executed(q)).nonEmpty,
      "compacted MoR (all-base) should plan the native scan")
    assert(rows(q) == Seq(Seq(1L, "a2"), Seq(2L, "b")))
  }

  test("schema evolution (renamed column in old files) falls back to V1") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natevo (pk BIGINT, ts INT, v STRING)
                 USING graft TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    spark.sql("INSERT INTO nsc.db.natevo VALUES (1, 0, 'a')")
    spark.sql("ALTER TABLE nsc.db.natevo RENAME COLUMN v TO val")
    // the live file's physical schema says 'v' while the table says
    // 'val' — adaptation required, the prover must refuse
    val q = "SELECT pk, val FROM nsc.db.natevo"
    assert(batchScans(executed(q)).isEmpty,
      "native scan must not plan over files needing schema adaptation")
    assert(rows(q) == Seq(Seq(1L, "a")))
    // a rewrite under the new schema re-qualifies the snapshot
    spark.sql("INSERT OVERWRITE nsc.db.natevo VALUES (1, 1, 'a2')")
    assert(batchScans(executed(q)).nonEmpty)
    assert(rows(q) == Seq(Seq(1L, "a2")))
  }

  test("planner statistics: pruned-size estimate, exact rows from the log") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natstat (pk BIGINT, ts INT, v STRING, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    val vals = (1 to 300).map(i => s"($i, 0, 'v$i', 'r${i % 3}')").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.natstat VALUES $vals")

    val full = spark.sql("SELECT * FROM nsc.db.natstat")
    full.collect()
    val fullStats = full.queryExecution.optimizedPlan.stats
    assert(fullStats.rowCount.contains(BigInt(300)),
      s"expected exact 300-row estimate, got ${fullStats.rowCount}")

    // a partition-pruned scan reports roughly a third of the bytes —
    // the broadcast decision input
    val part = spark.sql("SELECT * FROM nsc.db.natstat WHERE region = 'r1'")
    part.collect()
    val partStats = part.queryExecution.optimizedPlan.stats
    assert(partStats.sizeInBytes * 2 < fullStats.sizeInBytes,
      s"pruned ${partStats.sizeInBytes} !< half of ${fullStats.sizeInBytes}")
  }

  test("static partition + key-equality predicates prune the file list") {
    wh
    // numeric keys render to lexicographic [kmin, kmax] ranges that span
    // the key space, so equality pruning here rides the bloom sidecars
    // (the same regime lake_bloom_lookup pins for the frame-probe path)
    spark.sql("""CREATE TABLE nsc.db.natprune (pk BIGINT, ts INT, v STRING, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts', bloomKeys='200')""")
    val vals = (1 to 300).map(i => s"($i, 0, 'v$i', 'r${i % 3}')").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.natprune VALUES $vals")

    val all = batchScans(executed("SELECT * FROM nsc.db.natprune")).head.currentFiles
    assert(all >= 3, s"expected >=3 files (one per partition), got $all")

    // partition-tuple pruning needs no statsCols
    val one = batchScans(executed(
      "SELECT * FROM nsc.db.natprune WHERE region = 'r1'")).head.currentFiles
    assert(one < all, s"partition predicate did not prune: $one of $all")

    // key equality prunes through the record-key range index
    val point = batchScans(executed(
      "SELECT * FROM nsc.db.natprune WHERE pk = 42")).head.currentFiles
    assert(point < all, s"key predicate did not prune: $point of $all")
    assert(rows("SELECT v FROM nsc.db.natprune WHERE pk = 42") == Seq(Seq("v42")))
  }

  test("storage-partitioned join: co-partitioned lake tables join with no shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    wh
    spark.sql("""CREATE TABLE nsc.db.spja (pk BIGINT, ts INT, amount INT, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    spark.sql("""CREATE TABLE nsc.db.spjb (pk BIGINT, ts INT, label STRING, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    val a = (1 to 120).map(i => s"($i, 0, ${i * 2}, 'r${i % 4}')").mkString(", ")
    val b = (1 to 40).map(i => s"($i, 0, 'L$i', 'r${i % 4}')").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.spja VALUES $a")
    spark.sql(s"INSERT INTO nsc.db.spjb VALUES $b")

    val q = """SELECT a.region, sum(a.amount) AS amt, count(b.label) AS n
               FROM nsc.db.spja a JOIN nsc.db.spjb b ON a.region = b.region
               GROUP BY a.region"""
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // keep the join un-broadcast so the shuffle question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executed(q)
      assert(batchScans(plan).size == 2, "both sides should scan natively")
      val shuffles = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val buf = scala.collection.mutable.ArrayBuffer.empty[ShuffleExchangeExec]
        def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
          n match {
            case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
            case qs: QueryStageExec => walk(qs.plan)
            case s: ShuffleExchangeExec => buf += s
            case _ => ()
          }
          n.children.foreach(walk)
        }
        walk(plan); buf.toSeq
      }
      // the join itself must be shuffle-free (the final aggregation may
      // still exchange on the group key — that is not the join's cost)
      assert(shuffles.isEmpty,
        s"expected a storage-partitioned join with zero shuffles, got ${shuffles.size}")
      val got = spark.sql(q).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // per region: 30 fact rows x 10 dim rows = 300 joined rows
      assert(got.map(_._1).toSeq == Seq("r0", "r1", "r2", "r3"))
      assert(got.forall(_._3 == 300L), got.mkString(", "))
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("SPJ + runtime filter: pruned partitions plan as empty groups") {
    wh
    // reuse the co-partitioned pair from the SPJ test (fixture tables
    // persist across tests in this suite's warehouse)
    if (spark.sql("SHOW TABLES IN nsc.db").collect()
        .forall(_.getString(1) != "spja")) cancel("spj fixture missing")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // the dim-side partition filter makes the fact side runtime-prunable
      // while both sides stay key-grouped — the fact scan must preserve
      // its reported grouping by planning pruned keys as empty groups
      val q = """SELECT a.region, count(*) AS n
                 FROM nsc.db.spja a JOIN nsc.db.spjb b ON a.region = b.region
                 WHERE b.region IN ('r1', 'r2')
                 GROUP BY a.region"""
      val got = spark.sql(q).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == Seq(("r1", 300L), ("r2", 300L)), got.mkString(", "))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("runtime filters (DPP) prune files through the join key") {
    wh
    spark.sql("""CREATE TABLE nsc.db.fact (pk BIGINT, ts INT, amount INT, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts')""")
    val vals = (1 to 300).map(i => s"($i, 0, ${i * 10}, 'r${i % 5}')").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.fact VALUES $vals")
    spark.sql("""CREATE TABLE nsc.db.dim (region STRING, ts INT, tier STRING)
                 USING graft TBLPROPERTIES (keyCols='region', precombineCol='ts')""")
    spark.sql("""INSERT INTO nsc.db.dim VALUES
      ('r0', 0, 'gold'), ('r1', 0, 'gold'), ('r2', 0, 'iron'),
      ('r3', 0, 'iron'), ('r4', 0, 'iron')""")

    val q = """SELECT f.pk, f.amount, d.tier
               FROM nsc.db.fact f JOIN nsc.db.dim d ON f.region = d.region
               WHERE d.tier = 'gold'"""
    val plan = executed(q)
    val factScan = batchScans(plan)
      .find(_.description().contains("db.fact"))
      .getOrElse(fail("no native scan over the fact table"))
    assert(factScan.runtimePrunedTo >= 0,
      "no runtime filter reached the fact scan — DPP did not engage")
    assert(factScan.runtimePrunedTo < 5,
      s"runtime filter kept ${factScan.runtimePrunedTo} files, expected <5 " +
        "(2 of 5 partitions survive)")
    val got = spark.sql(q).collect()
    assert(got.length == 120 && got.forall(_.getString(2) == "gold"))
  }

  test("deletion vectors ride the native scan: anti-filtered rows, V1 parity") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natdv (pk BIGINT, ts INT, v STRING, part INT)
                 USING graft PARTITIONED BY (part)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                deleteMode='dv')""")
    val vals = (1 to 200)
      .map(i => s"($i, 0, 'v$i', ${i % 4})").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.natdv VALUES $vals")
    val firstWave = (1 to 200).filter(_ % 10 == 3)
    spark.sql(
      s"DELETE FROM nsc.db.natdv WHERE pk IN (${firstWave.mkString(", ")})")
    // second DV commit STACKING on the same target files
    spark.sql("DELETE FROM nsc.db.natdv WHERE pk IN (4, 44, 104)")

    val survivors = (1 to 200)
      .filterNot(i => i % 10 == 3 || Set(4, 44, 104)(i))
    val q = "SELECT pk, v FROM nsc.db.natdv ORDER BY pk"
    val native = rows(q)
    assert(batchScans(executed(q)).nonEmpty,
      "a DV'd CoW snapshot must still plan the native batch scan")
    assert(native.map(_.head) == survivors.map(_.toLong),
      "native scan must anti-filter exactly the stacked DV positions")
    // the V1 fallback path agrees row-for-row
    spark.conf.set("spark.graft.nativeScan.enabled", "false")
    try assert(rows(q) == native)
    finally spark.conf.unset("spark.graft.nativeScan.enabled")

    // filter + projection through the DV'd native scan (pushed filters
    // and the position anti-filter compose)
    assert(rows("SELECT pk FROM nsc.db.natdv WHERE part = 1 ORDER BY pk") ==
      survivors.filter(_ % 4 == 1).map(i => Seq(i.toLong)))
    // empty projection (count) — the DV delegate reads only row indexes
    assert(rows("SELECT count(*) AS n FROM nsc.db.natdv") ==
      Seq(Seq(survivors.size.toLong)))
    // time travel to the pre-delete pin applies NO DV
    assert(rows("SELECT count(*) AS n FROM nsc.db.natdv VERSION AS OF 0") ==
      Seq(Seq(200L)))
    // planner row estimate subtracts the DV'd positions exactly
    val scan = batchScans(executed(q)).head
    assert(scan.estimateStatistics().numRows().getAsLong ==
      survivors.size.toLong,
      "numRows must subtract live DV positions")
  }

  test("live DVs keep the scan COLUMNAR: in-batch position filter, no row handoff") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natdvc (pk BIGINT, ts INT, v STRING, amt DOUBLE)
                 USING graft
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                deleteMode='dv')""")
    val vals = (1 to 500).map(i => s"($i, 0, 'v$i', ${i}.5)").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.natdvc VALUES $vals")
    val dead = (1 to 500).filter(_ % 7 == 0)
    spark.sql(s"DELETE FROM nsc.db.natdvc WHERE pk IN (${dead.mkString(", ")})")

    def columnarScans(p: SparkPlan): Seq[BatchScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val buf = scala.collection.mutable.ArrayBuffer.empty[BatchScanExec]
      def walk(n: SparkPlan): Unit = {
        n match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case b: BatchScanExec if b.scan.isInstanceOf[GraftBatchScan] => buf += b
          case _ => ()
        }
        n.children.foreach(walk)
      }
      walk(p)
      buf.toSeq
    }
    val q = "SELECT pk, v, amt FROM nsc.db.natdvc ORDER BY pk"
    val scans = columnarScans(executed(q))
    assert(scans.nonEmpty, "native scan not planned over the DV'd snapshot")
    assert(scans.forall(_.supportsColumnar),
      "a live DV must no longer demote the scan off the columnar handoff")

    val survivors = (1 to 500).filterNot(_ % 7 == 0)
    assert(rows(q).map(_.head) == survivors.map(_.toLong),
      "the in-batch selection view must drop exactly the DV'd positions")
    // values read THROUGH the selection view stay aligned per row
    assert(rows("SELECT v, amt FROM nsc.db.natdvc WHERE pk = 10") ==
      Seq(Seq("v10", 10.5)))
    assert(rows("SELECT sum(pk) AS s FROM nsc.db.natdvc") ==
      Seq(Seq(survivors.map(_.toLong).sum)))
    // a fully-dead region composes with pushed filters (whole batches skip)
    assert(rows(s"SELECT count(*) AS n FROM nsc.db.natdvc WHERE pk IN (${dead.mkString(", ")})") ==
      Seq(Seq(0L)))
  }

  test("DV'd partitions keep the storage-partitioned (keyed) plan") {
    wh
    spark.sql("""CREATE TABLE nsc.db.natdvk (pk BIGINT, ts INT, amt INT, region STRING)
                 USING graft PARTITIONED BY (region)
                 TBLPROPERTIES (keyCols='pk', precombineCol='ts',
                                deleteMode='dv')""")
    val vals = (1 to 90).map(i => s"($i, 0, ${i * 2}, 'r${i % 3}')").mkString(", ")
    spark.sql(s"INSERT INTO nsc.db.natdvk VALUES $vals")
    spark.sql("DELETE FROM nsc.db.natdvk WHERE pk IN (7, 8, 9)")

    // a group-by on the partition column still aggregates shuffle-free
    // over the keyed plan — DV'd splits are keyed partitions too
    val q = """SELECT region, sum(amt) AS s FROM nsc.db.natdvk
               GROUP BY region ORDER BY region"""
    val plan = executed(q)
    assert(batchScans(plan).nonEmpty, "keyed DV'd scan not planned")
    val expected = (1 to 90).filterNot(Set(7, 8, 9))
      .groupBy(i => s"r${i % 3}").toSeq.sortBy(_._1)
      .map { case (r, is) => Seq(r, is.map(_.toLong * 2).sum) }
    assert(rows(q) == expected)
  }
}
