package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables => T}
import graft.lake.{LakeTable, LakeTableConfig}

/** Lake-table queries: the reference's flagship CDC flow (bulk insert →
  * upsert → stale upsert → delete, SURVEY.md §2.2 W2/W3/W5 and §3.2)
  * replayed deterministically over the `lineitem` fixture so every stage is
  * DuckDB-oracle-checkable (the oracle expresses precombine as a
  * `row_number()` window over the unioned batches — SURVEY.md §5.3).
  *
  * Batches (keyed on (l_orderkey, l_linenumber), precombine `update_ts`,
  * partitioned by l_returnflag — so upserts rewrite ONLY the R partition):
  *   c0 bulk_insert: full lineitem, update_ts=0
  *   c1 upsert:      R rows, l_quantity+100, update_ts=1  (wins)
  *   c2 upsert:      R rows, l_quantity+1000, update_ts=0 (stale — loses)
  *   c3 delete:      keys of rows with l_returnflag='A' AND l_linenumber<=2
  */
object Lake {

  private val dataCols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  private def batches(li: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val b0 = li.withColumn("update_ts", lit(0))
    val b1 = li.filter(col("l_returnflag") === "R")
      .withColumn("l_quantity", col("l_quantity") + 100)
      .withColumn("update_ts", lit(1))
    val b2 = li.filter(col("l_returnflag") === "R")
      .withColumn("l_quantity", col("l_quantity") + 1000)
      .withColumn("update_ts", lit(0))
    val delKeys = li.filter(col("l_returnflag") === "A" && col("l_linenumber") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    (b0, b1, b2, delKeys)
  }

  /** Build the CDC table once per (JVM, sfDir, mode); queries read views. */
  private val cache = new ConcurrentHashMap[String, LakeTable]()

  private[graft] def cdcTable(s: SparkSession, d: String): LakeTable =
    buildCdc(s, d, "cow")

  private[graft] def morCdcTable(s: SparkSession, d: String): LakeTable =
    buildCdc(s, d, "mor")

  /** (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
    * aggregate to one row per key so the CDC replay has a well-defined
    * record key (mirrored in the oracle's `li` CTE). Callers persist it:
    * every replay batch derives from it.
    */
  private def keyedLineitem(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max(col("l_returnflag")).as("l_returnflag"),
        max(col("l_quantity")).as("l_quantity"))

  private def buildCdc(s: SparkSession, d: String, mode: String): LakeTable =
    cache.computeIfAbsent(s"$d:$mode", _ => {
      val root = s"/tmp/graft_lake/cdc_${mode}_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag"),
        storageType = mode,
        // column-stats index on the order key: lake_stats_skipping reads
        // through the file-skipping path (Hudi column-stats-index role)
        statsCols = Seq("l_orderkey")))
      val li = keyedLineitem(s, d).persist()
      try {
        val (b0, b1, b2, delKeys) = batches(li)
        t.bulkInsert(b0)   // c0
        t.upsert(b1)       // c1
        t.upsert(b2)       // c2 (stale)
        t.delete(delKeys)  // c3
      } finally li.unpersist()
      t
    })

  private def proj(df: DataFrame): DataFrame =
    df.select((dataCols :+ "update_ts").map(col): _*)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Streaming form of the CDC flow (reference's continuous equivalent of
    * `glue/NYTaxiDataPrep.py:25-27` replayed): the three upsert batches are
    * staged as parquet FILES, a file-source stream feeds them through
    * `foreachBatch { upsert }` one file per micro-batch, and the snapshot
    * must equal the batch CDC result — precombine makes the outcome
    * independent of micro-batch arrival order (older update_ts loses
    * whenever it arrives), which is exactly what the oracle's window
    * asserts.
    */
  /** Stage each batch as ONE parquet file (`b<i>-p<j>.parquet`) in
    * `srcDir` so maxFilesPerTrigger=1 maps one micro-batch to one batch
    * of the replay (the reference's one-upsert-per-day loop) — without
    * the coalesce every part file would become its own upsert commit.
    */
  private def stageBatchesAsFiles(
      fs: org.apache.hadoop.fs.FileSystem, srcDir: String,
      batchesToStage: Seq[DataFrame]): Unit =
    batchesToStage.zipWithIndex.foreach { case (b, i) =>
      val stagePath = new org.apache.hadoop.fs.Path(s"$srcDir/_stage$i")
      b.coalesce(1).write.parquet(stagePath.toString)
      fs.listStatus(stagePath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).zipWithIndex
        .foreach { case (f, j) =>
          fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(srcDir, f"b$i-p$j%04d.parquet"))
        }
      fs.delete(stagePath, true)
    }

  private[graft] def streamTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:stream", _ => {
      val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
      val root = s"/tmp/graft_lake/stream_$tag"
      val srcDir = s"/tmp/graft_lake/stream_src_$tag"
      val ckpt = s"/tmp/graft_lake/stream_ckpt_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(root, srcDir, ckpt).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
      val li = keyedLineitem(s, d).persist()
      try {
        val (b0, b1, b2, _) = batches(li)
        stageBatchesAsFiles(fs, srcDir, Seq(b0, b1, b2))
        val t = LakeTable(s, LakeTableConfig(
          root, keyCols = Seq("l_orderkey", "l_linenumber"),
          precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
        val q = graft.streaming.Streaming.upsertStream(
          s, srcDir, b0.schema, t, ckpt,
          readOptions = Map("maxFilesPerTrigger" -> "1"))
        try q.processAllAvailable() finally q.stop()
        t
      } finally li.unpersist()
    })

  /** Same CDC replay through the `format("graft")` STREAMING SINK (no
    * foreachBatch — the sink itself carries the upsert + batch-id
    * exactly-once tracking); snapshot must equal the foreachBatch form.
    */
  private[graft] def sinkStreamTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:sinkstream", _ => {
      val tag = d.replaceAll("[^A-Za-z0-9.]", "_")
      val root = s"/tmp/graft_lake/sinkstream_$tag"
      val srcDir = s"/tmp/graft_lake/sinkstream_src_$tag"
      val ckpt = s"/tmp/graft_lake/sinkstream_ckpt_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(root, srcDir, ckpt).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
      val li = keyedLineitem(s, d).persist()
      try {
        val (b0, b1, b2, _) = batches(li)
        stageBatchesAsFiles(fs, srcDir, Seq(b0, b1, b2))
        val q = s.readStream.schema(b0.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
          .writeStream.format("graft")
          .option("path", root)
          .option("keyCols", "l_orderkey,l_linenumber")
          .option("precombineCol", "update_ts")
          .option("partitionCols", "l_returnflag")
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
        LakeTable(s, LakeTableConfig(
          root, keyCols = Seq("l_orderkey", "l_linenumber"),
          precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      } finally li.unpersist()
    })

  /** Schema evolution (mergeSchema read path, SURVEY.md §2.3): a later
    * upsert carries a NEW column; the snapshot shows the widened schema
    * with nulls backfilled on untouched rows.
    */
  private[graft] def evoTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:evo", _ => {
      val root = s"/tmp/graft_lake/evo_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        partitionCols = Seq("n_regionkey")))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.withColumn("update_ts", lit(0)))
      t.upsert(nation.filter(col("n_regionkey") === 1)
        .withColumn("update_ts", lit(1))
        .withColumn("extra_score", col("n_nationkey") * 10))
      t
    })

  /** Deletion-vector fixture (VERDICT r13 item #5): the CDC replay's
    * first two commits on CoW, then the SAME delete as c3 — but as a
    * POSITION delete ([[LakeTable.deleteDv]]): per-target-file position
    * sidecars, zero data files rewritten. The snapshot must equal the
    * keyed-rewrite delete's (lake_delete_snapshot's oracle, verbatim),
    * and the metadata row count must subtract the DV positions exactly.
    */
  private[graft] def dvTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:dv", _ => {
      val root = s"/tmp/graft_lake/dv_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      val li = keyedLineitem(s, d).persist()
      try {
        val (b0, b1, _, delKeys) = batches(li)
        t.bulkInsert(b0)
        t.upsert(b1)
        t.deleteDv(delKeys)
      } finally li.unpersist()
      t
    })

  /** Nested-type evolution fixture (VERDICT r13 item #4): a struct
    * column `s` crosses three physical generations —
    *   gen1 bulk_insert: s(nm string, reg int), all nation rows
    *   ALTER ADD COLUMN s.score DOUBLE (fresh nested id)
    *   gen2 upsert: keys %3==1 carry s.score = key*1.5
    *   ALTER RENAME s.nm -> name; ALTER s.reg TYPE BIGINT
    *   gen3 upsert: keys %3==2 under the new nested names/types
    * One snapshot read must adapt all three generations by nested
    * column id: gen1/gen2 files alias nm->name, upcast reg, gen1
    * null-backfills score.
    */
  private[graft] def evoNestedTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:evonested", _ => {
      val root = s"/tmp/graft_lake/evonested_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts"))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.select(col("n_nationkey"),
        struct(col("n_name").as("nm"),
          col("n_regionkey").cast("int").as("reg")).as("s"))
        .withColumn("update_ts", lit(0)))
      t.addColumn(Seq("s", "score"),
        org.apache.spark.sql.types.DoubleType)
      t.upsert(nation.filter(col("n_nationkey") % 3 === 1)
        .select(col("n_nationkey"),
          struct(col("n_name").as("nm"),
            col("n_regionkey").cast("int").as("reg"),
            (col("n_nationkey") * lit(1.5)).as("score")).as("s"))
        .withColumn("update_ts", lit(1)))
      t.renameColumn(Seq("s", "nm"), "name")
      t.widenColumn(Seq("s", "reg"),
        org.apache.spark.sql.types.LongType)
      t.upsert(nation.filter(col("n_nationkey") % 3 === 2)
        .select(col("n_nationkey"),
          struct(col("n_name").as("name"),
            col("n_regionkey").cast("long").as("reg"),
            (col("n_nationkey") * lit(2.5)).as("score")).as("s"))
        .withColumn("update_ts", lit(2)))
      t
    })

  /** Schema evolution BEYOND add-column (VERDICT r4 item #5): widening,
    * rename, and drop over the `nation` fixture —
    *   c0 bulk_insert: all rows, score = n_nationkey*7 (INT),
    *      note = 'n-'||n_name, update_ts=0
    *   c1 upsert: region-1 rows, score = n_nationkey*3000000000 (BIGINT)
    *      — widens the column; other regions' files stay int32
    *   c2 schema: renameColumn score -> rating (metadata-only; old files
    *      alias by column id)
    *   c3 schema: dropColumn note (old bytes stay, no reader sees them)
    *   c4 upsert: region-2 rows under the NEW name, int batch upcasts
    * The final snapshot must carry every generation correctly adapted.
    */
  private[graft] def evoWideTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:evowide", _ => {
      val root = s"/tmp/graft_lake/evowide_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        partitionCols = Seq("n_regionkey")))
      val nation = T.nation(s, d)
      t.bulkInsert(nation
        .withColumn("update_ts", lit(0))
        .withColumn("score", (col("n_nationkey") * 7).cast("int"))
        .withColumn("note", concat(lit("n-"), col("n_name"))))
      t.upsert(nation.filter(col("n_regionkey") === 1)
        .withColumn("update_ts", lit(1))
        .withColumn("score", col("n_nationkey") * lit(3000000000L))
        .withColumn("note", concat(lit("u-"), col("n_name"))))
      t.renameColumn("score", "rating")
      t.dropColumn("note")
      t.upsert(nation.filter(col("n_regionkey") === 2)
        .withColumn("update_ts", lit(2))
        .withColumn("rating", col("n_nationkey").cast("int")))
      t
    })

  /** INSERT_OVERWRITE fixture over `nation` (tiny at every SF): region-1
    * rows are overwritten wholesale with upper-cased names at a LOWER
    * precombine — proving overwrite replaces without merging.
    */
  private[graft] def overwriteTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:ovw", _ => {
      val root = s"/tmp/graft_lake/ovw_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        partitionCols = Seq("n_regionkey")))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.withColumn("update_ts", lit(5)))
      t.insertOverwrite(nation.filter(col("n_regionkey") === 1)
        .withColumn("n_name", upper(col("n_name")))
        .withColumn("update_ts", lit(0)))
      t
    })

  /** Restore fixture over `nation`: an upsert mangles EVERY name, then
    * restoreTo rewinds the timeline to the initial commit — the snapshot
    * must equal plain nation again (a failed restore leaves mangled rows
    * the oracle would reject).
    */
  private[graft] def restoreTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:restore", _ => {
      val root = s"/tmp/graft_lake/restore_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        partitionCols = Seq("n_regionkey")))
      val nation = T.nation(s, d)
      val c0 = t.bulkInsert(nation.withColumn("update_ts", lit(0)))
      t.upsert(nation.withColumn("n_name", concat(col("n_name"), lit("_X")))
        .withColumn("update_ts", lit(1)))
      t.restoreTo(c0)
      t
    })

  /** Manifest-export fixture (reference S6: a SECOND engine reads the
    * live TABLE through shared metadata, not a copy of query output).
    * CoW CDC replay over a lineitem subset, then [[LakeTable
    * .exportManifest]] publishes the head snapshot's live-file list
    * under `_manifests/`. The root is deliberately sf-INDEPENDENT: the
    * DuckDB oracle is a static SQL string that `read_parquet`s the
    * manifest directory, so the path must not vary with the sf dir (the
    * build wipes and rewrites the root per sfDir, and one Verify/Bench
    * run uses exactly one sfDir).
    */
  private[graft] def manifestTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:manifest", _ => {
      val root = "/tmp/graft_lake/manifest_fix"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      val li = keyedLineitem(s, d).filter(col("l_orderkey") % 7 === 0).persist()
      try {
        val (b0, b1, _, delKeys) = batches(li)
        t.bulkInsert(b0)
        t.upsert(b1)
        t.delete(delKeys)
      } finally li.unpersist()
      t.exportManifest()
      t
    })

  /** Manifest fixture with LIVE deletion vectors (r14): the same CDC
    * replay as [[manifestTable]] but the delete executed as position
    * sidecars ([[LakeTable.deleteDv]]) — the export must carry the
    * `latest_deletes.parquet` companion so a second engine reproduces
    * the snapshot by anti-joining positions it computes with its OWN
    * row-number machinery (DuckDB `file_row_number`), never by reading
    * our DV sidecar format. Fixed root: the oracle SQL is static. */
  private[graft] def manifestDvTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:manifestdv", _ => {
      val root = "/tmp/graft_lake/manifest_dv_fix"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      val li = keyedLineitem(s, d).filter(col("l_orderkey") % 7 === 0).persist()
      try {
        val (b0, b1, _, delKeys) = batches(li)
        t.bulkInsert(b0)
        t.upsert(b1)
        t.deleteDv(delKeys)
      } finally li.unpersist()
      t.exportManifest()
      t
    })

  /** Variant-shredding fixture (r14): events re-shaped into a nested
    * VARIANT column `ev` = parse_json of `{"uid": user_id, "meta":
    * {"ty": event_type, "score": value}}`, stored in a lake table with
    * `shredPaths = ev:$.uid:bigint; ev:$.meta.score:double` and
    * clustered by the plain `uid` column — so the materialized `$.uid`
    * shadow has DISJOINT per-file ranges and a `variant_get(ev,
    * '$.uid')` predicate skips files before any variant byte decodes
    * (the Parquet variant-shredding / Iceberg v3 role; ShredFileSkipSpec
    * pins the file-count drop, this fixture's query pins semantics). */
  private[graft] def shredTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:shred", _ => {
      val root = s"/tmp/graft_lake/shred_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("event_id"), precombineCol = "update_ts",
        clusterCols = Seq("uid"),
        shredPaths = Seq("ev:$.uid:bigint", "ev:$.meta.score:double")))
      val ev = T.events(s, d)
        .select(col("event_id"),
          col("user_id").as("uid"),
          parse_json(to_json(struct(
            col("user_id").as("uid"),
            struct(col("event_type").as("ty"), col("value").as("score"))
              .as("meta")))).as("ev"),
          lit(0).as("update_ts"))
      t.bulkInsert(ev)
      t
    })

  /** Multi-table transaction fixture (r14, [[graft.lake.GraftTxn]]):
    * a nation snapshot table and a per-region audit table, seeded
    * independently, then ONE transaction that renames region 1's
    * nations AND records the audited count — the two effects become
    * visible through a single atomic coordinator decision (TxnSpec pins
    * the protocol: staging invisibility, abort, crash-reap, OCC over
    * staged commits; this fixture's query pins the committed outcome
    * across BOTH tables against a closed-form oracle). */
  private[graft] def txnTables(s: SparkSession, d: String)
      : (LakeTable, LakeTable) = {
    val dir = s"/tmp/graft_lake/txn_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
    val nat = cache.computeIfAbsent(s"$d:txnnat", _ => {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val ta = LakeTable(s, LakeTableConfig(s"$dir/nat",
        keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        partitionCols = Seq("n_regionkey")))
      val tb = LakeTable(s, LakeTableConfig(s"$dir/aud",
        keyCols = Seq("r_key"), precombineCol = "update_ts"))
      val nation = T.nation(s, d)
      ta.bulkInsert(nation.withColumn("update_ts", lit(0)))
      tb.bulkInsert(nation.select(col("n_regionkey").as("r_key")).distinct()
        .withColumn("audited", lit(0L)).withColumn("update_ts", lit(0)))
      val txn = graft.lake.GraftTxn.begin(s, s"$dir/_txns")
      txn.table(ta).upsert(nation.filter(col("n_regionkey") === 1)
        .withColumn("n_name", concat(col("n_name"), lit("~")))
        .withColumn("update_ts", lit(1)))
      txn.table(tb).upsert(nation.filter(col("n_regionkey") === 1)
        .groupBy(col("n_regionkey").as("r_key"))
        .agg(count(lit(1)).as("audited"))
        .withColumn("update_ts", lit(1)))
      txn.commit()
      ta
    })
    val aud = cache.computeIfAbsent(s"$d:txnaud", _ =>
      LakeTable(s, LakeTableConfig(s"$dir/aud",
        keyCols = Seq("r_key"), precombineCol = "update_ts")))
    (nat, aud)
  }

  /** Checkpoint fixture over `nation`: bulk insert (c0) then 8
    * single-slice upserts (c1..c8) under `checkpointEvery = 3`, so the
    * log holds checkpoints at c2/c5/c8 and the LATEST snapshot resolves
    * from ckpt-8 alone — zero commit replays. Slice i updates exactly
    * the keys with n_nationkey % 8 == i-1, so every key is updated once
    * and the final state is closed-form for the oracle. The query opens
    * a FRESH LakeTable over the root (cold CommitLog), so the hard gate
    * exercises the checkpointed resolution, never a memoized one.
    */
  private[graft] def ckptTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:ckpt", _ => {
      val root = s"/tmp/graft_lake/ckpt_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        checkpointEvery = 3))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.withColumn("update_ts", lit(0)))
      (1 to 8).foreach(i => t.upsert(
        nation.filter(pmod(col("n_nationkey"), lit(8)) === lit(i - 1))
          .withColumn("n_comment", lit(s"v$i"))
          .withColumn("update_ts", lit(i))))
      t
    })

  /** Timeline-archival fixture over `nation` (Hudi archived-timeline
    * role): 9 commits, cleaned to a 3-commit travel horizon, then
    * archived — commits 0..5 leave the live `_log/` listing for
    * compacted segments, with the boundary checkpoint written by
    * archive() itself (checkpointEvery = 0 proves archival does not
    * depend on the checkpoint cadence). Readers below verify the head
    * snapshot AND the full cross-boundary history survive.
    */
  private[graft] def archTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:arch", _ => {
      val root = s"/tmp/graft_lake/arch_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts"))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.withColumn("update_ts", lit(0)))
      (1 to 8).foreach(i => t.upsert(
        nation.filter(pmod(col("n_nationkey"), lit(8)) === lit(i - 1))
          .withColumn("n_comment", lit(s"v$i"))
          .withColumn("update_ts", lit(i))))
      t.clean(retain = 3)           // cleanedUpTo = 6
      val n = t.archiveTimeline(segmentSize = 4) // commits 0..5 archived
      require(n == 6, s"expected 6 archived commits, got $n")
      t
    })

  /** Partition-spec-evolution fixture over `orders` (Iceberg per-file
    * spec ids): Jan–Feb 1995 orders land under `months(o_orderdate)`,
    * the spec evolves to `days`, Mar–Apr 1995 orders land under it —
    * so the timeline spans two specs and every read/scoping path must
    * dispatch per file. The boundary-spanning scan below plus its
    * DuckDB oracle prove cross-spec reads row-exact.
    */
  private[graft] def specEvoTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:specevo", _ => {
      val root = s"/tmp/graft_lake/specevo_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t0 = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("o_orderkey"), precombineCol = "update_ts",
        globalIndex = true,
        partitionCols = Seq("o_orderdate"),
        partitionTransforms = Seq("months")))
      val orders = T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("update_ts", lit(0))
      t0.bulkInsert(orders.filter(
        col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-03-01")))
      val t = t0.evolvePartitionSpec(Seq("days"))
      t.upsert(orders.filter(
        col("o_orderdate") >= lit("1995-03-01") &&
          col("o_orderdate") < lit("1995-05-01")))
      t
    })

  /** Meta-column fixture over `nation`: a table with full Hudi 5-column
    * read parity enabled (`metaColumns = true`) — bulk insert (c0), then
    * an upsert of the region-0 rows (c1), so per-row `_commit_id`
    * provenance is split deterministically and `_commit_seqno` /
    * `_file_name` are observable on the snapshot read.
    */
  private[graft] def metaTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:meta", _ => {
      val root = s"/tmp/graft_lake/meta_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("n_nationkey"), precombineCol = "update_ts",
        metaColumns = true))
      val nation = T.nation(s, d)
      t.bulkInsert(nation.withColumn("update_ts", lit(0)))          // c0
      t.upsert(nation.filter(col("n_regionkey") === 0)              // c1
        .withColumn("n_name", concat(col("n_name"), lit("_v2")))
        .withColumn("update_ts", lit(1)))
      t
    })

  /** Merge fixture over keyed lineitem: ONE multi-clause merge exercises
    * all four clause kinds at once —
    *   source = R-partition rows as updates (qty+500, ts=1)
    *          ∪ the same rows re-keyed (+10M) as inserts (qty+9000, ts=1)
    *   whenMatchedDelete    where t.l_linenumber = 1
    *   whenMatchedUpdate    qty/ts from source
    *   whenNotMatchedInsertAll
    *   whenNotMatchedBySourceDelete where t.l_returnflag = 'N'
    * The oracle reconstructs the result relationally (left join + CASE).
    */
  private[graft] def mergeTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:merge", _ => {
      val root = s"/tmp/graft_lake/merge_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      val li = keyedLineitem(s, d).withColumn("update_ts", lit(0)).persist()
      try {
        t.bulkInsert(li)
        val r = li.filter(col("l_returnflag") === "R")
        val updates = r.withColumn("l_quantity", col("l_quantity") + 500)
          .withColumn("update_ts", lit(1))
        val inserts = r.withColumn("l_orderkey", col("l_orderkey") + 10000000L)
          .withColumn("l_quantity", col("l_quantity") + 9000)
          .withColumn("update_ts", lit(1))
        t.merge(updates.unionByName(inserts))
          .whenMatchedDelete(Some(col("t.l_linenumber") === 1))
          .whenMatchedUpdate(Map(
            "l_quantity" -> col("s.l_quantity"),
            "update_ts" -> col("s.update_ts")))
          .whenNotMatchedInsertAll()
          .whenNotMatchedBySourceDelete(Some(col("t.l_returnflag") === "N"))
          .execute()
      } finally li.unpersist()
      t
    })

  /** Incrementally-maintained aggregate over the CDC table: built at
    * commit 0, then refreshed one commit at a time through the replay —
    * every step applies timeline deltas only. The oracle aggregates the
    * FINAL snapshot directly, so any drift in the incremental math
    * (wrong pre-images, missed deletes, double-applied adds) shows up as
    * a value mismatch.
    */
  private val aggCache = new ConcurrentHashMap[String, graft.lake.MaterializedAgg]()

  private[graft] def incrAgg(s: SparkSession, d: String): graft.lake.MaterializedAgg =
    aggCache.computeIfAbsent(d, _ => {
      val t = cdcTable(s, d)
      val root = s"/tmp/graft_lake/incragg_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val m = new graft.lake.MaterializedAgg(s, t, root,
        dims = Seq("l_returnflag"),
        sums = Map("qty_c" -> "CAST(floor(l_quantity * 100) AS BIGINT)"))
      (0L to t.log.latestId.get).foreach(i => m.refresh(Some(i)))
      m
    })

  /** Same replay with NON-INVERTIBLE measures (min/max) alongside the
    * sum: every commit of the CDC flow moves an order statistic (c1
    * raises R-partition quantities, c2 is stale, c3 deletes A rows —
    * including per-dimension minima), so a refresh that failed to
    * recompute affected dimensions would diverge from the oracle's
    * direct aggregation of the final snapshot.
    */
  private[graft] def incrAggMM(s: SparkSession, d: String): graft.lake.MaterializedAgg =
    aggCache.computeIfAbsent(s"$d:mm", _ => {
      val t = cdcTable(s, d)
      val root = s"/tmp/graft_lake/incraggmm_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val m = new graft.lake.MaterializedAgg(s, t, root,
        dims = Seq("l_returnflag"),
        sums = Map("qty_c" -> "CAST(floor(l_quantity * 100) AS BIGINT)"),
        mins = Map("qty_min" -> "CAST(floor(l_quantity * 100) AS BIGINT)",
          "key_min" -> "l_orderkey"),
        maxs = Map("qty_max" -> "CAST(floor(l_quantity * 100) AS BIGINT)"))
      (0L to t.log.latestId.get).foreach(i => m.refresh(Some(i)))
      m
    })

  /** shared with ops.Sql's MERGE oracle (same keyed-lineitem CTE) */
  private[ops] def liSqlCte: String = liCte

  private val liCte =
    """li AS (SELECT l_orderkey, l_linenumber, max(l_returnflag) AS l_returnflag,
                   max(l_quantity) AS l_quantity
              FROM lineitem GROUP BY l_orderkey, l_linenumber)"""

  private[ops] val mergedCte =
    s"""WITH $liCte,
       b0 AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                   0 AS update_ts, 0 AS batch FROM li),
       b1 AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity+100 AS l_quantity,
                   1 AS update_ts, 1 AS batch FROM li WHERE l_returnflag='R'),
       b2 AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity+1000 AS l_quantity,
                   0 AS update_ts, 2 AS batch FROM li WHERE l_returnflag='R'),
       u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2),
       merged AS (
         SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, update_ts FROM (
           SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                       ORDER BY update_ts DESC, batch DESC) AS rn FROM u) t
         WHERE rn = 1)"""

  /** Bloom-indexed MoR point-lookup table: base = full keyed lineitem,
    * then two FULL-SPAN delta upserts (l_orderkey mod-3 classes) — every
    * delta file's [kmin, kmax] covers every probe key, so the footer
    * range check keeps all of them and only the per-file key bloom
    * ([[graft.lake.LakeTableConfig.bloomKeys]]) decides which files a
    * probe actually has to read. `lake_bloom_lookup` reads through this
    * path; LakeTableSpec pins the pruning counts themselves.
    */
  private[graft] def bloomTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:bloom", _ => {
      val root = s"/tmp/graft_lake/bloom_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", storageType = "mor",
        bloomKeys = 100000))
      val li = keyedLineitem(s, d).persist()
      try {
        t.bulkInsert(li.withColumn("update_ts", lit(0)))
        t.upsert(li.filter(col("l_orderkey") % 3 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100)
          .withColumn("update_ts", lit(1)))
        t.upsert(li.filter(col("l_orderkey") % 3 === 1)
          .withColumn("l_quantity", col("l_quantity") + 1000)
          .withColumn("update_ts", lit(2)))
      } finally li.unpersist()
      t
    })

  /** Retention-delete table: CoW seed partitioned by l_returnflag, then
    * `deleteWhere(l_returnflag < 'N')` — a RANGE predicate on the
    * partition column, which [[graft.lake.LakeTable]] commits
    * METADATA-ONLY (file removals, zero rows read or written — the
    * 100 TB retention-delete path). The builder REQUIRES the fast path
    * actually took (zero added files + the `delete.metadataOnly` commit
    * marker), so the oracle comparison downstream is pinned to the
    * metadata path, never a silent fallback to the keyed rewrite.
    */
  private[graft] def retentionTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:retention", _ => {
      val root = s"/tmp/graft_lake/retention_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag")))
      t.bulkInsert(keyedLineitem(s, d).withColumn("update_ts", lit(0)))
      val cid = t.deleteWhere(col("l_returnflag") < "N")
      val c = t.log.commitsInRange(cid - 1, cid).head
      require(c.adds.isEmpty && c.metadata.get("delete.metadataOnly").contains("true"),
        s"retention delete fell back to the rewrite path (commit $cid: " +
          s"${c.adds.size} adds, meta=${c.metadata})")
      t
    })

  /** Column-bloom point-lookup table (Delta bloom-filter-index role,
    * [[graft.lake.LakeTableConfig.bloomCols]]): keyed lineitem plus a
    * derived high-cardinality `ref` column, ingested as three mod-3
    * commits so every file's KEY range spans the whole table — ranges
    * prune nothing, only the per-file `ref` value blooms can.
    * [[bloomColPoint]] REQUIRES the probe read planned fewer files than
    * live, so the gated query is pinned to the bloom path. */
  private[graft] def bloomColTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:bloomcol", _ => buildBloomColTable(s, d,
      s"/tmp/graft_lake/bloomcol_${d.replaceAll("[^A-Za-z0-9.]", "_")}"))

  private[graft] def buildBloomColTable(
      s: SparkSession, d: String, root: String): LakeTable = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val t = LakeTable(s, LakeTableConfig(
      root, keyCols = Seq("l_orderkey", "l_linenumber"),
      precombineCol = "update_ts", partitionCols = Seq("batch", "grp"),
      bloomCols = Seq("ref")))
    // `grp` puts the whole probe key class (l_orderkey % 9973 = 7) in
    // one of 8 directories per commit, so the layout the prune depends
    // on does not follow spark.sql.shuffle.partitions: every commit
    // writes at least 8 files whatever the range repartition cuts, and
    // the 7 probe-free directories' files survive only as bloom false
    // positives.
    val li = keyedLineitem(s, d)
      .withColumn("ref", (col("l_orderkey") * 131) % 999983)
      .withColumn("grp", col("l_orderkey") % 9973 % 8)
      .withColumn("update_ts", lit(0))
      .persist()
    try {
      // each ingest batch is its own partition, so no commit rewrites
      // an earlier one: files accumulate, and because the probe column
      // is NOT a partition column, only the value blooms can prune
      (0 to 2).foreach(m =>
        t.upsert(li.filter(col("l_orderkey") % 3 === m)
          .withColumn("batch", lit(m))))
    } finally li.unpersist()
    t
  }

  /** the bloom-col fixture's probe read: the rows of the ~1% key class's
    * refs (driver-bounded collect, the lookup-probe precedent), failing
    * unless the column blooms pruned at least one live file */
  private[graft] def bloomColPoint(
      s: SparkSession, d: String, t: LakeTable): DataFrame = {
    val refs = keyedLineitem(s, d).filter(col("l_orderkey") % 9973 === 7)
      .select(((col("l_orderkey") * 131) % 999983).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val out = t.read(col("ref").isin(refs: _*))
    require(t.lastReadFiles >= 0 &&
      t.lastReadFiles < t.log.liveFiles().size,
      s"column blooms pruned nothing (${t.lastReadFiles} of " +
        s"${t.log.liveFiles().size} files planned)")
    out
  }

  /** checkMode=drop table: the quantity-cap expectation quarantines
    * violating rows at ingest (`lake_expect_drop` proves the landed
    * snapshot equals the SQL-filtered replay). */
  private[graft] def dropModeTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:drop", _ => {
      val root = s"/tmp/graft_lake/drop_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag"),
        checks = Map("qty_cap" -> "l_quantity <= 25"), checkMode = "drop"))
      t.bulkInsert(keyedLineitem(s, d).withColumn("update_ts", lit(0)))
      t
    })

  /** checkMode=warn table: the same quantity-cap expectation OBSERVES —
    * every row lands and the per-check violation count travels in the
    * commit metadata (`lake_expect_warn` pins both halves). */
  private[graft] def warnModeTable(s: SparkSession, d: String): LakeTable =
    cache.computeIfAbsent(s"$d:warn", _ => {
      val root = s"/tmp/graft_lake/warn_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = LakeTable(s, LakeTableConfig(
        root, keyCols = Seq("l_orderkey", "l_linenumber"),
        precombineCol = "update_ts", partitionCols = Seq("l_returnflag"),
        checks = Map("qty_cap" -> "l_quantity <= 25"), checkMode = "warn"))
      t.bulkInsert(keyedLineitem(s, d).withColumn("update_ts", lit(0)))
      t
    })

  val queries: Seq[GQuery] = Seq(

    // expectation drop mode behind the gate: the landed snapshot must
    // equal the raw table filtered by the expectation — violating rows
    // were quarantined at ingest, everything else is byte-identical
    GQuery("lake_expect_drop",
      (s, d) => proj(dropModeTable(s, d).read()),
      Some(s"""WITH $liCte
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          0 AS update_ts
        FROM li WHERE l_quantity <= 25 OR l_quantity IS NULL
        ORDER BY l_orderkey, l_linenumber""")),

    // expectation warn mode behind the gate, BOTH halves: per-partition
    // row counts prove every violating row LANDED (warn observes, never
    // gates), and the commit-metadata violation count — surfaced as a
    // column — must equal the oracle's recount of the raw table
    GQuery("lake_expect_warn",
      (s, d) => {
        val t = warnModeTable(s, d)
        val warned = t.log.commits.last.metadata
          .getOrElse("check.warned.qty_cap", "0").toLong
        t.read().groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_viol"))
          .withColumn("n_warned_meta", lit(warned))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH $liCte
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_viol,
          (SELECT CAST(count(*) AS BIGINT) FROM li WHERE l_quantity > 25)
            AS n_warned_meta
        FROM li GROUP BY 1 ORDER BY 1""")),

    GQuery("lake_upsert_snapshot",
      (s, d) => proj(cdcTable(s, d).readAsOf(2)),
      Some(s"""$mergedCte
        SELECT * FROM merged ORDER BY l_orderkey, l_linenumber""")),

    GQuery("lake_delete_snapshot",
      (s, d) => proj(cdcTable(s, d).read()),
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- metadata-only row counts --------------------------------------
    // per-partition counts answered from the commit log's recorded footer
    // row counts (Delta numRecords / Hudi commit-metadata role) — the CDC
    // table is CoW all-base, so NO data file is opened (the spec proves
    // it by deleting the data files); the oracle recomputes the same
    // counts from the replayed snapshot the hard way
    GQuery("lake_stats_count",
      (s, d) => cdcTable(s, d).partitionRowCounts().orderBy("l_returnflag"),
      Some(s"""$mergedCte
        SELECT m.l_returnflag, count(*) AS n_rows FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        GROUP BY 1 ORDER BY 1""")),

    // ---- bloom-index point lookup --------------------------------------
    // scattered probe keys (l_orderkey ≡ 7 mod 97, ~1% of keys) against
    // the full-span MoR delta stack: candidate selection runs range →
    // bloom, the merge sees only bloom-hit files, and the merged rows
    // must equal the brute-force replay
    GQuery("lake_bloom_lookup",
      (s, d) => proj(bloomTable(s, d).lookup(
        keyedLineitem(s, d).filter(col("l_orderkey") % 97 === 7)
          .select("l_orderkey", "l_linenumber"))),
      Some(s"""WITH $liCte,
        b0 AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                    0 AS update_ts, 0 AS batch FROM li),
        b1 AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                    l_quantity+100 AS l_quantity, 1 AS update_ts, 1 AS batch
               FROM li WHERE l_orderkey % 3 = 0),
        b2 AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                    l_quantity+1000 AS l_quantity, 2 AS update_ts, 2 AS batch
               FROM li WHERE l_orderkey % 3 = 1),
        u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        bm AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, update_ts
               FROM (SELECT *, row_number() OVER (
                       PARTITION BY l_orderkey, l_linenumber
                       ORDER BY update_ts DESC, batch DESC) AS rn FROM u) t
               WHERE rn = 1)
        SELECT * FROM bm WHERE l_orderkey % 97 = 7
        ORDER BY l_orderkey, l_linenumber""")),

    // the bloom's WIN regime behind the gate: probe keys from the mod-3
    // class NEITHER delta batch touched — the per-file blooms exclude
    // both full-span delta stacks outright (ranges cannot), so the
    // merge reads base files only; rows must equal the replay (which
    // for this class is just the seed)
    GQuery("lake_bloom_point",
      (s, d) => proj(bloomTable(s, d).lookup(
        keyedLineitem(s, d)
          .filter(col("l_orderkey") % 3 === 2 && col("l_orderkey") % 11 === 0)
          .select("l_orderkey", "l_linenumber"))),
      Some(s"""WITH $liCte
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          0 AS update_ts
        FROM li WHERE l_orderkey % 3 = 2 AND l_orderkey % 11 = 0
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- column value-bloom point lookup --------------------------------
    // equality/IN on a NON-key high-cardinality column: key ranges span
    // every file (mod-3 ingest), column min/max would too — only the
    // per-file `ref` value blooms prune. The builder + this query REQUIRE
    // the probe planned fewer files than live; the oracle replays the
    // same IN-subset the hard way
    GQuery("lake_bloom_col_point",
      (s, d) => bloomColPoint(s, d, bloomColTable(s, d))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"), col("ref"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some(s"""WITH $liCte
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
               (l_orderkey * 131) % 999983 AS ref
        FROM li
        WHERE (l_orderkey * 131) % 999983 IN (
          SELECT (l_orderkey * 131) % 999983 FROM li WHERE l_orderkey % 9973 = 7)
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- metadata-only retention delete --------------------------------
    // DELETE WHERE <range predicate on the partition column> commits the
    // doomed partitions' file removals alone — zero rows read, zero rows
    // written (the fixture builder REQUIRES the fast path: zero adds +
    // the delete.metadataOnly marker). The oracle replays the surviving
    // region the hard way; survivors must be exactly the >= 'N' rows
    GQuery("lake_retention_delete",
      (s, d) => proj(retentionTable(s, d).read()),
      Some(s"""WITH $liCte
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          0 AS update_ts
        FROM li WHERE NOT (l_returnflag < 'N')
        ORDER BY l_orderkey, l_linenumber""")),

    GQuery("lake_time_travel",
      (s, d) => proj(cdcTable(s, d).readAsOf(0)),
      Some(s"""WITH $liCte
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          0 AS update_ts
        FROM li ORDER BY l_orderkey, l_linenumber""")),

    // ---- merge-on-read: same CDC flow, deltas merged at read time -----
    // (reference W6, declared MERGE_ON_READ config, HudiJarGlueJob.py:77);
    // same oracle as lake_delete_snapshot — storage modes must agree
    GQuery("lake_mor_snapshot",
      (s, d) => proj(morCdcTable(s, d).read()),
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- incremental query: current rows ingested after commit 0 ------
    // in the CDC replay those are exactly the surviving b1 rows
    // (update_ts=1); b2 never wins and b0 rows predate the cutoff
    GQuery("lake_incremental",
      (s, d) => proj(cdcTable(s, d).readIncremental(0)),
      Some(s"""$mergedCte
        SELECT m.* FROM merged m WHERE m.update_ts = 1
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- streaming CDC ingest, end-to-end against the oracle ----------
    // file-source stream → foreachBatch upsert → snapshot; one staged
    // batch file per micro-batch. Same oracle as lake_upsert_snapshot:
    // the continuous and batch forms of the reference's CDC loop must
    // converge to the identical table.
    GQuery("stream_upsert_snapshot",
      (s, d) => proj(streamTable(s, d).read()),
      Some(s"""$mergedCte
        SELECT * FROM merged ORDER BY l_orderkey, l_linenumber""")),

    // same replay through writeStream.format("graft") — sink-managed
    // upsert + batch-id exactly-once, identical oracle
    GQuery("stream_sink_snapshot",
      (s, d) => proj(sinkStreamTable(s, d).read()),
      Some(s"""$mergedCte
        SELECT * FROM merged ORDER BY l_orderkey, l_linenumber""")),

    // ---- Hudi 5-column meta surface (MockCuratedGlueJob.py:23-24) -----
    // _commit_id provenance splits deterministically (region-0 rows were
    // rewritten by c1), _commit_seqno must carry its row's commit id as
    // prefix, _file_name must be the parquet basename of the scanned
    // file — the latter two are checked as portable boolean flags (their
    // raw values embed row ids / task numbers that no other engine can
    // reproduce)
    GQuery("lake_meta_columns",
      (s, d) => metaTable(s, d).read()
        .select(col("n_nationkey"), col("n_name"), col("_commit_id"),
          (split(col("_commit_seqno"), "_").getItem(0).cast("long")
            === col("_commit_id")).cast("int").as("seqno_has_commit_prefix"),
          col("_file_name").rlike("^part-.*\\.parquet$")
            .cast("int").as("file_name_is_parquet_basename"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey,
        CASE WHEN n_regionkey = 0 THEN n_name || '_v2' ELSE n_name END AS n_name,
        CAST(CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS BIGINT) AS _commit_id,
        1 AS seqno_has_commit_prefix, 1 AS file_name_is_parquet_basename
        FROM nation ORDER BY n_nationkey""")),

    // ---- schema evolution: upsert with a new column, null backfill ----
    GQuery("lake_schema_evolution",
      (s, d) => evoTable(s, d).read()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("update_ts"), col("extra_score"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, n_regionkey,
        CASE WHEN n_regionkey = 1 THEN 1 ELSE 0 END AS update_ts,
        CASE WHEN n_regionkey = 1 THEN n_nationkey * 10 END AS extra_score
        FROM nation ORDER BY n_nationkey""")),

    // ---- schema evolution 2: widen + rename + drop (see evoWideTable) -
    // the snapshot reads three physical generations — int32 'score'
    // files, int64 'score' files, int32 'rating' files — through one
    // column-id-adapted scan; the dropped 'note' column must be gone
    GQuery("lake_schema_widen_rename",
      (s, d) => evoWideTable(s, d).read()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("update_ts"), col("rating"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, n_regionkey,
        CASE WHEN n_regionkey = 1 THEN 1
             WHEN n_regionkey = 2 THEN 2 ELSE 0 END AS update_ts,
        CAST(CASE WHEN n_regionkey = 1 THEN n_nationkey * 3000000000
                  WHEN n_regionkey = 2 THEN n_nationkey
                  ELSE n_nationkey * 7 END AS BIGINT) AS rating
        FROM nation ORDER BY n_nationkey""")),

    // ---- data skipping: predicate read through the column-stats index -
    // files whose recorded l_orderkey range cannot hold keys <= 1200 are
    // dropped before the scan is planned; the row-level filter then makes
    // the result exact regardless of how much pruning engaged
    GQuery("lake_stats_skipping",
      (s, d) => proj(cdcTable(s, d).read(col("l_orderkey") <= 1200)),
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
          AND m.l_orderkey <= 1200
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- spark.read.format("graft"): the table as a data source -------
    // same snapshot as lake_delete_snapshot, resolved through the DSv1
    // connector (commit-log listing + MoR-capable read, no catalog sync)
    GQuery("lake_source_read",
      (s, d) => {
        val t = cdcTable(s, d) // ensure the fixture exists
        proj(s.read.format("graft")
          .option("keyCols", "l_orderkey,l_linenumber")
          .option("precombineCol", "update_ts")
          .option("partitionCols", "l_returnflag")
          .option("statsCols", "l_orderkey")
          .load(t.config.root))
      },
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- change-data-feed over the whole CDC replay --------------------
    // between c0 (bulk load) and the final commit: updates = surviving b1
    // winners (new values), deletes = the A-flag keys with their c0
    // values; b1/b2 touch only existing keys so no inserts exist — the
    // oracle pins exactly that
    GQuery("lake_cdc_changes",
      (s, d) => {
        val t = cdcTable(s, d)
        t.changesBetween(0, t.log.latestId.get)
          .select(col("_change_type"), col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity"), col("update_ts"))
          .orderBy(col("_change_type"), col("l_orderkey"), col("l_linenumber"))
      },
      Some(s"""$mergedCte,
        dels AS (SELECT l_orderkey, l_linenumber FROM li
                 WHERE l_returnflag = 'A' AND l_linenumber <= 2)
        SELECT 'delete' AS _change_type, li.l_orderkey, li.l_linenumber,
               li.l_returnflag, li.l_quantity, 0 AS update_ts
        FROM li JOIN dels USING (l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'update' AS _change_type, m.l_orderkey, m.l_linenumber,
               m.l_returnflag, m.l_quantity, m.update_ts
        FROM merged m
        WHERE m.update_ts = 1
          AND NOT EXISTS (SELECT 1 FROM dels k
            WHERE k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY _change_type, l_orderkey, l_linenumber""")),

    // ---- change feed with PRE-images (Delta CDF's 4-type contract) ----
    // every update splits into update_preimage (the values the key had
    // at `from` — here the seed row) and update_postimage (the new
    // values); consumers that must RETRACT an old contribution read one
    // frame. The oracle replays both sides from the batch definitions
    GQuery("lake_cdf_preimage",
      (s, d) => {
        val t = cdcTable(s, d)
        t.changesBetween(0, t.log.latestId.get, preImages = true)
          .select(col("_change_type"), col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity"), col("update_ts"))
          .orderBy(col("_change_type"), col("l_orderkey"), col("l_linenumber"))
      },
      Some(s"""$mergedCte,
        dels AS (SELECT l_orderkey, l_linenumber FROM li
                 WHERE l_returnflag = 'A' AND l_linenumber <= 2),
        upd AS (SELECT m.* FROM merged m
                WHERE m.update_ts = 1
                  AND NOT EXISTS (SELECT 1 FROM dels k
                    WHERE k.l_orderkey = m.l_orderkey
                      AND k.l_linenumber = m.l_linenumber))
        SELECT 'delete' AS _change_type, li.l_orderkey, li.l_linenumber,
               li.l_returnflag, li.l_quantity, 0 AS update_ts
        FROM li JOIN dels USING (l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'update_postimage' AS _change_type, u.l_orderkey,
               u.l_linenumber, u.l_returnflag, u.l_quantity, u.update_ts
        FROM upd u
        UNION ALL
        SELECT 'update_preimage' AS _change_type, li.l_orderkey,
               li.l_linenumber, li.l_returnflag, li.l_quantity, 0 AS update_ts
        FROM li JOIN upd USING (l_orderkey, l_linenumber)
        ORDER BY _change_type, l_orderkey, l_linenumber""")),

    // ---- INSERT_OVERWRITE: touched partitions replaced wholesale ------
    // (Hudi insert_overwrite; lower precombine than resident rows, so a
    // merge would have kept the old names — the oracle pins replacement)
    GQuery("lake_insert_overwrite",
      (s, d) => overwriteTable(s, d).read()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("update_ts"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey,
        CASE WHEN n_regionkey = 1 THEN upper(n_name) ELSE n_name END AS n_name,
        n_regionkey,
        CASE WHEN n_regionkey = 1 THEN 0 ELSE 5 END AS update_ts
        FROM nation ORDER BY n_nationkey""")),

    // ---- restore: timeline rewound to the initial commit --------------
    // (an upsert mangled every name first; a failed restore cannot pass)
    GQuery("lake_restore",
      (s, d) => restoreTable(s, d).read()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("update_ts"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, n_regionkey, 0 AS update_ts
        FROM nation ORDER BY n_nationkey""")),

    // ---- commit-log checkpoint read -------------------------------------
    // 9 commits under checkpointEvery=3; the read goes through a FRESH
    // LakeTable instance, so snapshot resolution runs checkpoint + tail
    // (the cold-reader path) and must equal the oracle's closed-form
    // replay of all 8 upsert slices
    GQuery("lake_ckpt_read",
      (s, d) => {
        val cold = LakeTable(s, ckptTable(s, d).config)
        cold.read()
          .select(col("n_nationkey"), col("n_name"),
            col("n_comment"), col("update_ts"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
          'v' || CAST(n_nationkey % 8 + 1 AS VARCHAR) AS n_comment,
          CAST(n_nationkey % 8 + 1 AS INT) AS update_ts
        FROM nation ORDER BY n_nationkey""")),

    // ---- deletion vectors: position delete, zero files rewritten -------
    // same logical delete as lake_delete_snapshot, executed as per-file
    // position sidecars (the dv fixture skips the stale b2 batch — it
    // loses every merge, so the oracle's merged CTE is unchanged)
    GQuery("lake_dv_delete",
      (s, d) => proj(dvTable(s, d).read()),
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // metadata path under DVs: per-partition counts subtract the DV'd
    // positions exactly, no file opened for the clean partitions
    GQuery("lake_dv_count",
      (s, d) => dvTable(s, d).partitionRowCounts().orderBy("l_returnflag"),
      Some(s"""$mergedCte
        SELECT m.l_returnflag, count(*) AS n_rows FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        GROUP BY 1 ORDER BY 1""")),

    // ---- nested-type schema evolution: three struct generations, one scan
    // gen1 files alias s.nm -> s.name and upcast s.reg by NESTED column
    // id, null-backfilling s.score; gen2 aliases/upcasts keeping its
    // score; gen3 is native — flattened at the end so the oracle
    // compares scalar columns (the engine did the nested adaptation)
    GQuery("lake_schema_nested",
      (s, d) => evoNestedTable(s, d).read()
        .select(col("n_nationkey"), col("s.name").as("s_name"),
          col("s.reg").as("s_reg"), col("s.score").as("s_score"),
          col("update_ts"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name AS s_name,
          CAST(n_regionkey AS BIGINT) AS s_reg,
          CASE WHEN n_nationkey % 3 = 1 THEN n_nationkey * 1.5
               WHEN n_nationkey % 3 = 2 THEN n_nationkey * 2.5 END AS s_score,
          CAST(n_nationkey % 3 AS INT) AS update_ts
        FROM nation ORDER BY n_nationkey""")),

    // ---- external-engine manifest read ----------------------------------
    // the hard S6 gate: the oracle's DuckDB side does NOT reconstruct the
    // expected rows from base tables — it read_parquet's the table's OWN
    // live files through the exported `_manifests/latest/` list, so a
    // hash match proves a second engine resolves the live snapshot from
    // shared metadata (the reference attaches the Glue DB to Redshift
    // Spectrum and scans the Hudi table, Redshift/spectrum_setup.sql:2-11)
    GQuery("lake_manifest_read",
      (s, d) => manifestTable(s, d).read()
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"), col("update_ts"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          update_ts
        FROM read_parquet('/tmp/graft_lake/manifest_fix/_manifests/latest/*.parquet')
        ORDER BY l_orderkey, l_linenumber""")),

    // manifest read UNDER live deletion vectors (r14): DuckDB resolves
    // the same snapshot from the exported file list MINUS the exported
    // position-deletes parquet, using its own file_row_number — proving
    // a second engine needs zero knowledge of our DV sidecar format
    GQuery("lake_manifest_dv_read",
      (s, d) => manifestDvTable(s, d).read()
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"), col("update_ts"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
          update_ts
        FROM read_parquet(
          '/tmp/graft_lake/manifest_dv_fix/_manifests/latest/*.parquet',
          filename=true, file_row_number=true) r
        WHERE NOT EXISTS (SELECT 1 FROM read_parquet(
            '/tmp/graft_lake/manifest_dv_fix/_manifests/latest_deletes.parquet') d
          WHERE d.link_name = regexp_extract(r.filename, '[^/]+$', 0)
            AND d.row_index = r.file_row_number)
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- variant shredding: file skipping on a JSON-path predicate -----
    // the pruneBy predicate extracts $.uid from the VARIANT column; the
    // commit log's materialized shadow stats skip the files whose uid
    // range provably cannot match (ShredFileSkipSpec pins the skip), and
    // the surviving rows' $.meta.score decodes only for survivors —
    // row-exact vs DuckDB recomputing from the raw events table
    GQuery("lake_variant_shred",
      (s, d) => {
        val t = shredTable(s, d)
        t.read(variant_get(col("ev"), "$.uid", "bigint") < 40)
          .select(col("event_id"), col("uid"),
            variant_get(col("ev"), "$.meta.score", "double").as("score"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id AS uid, "value" AS score
        FROM events WHERE user_id < 40 ORDER BY event_id""")),

    // ---- multi-table transaction: one atomic decision, two tables ------
    // the join must see the txn's BOTH effects (renamed region-1 nations
    // AND the audit count) or NEITHER — a partial state would break the
    // closed-form oracle's row hash
    GQuery("lake_txn_atomic",
      (s, d) => {
        val (nat, aud) = txnTables(s, d)
        nat.read().as("n")
          .join(aud.read().as("a"), col("n.n_regionkey") === col("a.r_key"))
          .select(col("n.n_nationkey").as("n_nationkey"),
            col("n.n_name").as("n_name"), col("a.audited").as("audited"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey,
          CASE WHEN n_regionkey = 1 THEN n_name || '~' ELSE n_name END AS n_name,
          CAST(CASE WHEN n_regionkey = 1
            THEN (SELECT count(*) FROM nation WHERE n_regionkey = 1)
            ELSE 0 END AS BIGINT) AS audited
        FROM nation ORDER BY n_nationkey""")),

    // ---- partition-spec evolution: scan spans two specs ----------------
    // months-spec files (Jan–Feb) and days-spec files (Mar–Apr) answer
    // one boundary-spanning range predicate; pruning dispatches on each
    // file's own spec id and the result is row-exact vs the oracle
    GQuery("lake_spec_evolution",
      (s, d) => specEvoTable(s, d)
        .read(col("o_orderdate") >= lit("1995-02-10") &&
          col("o_orderdate") < lit("1995-03-20"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        WHERE o_orderdate >= DATE '1995-02-10'
          AND o_orderdate < DATE '1995-03-20'
        ORDER BY o_orderkey""")),

    // ---- timeline archival: head read through a COLD instance ----------
    // commits 0..5 live only in archive segments; resolution must go
    // boundary-checkpoint + live tail and still equal the closed-form
    // replay of all 8 upsert slices (same contract as lake_ckpt_read)
    GQuery("lake_archived_read",
      (s, d) => {
        val cold = LakeTable(s, archTable(s, d).config)
        cold.read()
          .select(col("n_nationkey"), col("n_name"),
            col("n_comment"), col("update_ts"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
          'v' || CAST(n_nationkey % 8 + 1 AS VARCHAR) AS n_comment,
          CAST(n_nationkey % 8 + 1 AS INT) AS update_ts
        FROM nation ORDER BY n_nationkey""")),

    // ---- timeline archival: history crosses the archive boundary -------
    // one row per commit, ids 0..8, the archived prefix (0..5) served
    // from segment files — archival must lose no history
    GQuery("lake_archived_history",
      (s, d) => archTable(s, d).history()
        .select(col("commit_id"), col("op")).orderBy("commit_id"),
      Some("""SELECT CAST(i AS BIGINT) AS commit_id,
          CASE WHEN i = 0 THEN 'bulk_insert' ELSE 'upsert' END AS op
        FROM range(9) t(i) ORDER BY commit_id""")),

    // ---- streaming tail of the MoR change log --------------------------
    // the delta-directory glob IS the change stream: b1, b2 (including
    // the stale batch — the tail reports what was WRITTEN, merge
    // semantics live downstream) and the delete tombstones, append-only
    // via the built-in file stream source. Sort pins b1/b2 rows of the
    // same key apart by update_ts; NULLS FIRST matches Spark's asc.
    GQuery("lake_tail_changes",
      (s, d) => {
        val t = morCdcTable(s, d)
        val qname = "lake_tail_changes_sink"
        val q = t.tailStream().writeStream.outputMode("append")
          .format("memory").queryName(qname).start()
        try q.processAllAvailable() finally q.stop()
        s.table(qname).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"), col("update_ts"),
          col("_deleted"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("_deleted"),
            col("update_ts").asc_nulls_first)
      },
      Some(s"""WITH $liCte,
        tail AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 l_quantity + 100 AS l_quantity, 1 AS update_ts,
                 false AS _deleted
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 l_quantity + 1000 AS l_quantity, 0 AS update_ts,
                 false AS _deleted
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 NULL AS l_quantity, NULL AS update_ts, true AS _deleted
          FROM li WHERE l_returnflag = 'A' AND l_linenumber <= 2)
        SELECT * FROM tail
        ORDER BY l_orderkey, l_linenumber, _deleted, update_ts NULLS FIRST""")),

    // ---- typed streaming change feed (Delta CDF over the tail) ---------
    // the CoW tail with changeTypes=true derives the 4-type contract per
    // commit from adds/removes at READ time (no write-path change files):
    // c0 seed → inserts, c1 upsert → update_preimage (seed values) +
    // update_postimage (+100), c2 stale upsert → NOTHING (the table did
    // not change), c3 delete → typed tombstones carrying last values
    GQuery("lake_tail_cdf",
      (s, d) => {
        val t = cdcTable(s, d)
        val qname = "lake_tail_cdf_sink"
        val q = t.tailStream(changeTypes = true)
          .writeStream.outputMode("append")
          .format("memory").queryName(qname).start()
        try q.processAllAvailable() finally q.stop()
        s.table(qname).select(col("_change_type"), col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
          col("update_ts"), col("_deleted"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("_change_type"))
      },
      Some(s"""WITH $liCte,
        tail AS (
          SELECT 'insert' AS _change_type, l_orderkey, l_linenumber,
                 l_returnflag, l_quantity, 0 AS update_ts, false AS _deleted
          FROM li
          UNION ALL
          SELECT 'update_preimage', l_orderkey, l_linenumber, l_returnflag,
                 l_quantity, 0, false
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT 'update_postimage', l_orderkey, l_linenumber, l_returnflag,
                 l_quantity + 100, 1, false
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT 'delete', l_orderkey, l_linenumber, l_returnflag,
                 l_quantity, 0, true
          FROM li WHERE l_returnflag = 'A' AND l_linenumber <= 2)
        SELECT * FROM tail
        ORDER BY l_orderkey, l_linenumber, _change_type""")),

    // ---- typed change feed on MoR (the r12 refusal, lifted) ------------
    // delta commits classify from two bounded merged probes of the
    // touched keys (pre/post state): c1 (+100, ts 1) wins the merge →
    // update pre/post per R key; c2 (+1000, ts 0) loses precombine →
    // NOTHING (the table did not change — the CoW typed tail's same
    // documented divergence); c3 tombstones → delete rows carrying the
    // PRIOR values (not the raw NULL-payload delta rows the untyped
    // tail emits). The seeding bulk insert is not a change (untyped MoR
    // tail scope).
    GQuery("lake_tail_cdf_mor",
      (s, d) => {
        val t = morCdcTable(s, d)
        val qname = "lake_tail_cdf_mor_sink"
        val q = t.tailStream(changeTypes = true)
          .writeStream.outputMode("append")
          .format("memory").queryName(qname).start()
        try q.processAllAvailable() finally q.stop()
        s.table(qname).select(col("_change_type"), col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
          col("update_ts"), col("_deleted"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("_change_type"))
      },
      Some(s"""WITH $liCte,
        tail AS (
          SELECT 'update_preimage' AS _change_type, l_orderkey,
                 l_linenumber, l_returnflag, l_quantity, 0 AS update_ts,
                 false AS _deleted
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT 'update_postimage', l_orderkey, l_linenumber,
                 l_returnflag, l_quantity + 100, 1, false
          FROM li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT 'delete', l_orderkey, l_linenumber, l_returnflag,
                 l_quantity, 0, true
          FROM li WHERE l_returnflag = 'A' AND l_linenumber <= 2)
        SELECT * FROM tail
        ORDER BY l_orderkey, l_linenumber, _change_type""")),

    // after compaction the same snapshot must come from base files only
    GQuery("lake_mor_compacted",
      (s, d) => {
        val t = morCdcTable(s, d)
        t.compact()
        proj(t.read())
      },
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- commit timeline (DESCRIBE HISTORY role) ----------------------
    // deterministic projection only (ids + ops); counts/bytes/timestamps
    // vary with parallelism and wall clock and are spec-tested instead
    GQuery("lake_history",
      (s, d) => cdcTable(s, d).history()
        .select(col("commit_id"), col("op")).orderBy("commit_id"),
      Some("""SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), 'bulk_insert'),
          (CAST(1 AS BIGINT), 'upsert'),
          (CAST(2 AS BIGINT), 'upsert'),
          (CAST(3 AS BIGINT), 'delete')) AS t(commit_id, op)
        ORDER BY commit_id""")),

    // ---- zero-copy shallow clone of the CDC table at its head ---------
    // the clone's snapshot must equal the source's (same oracle as
    // lake_delete_snapshot); the clone is rebuilt fresh per run
    GQuery("lake_clone_snapshot",
      (s, d) => {
        val root = s"/tmp/graft_lake/clone_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        proj(cdcTable(s, d).shallowClone(root).read())
      },
      Some(s"""$mergedCte
        SELECT m.* FROM merged m
        WHERE NOT EXISTS (SELECT 1 FROM li k
          WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
            AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber)
        ORDER BY m.l_orderkey, m.l_linenumber""")),

    // ---- incremental aggregate maintenance (materialized-view role) ---
    // maintained commit-by-commit through the CDC replay; oracle is the
    // direct aggregation of the final snapshot
    GQuery("lake_incr_agg",
      (s, d) => incrAgg(s, d).read().orderBy("l_returnflag"),
      Some(s"""$mergedCte,
        fin AS (
          SELECT m.* FROM merged m
          WHERE NOT EXISTS (SELECT 1 FROM li k
            WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
              AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber))
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- incremental aggregate with NON-INVERTIBLE min/max measures ---
    // (see incrAggMM): maintained commit-by-commit; affected dimensions
    // recompute their order statistics from a dim-pruned probe, so the
    // c3 delete (which removes per-dimension minima) is the acid test
    GQuery("lake_incr_agg_minmax",
      (s, d) => incrAggMM(s, d).read().orderBy("l_returnflag"),
      Some(s"""$mergedCte,
        fin AS (
          SELECT m.* FROM merged m
          WHERE NOT EXISTS (SELECT 1 FROM li k
            WHERE k.l_returnflag = 'A' AND k.l_linenumber <= 2
              AND k.l_orderkey = m.l_orderkey AND k.l_linenumber = m.l_linenumber))
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
          CAST(min(l_orderkey) AS BIGINT) AS key_min,
          CAST(min(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_min,
          CAST(max(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_max
        FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- multi-clause MERGE INTO (see mergeTable for the clause set) ---
    GQuery("lake_merge_snapshot",
      (s, d) => proj(mergeTable(s, d).read()),
      Some(s"""WITH $liCte,
        r AS (SELECT * FROM li WHERE l_returnflag = 'R'),
        upd AS (SELECT l_orderkey, l_linenumber,
                       l_quantity + 500 AS l_quantity FROM r),
        kept AS (
          SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag,
            CASE WHEN u.l_orderkey IS NOT NULL THEN u.l_quantity
                 ELSE t.l_quantity END AS l_quantity,
            CASE WHEN u.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS update_ts
          FROM li t LEFT JOIN upd u
            ON t.l_orderkey = u.l_orderkey AND t.l_linenumber = u.l_linenumber
          WHERE NOT (u.l_orderkey IS NOT NULL AND t.l_linenumber = 1)
            AND NOT (u.l_orderkey IS NULL AND t.l_returnflag = 'N')),
        ins AS (SELECT l_orderkey + 10000000 AS l_orderkey, l_linenumber,
                       l_returnflag, l_quantity + 9000 AS l_quantity,
                       1 AS update_ts FROM r)
        SELECT * FROM kept UNION ALL SELECT * FROM ins
        ORDER BY l_orderkey, l_linenumber"""))
  )
}
