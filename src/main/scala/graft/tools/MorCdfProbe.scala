package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch diagnostic: where does the MoR typed change feed spend its
  * time — the classification (batchFrame) or the streaming replay
  * machinery? Run: `sbt "runMain graft.tools.MorCdfProbe [sfDir]"` */
object MorCdfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("PROBE_COALESCE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[morcdf] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val ms = (for { s <- i.submissionTime; e <- i.completionTime }
            yield e - s).getOrElse(-1L)
          if (ms > 300) println(f"[stage] ${i.stageId}%4d ${ms}%6d ms " +
            f"tasks=${i.numTasks}%3d " +
            i.rddInfos.map(_.name).distinct.mkString(",").take(140))
        }
      })
    val t = graft.ops.Lake.morCdcTable(spark, sfDir)
    val head = t.log.latestId.get
    val src = new graft.sources.GraftTailSource(spark.sqlContext, t,
      t.changeFeedSchema, changeTypes = true)
    timed("typed batchFrame cold")(src.batchFrame(-1L, head).count())
    timed("typed batchFrame warm")(src.batchFrame(-1L, head).count())
    val untypedSrc = new graft.sources.GraftTailSource(spark.sqlContext, t,
      t.tailSchema)
    timed("untyped batchFrame")(untypedSrc.batchFrame(-1L, head).count())
    // per-commit typed cost
    (1L to head).foreach(id =>
      timed(s"typed commit $id")(src.batchFrame(id - 1, id).count()))
    // probe pieces for the heaviest commit (the stale batch, id 2)
    locally {
      import org.apache.spark.sql.functions.col
      val c = t.log.commitIfExists(2L).get
      val fileSchema = t.parseSchema(c.schemaJson)
      val keys = graft.lake.LogFileIndex.scan(spark, c.adds.filter(_.isDelta), fileSchema)
        .select(t.config.keyCols.map(n => col("`" + n + "`")): _*)
      timed("  c2 keys scan")(keys.count())
      val liveAt = t.log.liveFiles(Some(2L))
      import org.apache.spark.sql.functions.struct
      // payload = the row's own columns, without the pivot's helpers
      val helper = "_seq|_deleted|_rn|_(dcp|dcq|cp|cq|sp|sq|wp|wq)_\\d+"
      def pay(df: org.apache.spark.sql.DataFrame) = struct(df.columns
        .filterNot(_.matches(helper)).map(col).toSeq: _*)
      val byKey = t.mergedPrePostPivotMulti(liveAt, Seq(2L -> keys), pay,
        t.log.snapshot())
      timed("  c2 fused pivot")(byKey.count())
      timed("  c2 fused pivot again")(byKey.count())
    }
    spark.stop()
  }
}
