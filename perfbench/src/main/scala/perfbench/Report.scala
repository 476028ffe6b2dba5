package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{CommitLog, LakeTable}

/** Traced-run measurements taken between ops (outside the op's timed
  * span): commit-log resolution on a fresh and on the reused handle,
  * what a write committed, and what a read's plan scanned. */
final class Probes(spark: SparkSession, tr: Tracer) {
  private val hconf = spark.sparkContext.hadoopConfiguration

  def afterOp(id: Int, op: Op, o: OpOut, tables: Seq[LakeTable]): Unit = {
    tables.foreach { t =>
      tr.span("commitlog.resolve_cold")(
        new CommitLog(t.config.root, hconf, t.config.checkpointEvery).liveFiles())
      val live = tr.span("commitlog.resolve_warm")(t.log.liveFiles())
      tr.count("delta_files_live", live.count(_.isDelta).toDouble)
    }
    tr.count("probe_tables", tables.size.toDouble)
    o.commit.foreach { case (t, first) =>
      val cs = (first to t.log.latestId.getOrElse(first)).map(t.log.read)
      val (maint, writes) = cs.partition(_.op == "compact")
      val adds = writes.flatMap(_.adds)
      tr.count("writes", 1)
      tr.count("rows_in", op.rowsIn.toDouble)
      tr.count("files_added", adds.size.toDouble)
      tr.count("files_removed", writes.map(_.removes.size).sum.toDouble)
      tr.count("partitions_rewritten",
        writes.flatMap(_.removes).map(p => new org.apache.hadoop.fs.Path(p).getParent.toString)
          .distinct.size.toDouble)
      tr.count("rows_written", adds.map(_.rows).sum.toDouble)
      tr.count("bytes_written", adds.map(_.bytes).sum.toDouble)
      tr.count("compactions", maint.size.toDouble)
      tr.count("checkpoints", if (t.log.latestCheckpointAt(Long.MaxValue).exists(_.id >= first)) 1 else 0)
      tr.count("compaction_bytes", maint.flatMap(_.adds).map(_.bytes).sum.toDouble)
      o.batch.foreach(b => tr.count("batch_bytes", Storage.parquetBytes(b,
        s"${spark.conf.get("spark.local.dir")}/batch-$id").toDouble))
    }
    o.index.foreach { ix =>
      tr.count("dedup_ingests", 1)
      tr.count("dedup_index_files", (ix.bands.log.liveFiles().size + ix.docs.log.liveFiles().size).toDouble)
    }
    o.df.foreach { df =>
      val f = Plans.scanFacts(df)
      val live = o.table.map(_.log.liveFiles().size).getOrElse(0)
      tr.count("reads", 1)
      if (f.files > 0 && live > 0) {
        tr.count("scan_files", f.files.toDouble); tr.count("scan_live", live.toDouble)
      }
      tr.count("scan_rows", f.rows.toDouble)
      tr.count("rows_out", o.rowsOut.toDouble)
      tr.count("scan_bytes", f.bytes.toDouble)
      tr.count("row_fallback", if (f.rowFallback) 1 else 0)
    }
  }
}

object Storage {
  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }
  def bytesUnder(root: String): Long = files(root).map(Files.size).sum

  /** bytes of `df` written once as plain parquet (the directory is
    * removed again) */
  def parquetBytes(df: DataFrame, dir: String): Long = {
    df.write.mode("overwrite").parquet(dir)
    val b = files(dir).filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    b
  }

  def bytesOf(tables: Seq[LakeTable]): Long = tables.map(t => bytesUnder(t.config.root)).sum

  /** bytes of the expected snapshots, each written once as plain parquet */
  def expectedBytes(work: String, expected: Seq[DataFrame]): Long =
    expected.zipWithIndex.map { case (df, i) => parquetBytes(df, s"$work/expected-$i") }.sum

  /** end-of-run storage and commit-log facts over the tables */
  def facts(tables: Seq[LakeTable]): Map[String, Double] = {
    val live = tables.flatMap(_.log.liveFiles())
    val liveBytes = live.map(_.bytes).sum.toDouble
    Map(
      "storage.bytes_total" -> bytesOf(tables).toDouble,
      "storage.bytes_live" -> liveBytes,
      "storage.files_live" -> live.size.toDouble,
      "storage.mean_file_bytes" -> (if (live.isEmpty) 0.0 else liveBytes / live.size),
      "commitlog.commits" -> tables.map(_.log.commits.size).sum.toDouble,
      "commitlog.log_bytes" -> tables.map(t => bytesUnder(t.config.root + "/_log")).sum.toDouble,
      "maint.compactions" -> tables.map(_.log.commits.count(_.op == "compact")).sum.toDouble)
  }
}

object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** the highest percentile with at least ten samples beyond it:
    * (value, percentile, n). Below 20 samples that percentile would not
    * lie above the median, so the maximum is given instead (percentile
    * 100) and the report says so. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 20) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private def tailNote(name: String, p: Double, n: Int): String =
    if (n < 20) s"$name is the max of n=$n (fewer than 20 samples: no tail with 10 beyond it)"
    else f"$name is p$p%.1f of n=$n"

  final case class E2E(values: Seq[(String, Double, String)], notes: Seq[String])

  /** the end-to-end metrics BENCHMARK.json gates, in its order */
  val Gated: Seq[String] = Seq("setup_s", "ops_per_s", "write_p50_s",
    "write_rows_per_s", "space_amp", "peak_rss_mb")

  /** End-to-end metrics. Times and rates are in reference seconds (see
    * [[Yardstick]]), scaled by the yardstick's timings over the run.
    * Throughputs are per second of op time, the closed loop's client view. */
  def endToEnd(samples: Seq[Sample], setupS: Double, sessionS: Double,
      spaceAmp: Double, peakRss: Double, yard: Seq[Double],
      extra: Seq[(String, Double, String)] = Nil): E2E = {
    val k = Yardstick.scale(yard)
    val ok = samples.filter(_.ok)
    val lat = ok.map(_.seconds * k)
    val (tl, tp, tn) = tail(lat)
    val setupRaw = sessionS + setupS
    val opsRaw = if (ok.isEmpty) 0.0 else ok.size / ok.map(_.seconds).sum
    val v = mutable.ArrayBuffer[(String, Double, String)](
      ("setup_s", setupRaw * k, "s"),
      ("ops_per_s", opsRaw / k, "1/s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tl, "s"),
      ("space_amp", spaceAmp, "ratio"),
      ("peak_rss_mb", peakRss, "MB"))
    val writes = ok.filter(_.cls == "write")
    val writeS = writes.map(_.seconds).sum
    val rowsRaw = if (writeS == 0) 0.0 else writes.map(_.rowsIn).sum / writeS
    v += (("write_rows_per_s", rowsRaw / k, "rows/s"))
    val notes = mutable.ArrayBuffer(
      tailNote("op_tail_s", tp, tn),
      f"setup_s is session start ($sessionS%.3f s) plus the set-up ($setupS%.3f s)",
      f"times and rates are in reference seconds: yardstick ${Yardstick.RefSeconds}%.2f s " +
        f"took median ${median(yard)}%.4f s over n=${yard.size} (scale $k%.4f, " +
        f"range ${yard.min}%.4f..${yard.max}%.4f; in order: ${yard.map(y => f"$y%.3f").mkString(" ")})",
      f"unscaled: setup_s $setupRaw%.4f s, ops_per_s $opsRaw%.4f 1/s, " +
        f"write_p50_s ${median(writes.map(_.seconds))}%.4f s, write_rows_per_s $rowsRaw%.2f rows/s")
    // per op class; every workload writes, so the write metrics always exist
    Seq("write", "scan", "lookup", "cdf", "dedup").foreach { c =>
      val xs = ok.filter(_.cls == c).map(_.seconds * k)
      if (xs.nonEmpty || c == "write") {
        val (t, p, n) = tail(xs)
        v += ((s"${c}_p50_s", median(xs), "s"))
        v += ((s"${c}_tail_s", t, "s"))
        notes += tailNote(s"${c}_tail_s", p, n)
      }
    }
    val err = (samples.size - ok.size).toDouble
    v += (("op_error_rate", if (samples.isEmpty) 0.0 else err / samples.size, "fraction"))
    v ++= extra
    E2E(v.toSeq, notes.toSeq)
  }

  def gated(e: E2E): Seq[(String, (Double, String))] =
    Gated.map(n => e.values.find(_._1 == n).map { case (k, x, u) => k -> (x, u) }
      .getOrElse(sys.error(s"metric $n missing")))

  val LayerUnits: Seq[(String, String)] = Seq(
    "commitlog.resolve_cold_s" -> "s", "commitlog.resolve_warm_s" -> "s",
    "commitlog.commits" -> "count", "commitlog.log_bytes" -> "bytes",
    "laketable.write_s" -> "s", "laketable.write_driver_s" -> "s",
    "laketable.files_added" -> "count", "laketable.files_removed" -> "count",
    "laketable.partitions_rewritten" -> "count",
    "laketable.rows_written_per_row_in" -> "ratio", "laketable.write_amp" -> "ratio",
    "laketable.read_build_s" -> "s", "laketable.files_scanned_per_live" -> "ratio",
    "laketable.rows_read_per_row_out" -> "ratio", "laketable.bytes_read" -> "bytes",
    "laketable.row_fallback_share" -> "fraction", "laketable.delta_files_live" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "sql.statement_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.task_wait_s" -> "s", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "maint.compactions" -> "count", "maint.bytes_rewritten" -> "bytes",
    "maint.stall_s" -> "s",
    "storage.bytes_total" -> "bytes", "storage.bytes_live" -> "bytes",
    "storage.files_live" -> "count", "storage.mean_file_bytes" -> "bytes",
    "dedup.ingest_s" -> "s", "dedup.index_files_live" -> "count",
    "dedup.index_bytes_per_doc" -> "bytes", "dedup.flagged" -> "count",
    "dedup.planted" -> "count",
    "jvm.heap_used_peak_mb" -> "MB", "trace.overhead" -> "fraction")

  private lazy val unitOf = LayerUnits.toMap
  def layerUnit(k: String): String = unitOf(k)

  /** per-layer metrics of a traced run: medians of span times, per-op
    * means of counters, ratios of summed counts */
  def perLayer(samples: Seq[Sample], tr: Tracer, exec: ExecListener,
      phases: PhaseListener, storage: Map[String, Double],
      loopS: Double): Map[String, Double] = {
    def spanMed(n: String) = median(tr.spans.filter(_.name == n).map(_.seconds).toSeq)
    def total(k: String) = tr.counters.values.map(_.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val ops = samples.size.toDouble
    val execs = samples.map(s => exec.byOp.get(s.id))
    def perOp(f: ExecListener#OpExec => Double) = ratio(execs.flatten.map(f).sum, ops)
    val writeDriver = tr.spans.filter(_.name == "laketable.write").map { s =>
      s.seconds - exec.jobCoveredMs(s.op, s.startMs, s.endMs) / 1000.0 }
    // catalyst phases booked to the op whose wall interval holds them
    val phaseSum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    phases.phases.foreach { case (name, start, dur) =>
      if (samples.exists(s => start >= s.startMs && start <= s.endMs))
        phaseSum(name) += dur / 1000.0
    }
    // writes that carried inline maintenance: a compaction or a log checkpoint
    val maintained = samples.filter(s => tr.counters.get(s.id).exists(c =>
      c.getOrElse("compactions", 0.0) + c.getOrElse("checkpoints", 0.0) > 0))
    val plainWrites = samples.filter(s => s.cls == "write" && !maintained.contains(s))
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val m = Map(
      "commitlog.resolve_cold_s" -> spanMed("commitlog.resolve_cold"),
      "commitlog.resolve_warm_s" -> spanMed("commitlog.resolve_warm"),
      "laketable.write_s" -> spanMed("laketable.write"),
      "laketable.write_driver_s" -> median(writeDriver.toSeq),
      "laketable.files_added" -> ratio(total("files_added"), total("writes")),
      "laketable.files_removed" -> ratio(total("files_removed"), total("writes")),
      "laketable.partitions_rewritten" -> ratio(total("partitions_rewritten"), total("writes")),
      "laketable.rows_written_per_row_in" -> ratio(total("rows_written"), total("rows_in")),
      "laketable.write_amp" -> ratio(total("bytes_written"), total("batch_bytes")),
      "laketable.read_build_s" -> spanMed("laketable.read_build"),
      "laketable.files_scanned_per_live" -> ratio(total("scan_files"), total("scan_live")),
      "laketable.rows_read_per_row_out" -> ratio(total("scan_rows"), total("rows_out")),
      "laketable.bytes_read" -> ratio(total("scan_bytes"), total("reads")),
      "laketable.row_fallback_share" -> ratio(total("row_fallback"), total("reads")),
      "laketable.delta_files_live" -> ratio(total("delta_files_live"), total("probe_tables")),
      "catalyst.analysis_s" -> phaseSum("analysis") / ops,
      "catalyst.optimization_s" -> phaseSum("optimization") / ops,
      "catalyst.planning_s" -> phaseSum("planning") / ops,
      "sql.statement_s" -> spanMed("sql.statement"),
      "exec.jobs" -> perOp(_.jobs.toDouble),
      "exec.stages" -> perOp(_.stages.toDouble),
      "exec.tasks" -> perOp(_.tasks.toDouble),
      "exec.task_run_s" -> perOp(_.runMs / 1000.0),
      "exec.task_cpu_s" -> perOp(_.cpuNs / 1e9),
      "exec.gc_s" -> perOp(_.gcMs / 1000.0),
      "exec.task_wait_s" -> perOp(_.waitMs / 1000.0),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleW.toDouble),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleR.toDouble),
      "exec.spill_bytes" -> perOp(_.spill.toDouble),
      "maint.bytes_rewritten" -> total("compaction_bytes"),
      "maint.stall_s" -> (if (maintained.isEmpty) 0.0
        else median(maintained.map(_.seconds)) - median(plainWrites.map(_.seconds))),
      "dedup.ingest_s" -> spanMed("dedup.ingest"),
      "dedup.index_files_live" -> ratio(total("dedup_index_files"), total("dedup_ingests")),
      "jvm.heap_used_peak_mb" -> heapPeak,
      "trace.overhead" -> tr.selfNs / 1e9 / loopS) ++ storage
    // layers a workload does not reach read 0
    LayerUnits.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }

  def print(workload: String, samples: Seq[Sample], e: E2E): Unit = {
    e.values.foreach { case (k, v, u) => println(f"[perfbench] $workload $k%-22s $v%.6f $u") }
    e.notes.foreach(n => println(s"[perfbench] $workload note: $n"))
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      println(f"[perfbench] $workload op $k%-18s n=${xs.size}%3d p50=${median(xs.map(_.seconds))}%.4f s " +
        s"(unscaled, each: ${xs.map(x => f"${x.seconds}%.3f").mkString(" ")})")
    }
  }

  /** the traced run's report: per-layer metrics, then per op type the
    * layer spans and Spark execution behind one op, then self time per
    * layer (span time its child spans do not cover) */
  def printTrace(workload: String, samples: Seq[Sample], tr: Tracer, exec: ExecListener,
      phases: PhaseListener, layer: Map[String, Double]): Unit = {
    layer.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[perfbench] $workload layer $k%-34s $v%.6f ${layerUnit(k)}") }
    val phaseOf = phases.phases.toSeq.flatMap { case (name, start, dur) =>
      samples.find(s => start >= s.startMs && start <= s.endMs).map(s => (s.id, dur / 1000.0)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val ids = xs.map(_.id).toSet
      val spans = tr.spans.filter(s => ids(s.op) && !s.name.startsWith("op.") &&
        !s.name.startsWith("commitlog.")).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => f"$n=${median(ss.map(_.seconds).toSeq)}%.4f" }
      val ex = xs.flatMap(s => exec.byOp.get(s.id))
      def mean(f: ExecListener#OpExec => Double) = if (xs.isEmpty) 0.0 else ex.map(f).sum / xs.size
      println(f"[perfbench] $workload per-op $k%-18s n=${xs.size}%3d ${spans.mkString(" ")} " +
        f"catalyst=${xs.map(s => phaseOf.getOrElse(s.id, 0.0)).sum / xs.size}%.4f " +
        f"jobs=${mean(_.jobs)}%.1f tasks=${mean(_.tasks)}%.1f task_run=${mean(_.runMs / 1000.0)}%.3f " +
        f"task_wait=${mean(_.waitMs / 1000.0)}%.3f shuffle_w=${mean(_.shuffleW.toDouble)}%.0f")
    }
    tr.selfSeconds.toSeq.groupMapReduce { case (id, _) =>
      tr.spans.find(_.id == id).get.name.takeWhile(_ != '.') }(_._2)(_ + _).toSeq.sortBy(_._1)
      .foreach { case (l, v) => println(f"[perfbench] $workload self $l%-12s $v%.3f s") }
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": ${BigDecimal(x).bigDecimal.toPlainString}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
