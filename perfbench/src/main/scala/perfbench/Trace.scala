package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer call made from the benchmark's files. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters of the traced run, held in memory and written out
  * when the run ends. A disabled tracer runs each body and records
  * nothing, so untraced runs (and every run's set-up) pay no tracing
  * cost. */
final class Tracer(var on: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** op id → named counters measured at the op's layer boundaries */
  val counters: mutable.Map[Int, mutable.Map[String, Double]] = mutable.Map.empty
  private var stack: List[Int] = Nil
  private var ids = 0
  var op: Int = -1
  /** wall time spent in tracing work itself (probes, plan walks) */
  var selfNs: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      ids += 1
      val id = ids; stack = id :: stack
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def count(name: String, v: Double): Unit =
    if (on) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  /** runs tracing-only work and books its time as tracing overhead */
  def overhead[T](body: => T): Option[T] =
    if (!on) None
    else {
      val t0 = System.nanoTime()
      try Some(body) finally selfNs += System.nanoTime() - t0
    }

  /** self time of every span: its duration minus what its children cover */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }
}

/** Spark execution counters per benchmark op. Ops tag their jobs with the
  * local property [[ExecListener.OpKey]]; stages and tasks inherit the
  * tag through their job. Read only after the listener bus drained. */
final class ExecListener extends SparkListener {
  final class OpExec {
    var jobs = 0; var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    /** [start, end] epoch ms of every job, for the no-job driver time */
    val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  }
  val byOp: mutable.Map[Int, OpExec] = mutable.Map.empty
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def opOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(ExecListener.OpKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new OpExec).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobStart(e.jobId) = (op, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      byOp(op).jobSpans += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    opOf(e.properties).orElse(stageOp.get(id)).foreach { op =>
      stageOp(id) = op
      byOp.getOrElseUpdate(op, new OpExec).stages += 1
    }
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val o = byOp.getOrElseUpdate(op, new OpExec)
      o.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => o.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        o.runMs += m.executorRunTime; o.cpuNs += m.executorCpuTime; o.gcMs += m.jvmGCTime
        o.shuffleW += m.shuffleWriteMetrics.bytesWritten
        o.shuffleR += m.shuffleReadMetrics.totalBytesRead
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** wall ms of [t0, t1] covered by at least one of `op`'s jobs */
  def jobCoveredMs(op: Int, t0: Long, t1: Long): Long = synchronized {
    val iv = byOp.get(op).map(_.jobSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

object ExecListener { val OpKey = "perfbench.op" }

/** Catalyst phase times of every query that ran, from each query's
  * `queryExecution.tracker`, stamped with the phase's wall-clock start so
  * the run can book it to the op whose span contains it. */
final class PhaseListener extends QueryExecutionListener {
  /** (phase, start epoch ms, duration ms) */
  val phases: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.durationMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** What a read's physical plan did, from its SQL metrics. */
final case class ScanFacts(files: Long, bytes: Long, rows: Long, rowFallback: Boolean)

object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def scanFacts(df: DataFrame): ScanFacts = {
    val all = nodes(df.queryExecution.executedPlan)
    def metric(n: SparkPlan, k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = all.filter(n => n.nodeName.contains("Scan") && n.metrics.contains("numOutputRows"))
    ScanFacts(
      files = scans.map(metric(_, "numFiles")).sum,
      bytes = scans.map(metric(_, "filesSize")).sum,
      rows = scans.map(metric(_, "numOutputRows")).sum,
      rowFallback = all.exists(_.getClass.getSimpleName == "RowDataSourceScanExec"))
  }
}

object Mem {
  /** driver JVM peak resident set (VmHWM), MB */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** The traced run's record, written when the run ends: every span, and
  * per op its latency, the counters measured at its layer boundaries,
  * its Spark execution counters and its Catalyst phase times. */
object TraceFile {
  def write(path: java.nio.file.Path, samples: Seq[Sample], tr: Tracer,
      exec: ExecListener, phases: PhaseListener): Unit = {
    def obj(kv: Seq[(String, Any)]): String = kv.map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")
    val spans = tr.spans.map(s => obj(Seq("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    val ops = samples.map { s =>
      val e = exec.byOp.get(s.id)
      val ph = phases.phases.filter { case (_, st, _) => st >= s.startMs && st <= s.endMs }
        .groupMapReduce(_._1)(_._3)(_ + _)
      obj(Seq("op" -> s.id, "kind" -> s.kind, "seconds" -> s.seconds, "ok" -> s.ok) ++
        tr.counters.getOrElse(s.id, Map.empty).toSeq.sortBy(_._1) ++
        e.toSeq.flatMap(x => Seq("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
          "task_run_ms" -> x.runMs, "task_cpu_ns" -> x.cpuNs, "gc_ms" -> x.gcMs,
          "task_wait_ms" -> x.waitMs, "shuffle_write_bytes" -> x.shuffleW,
          "shuffle_read_bytes" -> x.shuffleR, "spill_bytes" -> x.spill)) ++
        ph.toSeq.sortBy(_._1).map { case (k, v) => s"${k}_ms" -> v })
    }
    java.nio.file.Files.writeString(path,
      s"""{"spans": [\n${spans.mkString(",\n")}\n],\n"ops": [\n${ops.mkString(",\n")}\n]}\n""")
  }
}
