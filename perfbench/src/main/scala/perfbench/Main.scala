package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. One process runs one workload as a
  * closed loop with a single client thread, checks every output against
  * the plain-Spark reference in [[Check]], prints a readable report and,
  * as its last line, the JSON result. Exits 1 when any op failed or
  * returned a wrong result. */
object Main {
  val Workloads: Seq[String] = Seq("cow_upsert", "mor_tail_mixed")
  /** space_amp is taken after this many turns of the op mix, so it
    * measures the same work in every run */
  val SpaceTurns = 1

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false; case "1" => true
        case t => sys.error(s"--trace must be 0 or 1, got $t")
      }, need("work"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors.toString
    SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.g", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", s"$work/wh")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val ok = new Runner(a).run()
    sys.exit(if (ok) 0 else 1)
  }
}

/** One timed op of a workload's loop. `run` performs the op and returns
  * what the op produced; `check` (run after the loop, untimed) says what
  * was wrong with it, if anything. */
final case class Op(kind: String, cls: String, rowsIn: Long, run: () => OpOut)

final case class OpOut(check: () => Option[String] = () => None,
    /** the DataFrame whose action the op timed (read ops), for plan facts */
    df: Option[DataFrame] = None,
    /** the table a read op read */
    table: Option[graft.lake.LakeTable] = None,
    /** rows the read returned before aggregation */
    rowsOut: Long = 0L,
    /** (table, new commit id) for write ops */
    commit: Option[(graft.lake.LakeTable, Long)] = None,
    /** the batch as the engine received it (write ops), for write_amp */
    batch: Option[DataFrame] = None,
    /** the dedup index an ingest op wrote */
    index: Option[graft.ops.MinHashDedupIndex] = None)

final case class Sample(id: Int, kind: String, cls: String, seconds: Double,
    rowsIn: Long, ok: Boolean, startMs: Long, endMs: Long)

/** A workload: builds its state in `setup`, then hands out ops forever. */
trait Workload {
  /** ops in one turn of the workload's fixed op mix; the loop only stops
    * between turns, so every run has the same mix */
  def cycle: Int
  def setup(): Unit
  def nextOp(): Op
  /** checks on the final state, after the loop */
  def verifyEnd(): Seq[String]
  /** generated input properties, printed before the loop */
  def properties: Seq[(String, Any)]
  /** lake tables the loop works on (of the last setup) */
  def tables: Seq[graft.lake.LakeTable]
  /** write ops applied so far, the warm-up writes included */
  def writes: Int
  /** the expected snapshot of every table after the first `n` write ops,
    * as plain DataFrames */
  def expected(n: Int): Seq[DataFrame]
  /** end-to-end metrics of this workload alone, known after the checks */
  def endToEnd: Seq[(String, Double, String)] = Nil
  /** per-layer facts of this workload alone, known after the checks */
  def layerFacts: Map[String, Double] = Map.empty
}

final class Runner(a: Main.Args) {
  def run(): Boolean = {
    val t0 = System.nanoTime()
    val spark = Main.session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Yardstick.seconds(spark) // untimed: its first run compiles its code
    val tr = new Tracer(false)
    val exec = new ExecListener
    val phases = new PhaseListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(phases)
    }
    val w: Workload = a.workload match {
      case "cow_upsert" => new CowUpsert(spark, a, tr)
      case "mor_tail_mixed" => new MorTailMixed(spark, a, tr)
    }
    // set-up, in the fresh JVM as a user meets it: setup_s is session
    // start plus the set-up. The yardstick follows the set-up and every
    // op, so its median gives the machine's speed during the run.
    val s0 = System.nanoTime(); w.setup(); val setupS = (System.nanoTime() - s0) / 1e9
    // a full collection after the set-up and after every op, outside
    // every timed span (Spark's own cleaner forces one periodically too):
    // no op pays for collecting an earlier one's garbage, and the heap's
    // high-water mark follows live data, not how much garbage got promoted
    System.gc()
    val yard = mutable.ArrayBuffer(Yardstick.seconds(spark))
    tr.on = a.trace
    println(s"[perfbench] workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=${Runtime.getRuntime.availableProcessors}")
    w.properties.foreach { case (k, v) => println(s"[perfbench] input $k = $v") }

    // the closed loop: one client, next op only after the previous ended;
    // it runs whole turns of the op mix until the ops took --seconds
    val samples = mutable.ArrayBuffer.empty[Sample]
    val checks = mutable.ArrayBuffer.empty[(Int, () => Option[String])]
    val failures = mutable.ArrayBuffer.empty[String]
    val probes = new Probes(spark, tr)
    var spaceMark = Option.empty[(Long, Int)] // (bytes under the table roots, writes)
    val loop0 = System.nanoTime()
    var opSeconds = 0.0
    var id = 0
    while (opSeconds < a.seconds || id % w.cycle != 0) {
      val op = w.nextOp()
      tr.op = id
      spark.sparkContext.setLocalProperty(ExecListener.OpKey, id.toString)
      val m0 = System.currentTimeMillis(); val s0 = System.nanoTime()
      val res = try Right(tr.span("op." + op.kind)(op.run())) catch {
        case e: Exception => Left(e)
      }
      val secs = (System.nanoTime() - s0) / 1e9; val m1 = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
      res match {
        case Right(o) =>
          checks += ((id, o.check))
          tr.overhead(probes.afterOp(id, op, o, w.tables))
        case Left(e) =>
          failures += s"op $id ${op.kind} failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      samples += Sample(id, op.kind, op.cls, secs, op.rowsIn, res.isRight, m0, m1)
      opSeconds += secs
      id += 1
      if (id == w.cycle * Main.SpaceTurns) spaceMark = Some(Storage.bytesOf(w.tables) -> w.writes)
      System.gc()
      yard += Yardstick.seconds(spark)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // checks: every op's own check, then the end state, untimed; layer
    // spans of the end-state reads belong to no op
    tr.op = -1
    val wrong = mutable.ArrayBuffer.empty[String]
    checks.foreach { case (i, c) =>
      try c().foreach(m => wrong += s"op $i ${samples(i).kind}: $m")
      catch { case e: Exception => wrong += s"op $i check threw ${e.getMessage}" }
    }
    try wrong ++= w.verifyEnd()
    catch { case e: Exception => wrong += s"end-state check threw ${e.getMessage}" }
    val wrongOps = wrong.count(_.startsWith("op "))
    val checksS = (System.nanoTime() - loop0) / 1e9 - loopS
    (failures ++ wrong).foreach(m => System.err.println(s"[perfbench] FAIL $m"))

    val (spaceBytes, spaceWrites) = spaceMark.getOrElse(Storage.bytesOf(w.tables) -> w.writes)
    val space = spaceBytes.toDouble / Storage.expectedBytes(a.work, w.expected(spaceWrites))
    val peakRss = Mem.peakRssMb()
    val storageFacts = Storage.facts(w.tables)
    val endReport = Report.endToEnd(samples.toSeq, setupS, sessionS, space, peakRss,
      yard.toSeq, w.endToEnd)
    Report.print(a.workload, samples.toSeq, endReport)
    println(f"[perfbench] ${a.workload} wall: session $sessionS%.1f s, set-up " +
      f"$setupS%.1f s, loop $loopS%.1f s, checks $checksS%.1f s")
    val layer = if (!a.trace) Map.empty[String, Double] else {
      spark.stop() // drains the listener bus: every job, stage and task event is in
      val l = Report.perLayer(samples.toSeq, tr, exec, phases, storageFacts ++ w.layerFacts, loopS)
      Report.printTrace(a.workload, samples.toSeq, tr, exec, phases, l)
      TraceFile.write(java.nio.file.Paths.get(a.work, "trace.json"), samples.toSeq, tr, exec, phases)
      l
    }

    val attempted = samples.size
    val failed = failures.size + wrongOps
    val correct = failures.isEmpty && wrong.isEmpty && attempted > 0
    val metrics = if (a.trace) layer.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v, Report.layerUnit(k)) } else Report.gated(endReport)
    println(Report.json(correct, attempted, failed, metrics))
    if (!a.trace) spark.stop()
    correct
  }
}

/** Machine-speed yardstick: a fixed RDD job, so it never passes through
  * Catalyst or the engine's SQL extensions (it still shares the JVM heap
  * and the block manager with the engine).
  * The machine this benchmark runs on may be shared, and its speed can
  * drift by tens of percent within minutes; the gated times are scaled by
  * [[RefSeconds]] ÷ the yardstick's median time over the run, so they
  * read as seconds on a machine where the yardstick takes
  * [[RefSeconds]]. */
object Yardstick {
  /** about the yardstick's time on a shared 4-core cloud VM */
  val RefSeconds = 0.3

  /** one timing of the job */
  def seconds(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.range(0L, 4000000L, 1L, 8)
      .map(i => (java.lang.Long.hashCode(i * 0x9E3779B97F4A7C15L) & 1023, 1L))
      .reduceByKey(_ + _, 8).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** factor that turns seconds measured alongside `timings` into
    * reference seconds */
  def scale(timings: Seq[Double]): Double = RefSeconds / Report.median(timings)
}
