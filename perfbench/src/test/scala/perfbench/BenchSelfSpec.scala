package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, min_by, struct}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, LakeTableConfig}

/** The benchmark's own checks: its inputs are a function of the seed, its
  * reference can tell a wrong snapshot from a right one, and the metric
  * names it prints are the ones BENCHMARK.json declares. */
class BenchSelfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spec = StreamSpec(days = 6, rowsPerDay = 50, batchRows = 40,
    newShare = 0.2, lateShare = 0.1, staleShare = 0.1, lateDays = 2,
    deleteEvery = 3, deleteRows = 5)

  private def stream(seed: Long, n: Int): Seq[WriteOp] = {
    val s = new TaxiStream(seed, spec); Seq.fill(n)(s.next())
  }

  test("the same seed gives the same inputs; another seed gives others") {
    assert(stream(7, 12) == stream(7, 12))
    assert(stream(7, 12) != stream(8, 12))
    val evs = stream(7, 1).head.upserts
    val a = Check.digest(Taxi.rows(7, Taxi.events(spark, evs)))
    val b = Check.digest(Taxi.rows(7, Taxi.events(spark, evs)))
    val c = Check.digest(Taxi.rows(8, Taxi.events(spark, evs)))
    assert(a == b && a != c)
    // the stream keeps its promises: shares as specified, stale updates
    // older than any version, deletes never resurrected
    val ops = stream(7, 12)
    val up = ops.filterNot(_.isDelete)
    assert(up.forall(o => o.upserts.size == spec.batchRows && o.late.size == 4 && o.stale.size == 4))
    assert(up.forall(o => o.upserts.filter(e => o.stale(e.pk)).forall(_.ts < Taxi.TsBase)))
    val deleted = ops.flatMap(_.deletes).toSet
    ops.zipWithIndex.foreach { case (o, i) =>
      val gone = ops.take(i).flatMap(_.deletes).toSet
      assert(o.upserts.forall(e => !gone(e.pk)), s"op $i upserts a deleted key")
    }
    assert(deleted.size == ops.count(_.isDelete) * spec.deleteRows)
  }

  test("the reference matches the engine and rejects a reversed precombine") {
    val root = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "self")
      .resolve("t").toString
    val t = LakeTable(spark, LakeTableConfig(root, keyCols = Seq("pk_col"),
      precombineCol = "update_ts", partitionCols = Seq("pickup_day")))
    val initial = Taxi.initialEvents(spark, spec.days, spec.rowsPerDay)
    t.bulkInsert(Taxi.rows(7, initial))
    val ops = stream(7, 6)
    ops.foreach { o =>
      if (o.isDelete)
        t.delete(Taxi.deleteKeys(spark, 7, o.deletes))
      else t.upsert(Taxi.rows(7, Taxi.events(spark, o.upserts)))
    }
    val engine = Check.digest(t.read().select(Taxi.UserCols.map(col): _*))
    assert(engine == Check.digest(Check.replay(spark, 7, initial, ops)))
    // the same history with the precombine order reversed: earliest wins
    val earliestWins = Check.allEvents(spark, initial, ops).groupBy("pk_col")
      .agg(min_by(struct(col("ver"), col("ts")), col("ts")).as("w"))
      .select(col("pk_col"), col("w.ver").as("ver"), col("w.ts").as("ts"))
      .join(Taxi.keys(spark, ops.flatMap(_.deletes)), Seq("pk_col"), "left_anti")
    assert(engine != Check.digest(Taxi.rows(7, earliestWins)),
      "a snapshot with the precombine order reversed must not pass the check")
  }

  private val docSpec = DocSpec(vocab = 2000, zipfS = 1.1, minLen = 20, meanExtra = 20,
    maxLen = 80, batchDocs = 30, plantedShare = 0.5, mateShare = 0.4, aboveShare = 0.5,
    theta = 0.5)

  private def docBatches(seed: Long, n: Int): Seq[Seq[Doc]] = {
    val s = new DocStream(seed, docSpec); Seq.fill(n)(s.next())
  }

  test("the same seed gives the same documents; planted Jaccards are exact") {
    assert(docBatches(7, 3) == docBatches(7, 3))
    assert(docBatches(7, 3) != docBatches(8, 3))
    val docs = docBatches(7, 3).flatten
    val byId = docs.map(d => d.id -> d).toMap
    val planted = docs.filter(_.source.nonEmpty)
    assert(planted.nonEmpty && planted.exists(_.plantedAbove(0.5)) &&
      planted.exists(d => !d.plantedAbove(0.5)))
    planted.foreach { d =>
      val src = byId(d.source.get)
      assert(src.source.isEmpty && src.id < d.id, s"doc ${d.id}: sources are earlier originals")
      assert(d.jaccard == Shingles.jaccard(Shingles.of(src.text), Shingles.of(d.text)))
    }
  }

  test("the dedup check accepts the index's verdicts and rejects a false pair") {
    val root = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "dedup")
      .toString
    val index = new graft.ops.MinHashDedupIndex(spark, root, theta = docSpec.theta)
    val batches = docBatches(7, 2)
    val all = batches.flatten.map(d => d.id -> Shingles.of(d.text)).toMap
    val flagged = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val out = index.ingest(DocStream.frame(spark, b))
      val v = out.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      out.unpersist()
      assert(Check.dedupErrors(b, v, all.get, flagged, docSpec.theta).isEmpty)
      flagged ++= v.collect { case (d, Some(_)) => d }
      // an exact copy is always found; a pair below theta is never accepted
      val copies = b.filter(d => d.source.nonEmpty && d.jaccard == 1.0)
      assert(copies.forall(d => v(d.id).nonEmpty))
      val below = b.find(d => d.source.nonEmpty && d.jaccard < docSpec.theta).get
      val wrong = v.updated(below.id, below.source)
      assert(Check.dedupErrors(b, wrong, all.get, flagged, docSpec.theta).nonEmpty)
    }
  }

  test("change-feed expectations count inserts, updates and deletes once") {
    val ops = stream(7, 6)
    val initial = (k: Long) => Taxi.dayOf(k) < spec.days && k % Taxi.KeySpan < spec.rowsPerDay
    val (changed, updates) = Check.changedKeys(initial, ops, 0, ops.size)
    val fresh = ops.flatMap(_.fresh).toSet
    val dels = ops.flatMap(_.deletes).toSet
    val touched = ops.flatMap(o => o.upserts.map(_.pk).filterNot(o.stale)).toSet ++ dels
    assert(changed == (touched -- (fresh & dels)).size)
    assert(updates == (touched -- fresh -- dels).size)
  }

  test("printed metric names and workloads are the ones BENCHMARK.json declares") {
    val json = new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def names(k: String) = json.get(k).elements().asScala.map(_.get("name").asText).toSeq
    assert(names("workloads") == Main.Workloads)
    assert(names("end_to_end") == Report.Gated)
    assert(names("per_layer").sorted == Report.LayerUnits.map(_._1).sorted)
    json.get("per_layer").elements().asScala.foreach { m =>
      assert(Report.layerUnit(m.get("name").asText) == m.get("unit").asText)
    }
    // units as the run prints them
    val samples = Seq(Sample(0, "upsert", "write", 1.0, 10, ok = true, 0, 1))
    val printed = Report.gated(Report.endToEnd(samples, 2.0, 1.0, 1.0, 1.0, Seq(0.2))).toMap
    json.get("end_to_end").elements().asScala.foreach { m =>
      assert(printed(m.get("name").asText)._2 == m.get("unit").asText)
    }
  }
}
