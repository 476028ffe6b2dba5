package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, LakeTableConfig, TableDescriptor}
import graft.ops.MinHashDedupIndex

/** What the taxi workloads share: the table shape, the write op, and the
  * reference replay of the ops a table has taken. */
abstract class TaxiWorkload(spark: SparkSession, a: Main.Args, tr: Tracer)
    extends Workload {
  def spec: StreamSpec
  val seed: Long = a.seed

  def config(root: String, mor: Boolean, compactEvery: Int = 0): LakeTableConfig =
    LakeTableConfig(root, keyCols = Seq("pk_col"), precombineCol = "update_ts",
      partitionCols = Seq("pickup_day"), storageType = if (mor) "mor" else "cow",
      compactEvery = compactEvery, statsCols = Seq("pk_col"))

  def initialEvents: DataFrame = Taxi.initialEvents(spark, spec.days, spec.rowsPerDay)
  def isInitialKey(k: Long): Boolean =
    Taxi.dayOf(k) < spec.days && k % Taxi.KeySpan < spec.rowsPerDay

  /** a table in the catalog's warehouse, so SQL reaches it as
    * `g.db.<name>`, bulk-loaded with the initial rows */
  def create(name: String, mor: Boolean, compactEvery: Int = 0): LakeTable = {
    val root = s"${a.work}/wh/db/$name"
    val t = LakeTable(spark, config(root, mor, compactEvery))
    TableDescriptor.save(root, TableDescriptor.fromConfig(t.config),
      spark.sparkContext.hadoopConfiguration)
    t.bulkInsert(Taxi.rows(seed, initialEvents))
    t
  }

  /** end-of-run checks against the reference: the final snapshot, and
    * a mid-timeline `readAsOf` unless the loop checked one */
  def endChecks(t: LakeTable, finalWant: Check.Digest,
      mid: Option[(Long, Check.Digest)]): Seq[String] = {
    val api = Check.digest(user(tr.span("laketable.read_build")(t.read())))
    compare("final snapshot", api, finalWant).toSeq ++ mid.toSeq.flatMap { case (c, want) =>
      val got = Check.digest(user(tr.span("laketable.read_build")(t.readAsOf(c))))
      compare(s"readAsOf($c)", got, want)
    }
  }

  /** the engine's input for one write op */
  def batchOf(op: WriteOp): DataFrame =
    if (op.isDelete) Taxi.deleteKeys(spark, seed, op.deletes)
    else Taxi.rows(seed, Taxi.events(spark, op.upserts))

  def write(t: LakeTable, op: WriteOp): OpOut = {
    val b = batchOf(op)
    val id = tr.span("laketable.write")(if (op.isDelete) t.delete(b) else t.upsert(b))
    OpOut(commit = Some((t, id)), batch = Some(b))
  }

  def writeOp(t: LakeTable, op: WriteOp, after: Long => Unit = _ => ()): Op =
    Op(if (op.isDelete) "delete" else "upsert", "write", op.rowsIn,
      () => { val o = write(t, op); after(o.commit.get._2); o })

  def reference(ops: Seq[WriteOp]): DataFrame = Check.replay(spark, seed, initialEvents, ops)

  private val refs = mutable.Map.empty[Int, DataFrame]
  /** the reference snapshot after the first `n` of `ops`, computed once
    * and kept in memory: several checks compare with it */
  def referenceAt(ops: Seq[WriteOp], n: Int): DataFrame =
    refs.getOrElseUpdate(n, reference(ops.take(n)).persist())

  def user(df: DataFrame): DataFrame = df.select(Taxi.UserCols.map(col): _*)

  /** write ops of the set-up, so the timed writes meet a warm JIT */
  val Warmups = 3

  /** generated-input properties of the first `n` ops of this seed's stream */
  def streamProperties(n: Int): Seq[(String, Any)] = {
    val ops = { val s = new TaxiStream(seed, spec); Seq.fill(n)(s.next()) }
    val ups = ops.filterNot(_.isDelete); val dels = ops.filter(_.isDelete)
    val rows = ups.map(_.upserts.size).sum.toDouble
    def share(f: WriteOp => Int) = f"${ups.map(f).sum / rows}%.4f"
    Seq(
      "table_rows" -> spec.days * spec.rowsPerDay,
      "partitions" -> spec.days,
      "rows_per_batch" -> spec.batchRows,
      "new_key_share" -> share(_.fresh.size),
      "late_arrival_share" -> share(_.late.size),
      "stale_share" -> share(_.stale.size),
      "partitions_touched_per_batch" -> f"${ups.map(_.days.size).sum.toDouble / ups.size}%.2f",
      "delete_every" -> spec.deleteEvery,
      "deleted_keys_per_delete" -> (if (dels.isEmpty) 0 else dels.map(_.deletes.size).sum / dels.size))
  }

  def compare(what: String, got: Check.Digest, want: Check.Digest): Option[String] =
    if (got == want) None else Some(s"$what: engine $got, reference $want")
}

/** CoW upserts in the reference's own flow: hot recent days, late
  * arrivals to older days, stale updates that must lose, periodic
  * deletes. Reads are absent from the loop. */
final class CowUpsert(spark: SparkSession, a: Main.Args, tr: Tracer)
    extends TaxiWorkload(spark, a, tr) {
  val spec: StreamSpec = StreamSpec(days = 30, rowsPerDay = 1667, batchRows = 500,
    newShare = 0.2, lateShare = 0.04, staleShare = 0.05, lateDays = 27,
    deleteEvery = 8, deleteRows = 50)
  private var t: LakeTable = _
  private val stream = new TaxiStream(seed, spec)
  private val applied = mutable.ArrayBuffer.empty[WriteOp]
  private val commitAfter = mutable.Map.empty[Int, Long]
  /** seven upserts and one delete */
  def cycle: Int = spec.deleteEvery

  def setup(): Unit = {
    t = create("cow", mor = false)
    (1 to Warmups).foreach(_ => nextOp().run()) // warm-up: the stream's first ops
  }

  def nextOp(): Op = {
    val op = stream.next(); applied += op
    val n = applied.size
    writeOp(t, op, id => commitAfter(n) = id)
  }

  def verifyEnd(): Seq[String] = {
    val mid = (applied.size + 1) / 2
    endChecks(t, Check.digest(referenceAt(applied.toSeq, applied.size)),
      Some(commitAfter(mid) -> Check.digest(referenceAt(applied.toSeq, mid))))
  }

  def properties: Seq[(String, Any)] = streamProperties(50)
  def tables: Seq[LakeTable] = Seq(t)
  def writes: Int = applied.size
  def expected(n: Int): Seq[DataFrame] = Seq(referenceAt(applied.toSeq, n))
}

/** MoR with inline compaction: cheap delta upserts, snapshot, filtered
  * and time-travel reads, a change-feed consumer, a point lookup and a
  * dedup-index ingest in one fixed op mix. API reads reuse one table
  * handle; SQL reads go through the catalog, which loads a fresh handle
  * per statement, so the commit log resolves cold. */
final class MorTailMixed(spark: SparkSession, a: Main.Args, tr: Tracer)
    extends TaxiWorkload(spark, a, tr) {
  /** upserts only: the writes of a turn differ only in the compaction
    * one of them carries (deletes are measured on cow_upsert) */
  val spec: StreamSpec = StreamSpec(days = 30, rowsPerDay = 1667, batchRows = 500,
    newShare = 0.2, lateShare = 0.04, staleShare = 0.05, lateDays = 27,
    deleteEvery = 0, deleteRows = 0)
  /** delta commits between inline compactions: one compaction per turn */
  val compactEvery = 8
  /** eight writes a turn, so write_p50_s is a median of eight samples of
    * which one carries the compaction; the snapshot reads see one state,
    * so their checks share one reference snapshot */
  val ops: Seq[String] = Seq("write", "write", "changes", "write", "write",
    "api_agg", "api_filter", "sql_lookup", "api_asof", "write", "write",
    "write", "write", "dedup_ingest")
  def cycle: Int = ops.size
  /** keys per point lookup */
  val lookupKeys = 16
  /** days in a filtered read's partition range */
  val filterDays = 3
  val docSpec: DocSpec = DocSpec(vocab = 20000, zipfS = 1.1, minLen = 40, meanExtra = 60,
    maxLen = 400, batchDocs = 40, plantedShare = 0.3, mateShare = 0.4, aboveShare = 0.6,
    theta = 0.5)
  private var t: LakeTable = _
  private val stream = new TaxiStream(seed, spec)
  private val applied = mutable.ArrayBuffer.empty[WriteOp]
  private val commitAfter = mutable.Map.empty[Int, Long]
  private val rnd = new java.util.SplittableRandom(a.seed ^ 0x5DEECE66DL)
  private var i = 0
  private var lastSeen = 0L
  private var seenOps = 0
  private val index = new MinHashDedupIndex(spark, s"${a.work}/dedup", theta = docSpec.theta)
  private val docStream = new DocStream(seed, docSpec)
  /** every generated document by id, with its shingles */
  private val docs = mutable.Map.empty[Long, (Doc, Set[String])]
  /** documents the index flagged so far (flagged documents are not indexed) */
  private val flagged = mutable.Set.empty[Long]
  private var planted = 0
  private var plantedFlagged = 0
  private var ingested = 0
  /** the warm-up ingest's batch and verdicts, checked with the end state */
  private var warmIngest: (Seq[Doc], Map[Long, Option[Long]]) = _

  def setup(): Unit = {
    t = create("mor", mor = true, compactEvery)
    (1 to Warmups).foreach(k => commitAfter(k) = write(t, next()).commit.get._2) // warm-up writes
    lastSeen = t.log.latestId.get; seenOps = applied.size
    // the dedup index, bootstrapped with one batch (the warm-up ingest)
    val warm = docStream.next()
    warmIngest = (warm, ingest(warm))
  }

  private def next(): WriteOp = { val op = stream.next(); applied += op; op }

  /** reference digest of the state after the first `n` ops, filtered */
  private val digests = mutable.Map.empty[(Int, String), Check.Digest]
  private def want(n: Int, filter: Option[Column], key: String): Check.Digest =
    digests.getOrElseUpdate((n, key), {
      val r = referenceAt(applied.toSeq, n)
      Check.digest(filter.fold(r)(r.filter))
    })

  private def read(kind: String, cls: String, n: Int, filter: Option[Column], key: String)(
      body: => DataFrame): Op =
    Op(kind, cls, 0L, () => {
      val df = body
      val got = Check.toDigest(df.collect().head)
      OpOut(check = () => compare(kind, got, want(n, filter, key)),
        df = Some(df), table = Some(t), rowsOut = got.n)
    })

  private def digestOf(df: DataFrame): DataFrame = {
    val d = Check.digestCols(Taxi.UserCols)
    user(df).agg(d.head, d.tail: _*)
  }

  private def sql(text: String): DataFrame = tr.span("sql.statement")(spark.sql(text))

  /** one dedup ingest: the verdicts, and the batch's documents recorded
    * for the check */
  private def ingest(batch: Seq[Doc]): Map[Long, Option[Long]] = {
    batch.foreach(d => docs(d.id) = (d, Shingles.of(d.text)))
    val out = tr.span("dedup.ingest")(index.ingest(DocStream.frame(spark, batch)))
    val verdicts = out.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    out.unpersist()
    flagged ++= verdicts.collect { case (d, Some(_)) => d }
    ingested += batch.size
    verdicts
  }

  /** checks one ingest's verdicts and counts the planted near-duplicates
    * at or above theta that it found */
  private def checkDedup(batch: Seq[Doc], v: Map[Long, Option[Long]]): Option[String] = {
    val above = batch.filter(_.plantedAbove(docSpec.theta))
    planted += above.size
    plantedFlagged += above.count(d => v.get(d.id).flatten.nonEmpty)
    Check.dedupErrors(batch, v, docs.get(_).map(_._2), flagged, docSpec.theta).headOption
  }

  def nextOp(): Op = {
    val kind = ops(i % ops.size)
    i += 1
    val n = applied.size
    kind match {
      case "write" =>
        val op = next(); val k = applied.size
        writeOp(t, op, id => commitAfter(k) = id)
      case "api_agg" =>
        read(kind, "scan", n, None, "")(digestOf(tr.span("laketable.read_build")(t.read())))
      case "api_filter" =>
        // a partition range, and inside it a key range that the footer key
        // stats narrow further
        val d0 = rnd.nextInt(spec.days - filterDays + 1)
        val k0 = (d0 + 1) * Taxi.KeySpan + rnd.nextInt(spec.rowsPerDay / 2)
        val k1 = k0 + Taxi.KeySpan / 2
        val pred = col("pickup_day").between(Taxi.dayString(d0), Taxi.dayString(d0 + filterDays - 1)) &&
          col("pk_col").between(k0, k1)
        read(kind, "scan", n, Some(pred), s"filter $d0 $k0")(
          digestOf(tr.span("laketable.read_build")(t.read(pred))))
      case "api_asof" =>
        val mid = (n + 1) / 2
        read(kind, "scan", mid, None, "")(
          digestOf(tr.span("laketable.read_build")(t.readAsOf(commitAfter(mid)))))
      case "sql_lookup" =>
        // initial keys spread over the days, keys the stream inserted, and
        // keys that never existed
        val fresh = applied.flatMap(_.fresh).toIndexedSeq
        val ks = (Seq.fill(lookupKeys - 4)(rnd.nextInt(spec.days) * Taxi.KeySpan +
            rnd.nextInt(spec.rowsPerDay)) ++
          Seq.fill(2)(if (fresh.isEmpty) 0L else fresh(rnd.nextInt(fresh.size))) ++
          Seq.fill(2)((spec.days + 1) * Taxi.KeySpan + rnd.nextInt(1000))).distinct
        read(kind, "lookup", n, Some(col("pk_col").isin(ks: _*)), ks.mkString(","))(
          sql(s"SELECT ${Check.DigestSql} FROM g.db.mor WHERE pk_col IN (${ks.mkString(", ")})"))
      case "changes" =>
        val (from, fromOps, toOps) = (lastSeen, seenOps, n)
        Op(kind, "cdf", 0L, () => {
          val to = t.log.latestId.get
          val base = tr.span("laketable.read_build")(t.changesBetween(from, to))
          val d = Check.digestCols(Taxi.UserCols :+ "_change_type")
          val df = base.agg(d.head, d.tail: _*)
          val got = Check.toDigest(df.collect().head)
          lastSeen = to; seenOps = toOps
          OpOut(check = () => {
            val (changed, _) = Check.changedKeys(isInitialKey, applied.toSeq, fromOps, toOps)
            if (got.n == changed) None
            else Some(s"changesBetween($from, $to) gave ${got.n} rows, generator changed $changed")
          }, df = Some(df), table = Some(t), rowsOut = got.n)
        })
      case "dedup_ingest" =>
        val batch = docStream.next()
        Op(kind, "dedup", batch.size, () => {
          val v = ingest(batch)
          OpOut(check = () => checkDedup(batch, v), index = Some(index))
        })
    }
  }

  def verifyEnd(): Seq[String] = {
    endChecks(t, want(applied.size, None, ""), None) ++
      checkDedup(warmIngest._1, warmIngest._2).map("warm-up dedup ingest: " + _)
  }

  def properties: Seq[(String, Any)] = {
    val ds = { val s = new DocStream(seed, docSpec); Seq.fill(4)(s.next()).flatten }
    val lens = ds.map(_.text.count(_ == ' ') + 1).sorted
    val pl = ds.filter(_.source.nonEmpty)
    val mates = pl.count(d => (d.source.get - 1) / docSpec.batchDocs == (d.id - 1) / docSpec.batchDocs)
    streamProperties(50) ++ Seq(
      "compact_every" -> compactEvery, "op_cycle" -> ops.mkString(","),
      "lookup_keys" -> lookupKeys, "filter_days" -> filterDays,
      "docs_vocabulary" -> docSpec.vocab, "docs_zipf_s" -> docSpec.zipfS,
      "docs_per_batch" -> docSpec.batchDocs,
      "doc_tokens_min_p50_max" -> s"${lens.head},${lens(lens.size / 2)},${lens.last}",
      "docs_planted_share" -> f"${pl.size.toDouble / ds.size}%.4f",
      "docs_planted_of_batch_mates" -> mates,
      "docs_planted_of_earlier" -> (pl.size - mates),
      "docs_theta" -> docSpec.theta,
      "docs_planted_jaccard" -> pl.map(d => f"${d.jaccard}%.3f").mkString(","))
  }
  def tables: Seq[LakeTable] = Seq(t)
  def writes: Int = applied.size
  def expected(n: Int): Seq[DataFrame] = Seq(referenceAt(applied.toSeq, n))

  override def endToEnd: Seq[(String, Double, String)] = Seq(
    ("dedup_recall", if (planted == 0) 0.0 else plantedFlagged.toDouble / planted, "fraction"))
  override def layerFacts: Map[String, Double] = Map(
    "dedup.flagged" -> plantedFlagged.toDouble, "dedup.planted" -> planted.toDouble,
    "dedup.index_bytes_per_doc" ->
      Storage.bytesUnder(s"${a.work}/dedup").toDouble / math.max(1, ingested - flagged.size))
}
