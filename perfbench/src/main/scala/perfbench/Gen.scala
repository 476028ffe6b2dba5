package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Seeded inputs in the reference's taxi shape (FIXTURES.md §A).
  *
  * A row version is fully determined by `(seed, pk_col, ver)`: every
  * payload column is a hash of those three, so the generator only has to
  * decide WHICH keys change in which op and with which `update_ts`; the
  * rows themselves are materialized by Spark expressions. The engine sees
  * only the DataFrames [[rows]] returns.
  */
object Taxi {
  /** pk_col = day * KeySpan + j: keys are clustered by pickup day, so a
    * key range is also a day range and footer key ranges are tight */
  val KeySpan = 1000000L
  /** 2024-01-01, the first pickup day */
  val Day0Sec = 1704067200L
  /** `update_ts` of the bulk-inserted version; later ops count up from
    * here, stale updates count down from it */
  val TsBase: Long = Day0Sec + 60L * 86400

  def dayOf(pk: Long): Int = (pk / KeySpan).toInt

  /** the `pickup_day` partition value of day `d` */
  def dayString(d: Int): String =
    java.time.LocalDate.ofEpochDay(Day0Sec / 86400 + d).toString

  /** user columns in table order; pk_col is the record key, update_ts the
    * precombine column and pickup_day the partition column */
  val UserCols: Seq[String] = Seq(
    "vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "ratecodeid", "pulocationid", "dolocationid",
    "payment_type", "trip_distance", "fare_amount", "extra", "mta_tax",
    "tip_amount", "tolls_amount", "improvement_surcharge", "total_amount",
    "congestion_surcharge", "store_and_fwd_flag", "pk_col", "update_ts",
    "pickup_day")

  val EventSchema: StructType = StructType(Seq(
    StructField("pk_col", LongType, nullable = false),
    StructField("ver", LongType, nullable = false),
    StructField("ts", LongType, nullable = false)))

  /** one row version per event `(pk_col, ver, ts)` */
  def rows(seed: Long, events: DataFrame): DataFrame = {
    def u(i: Int, m: Long): Column =
      pmod(xxhash64(lit(seed), col("pk_col"), col("ver"), lit(i)), lit(m))
    def cents(i: Int, m: Long): Column = u(i, m).cast("double") / 100.0
    val day = (col("pk_col") / lit(KeySpan)).cast("long")
    val pickup = lit(Day0Sec) + day * 86400L + u(1, 86400)
    val fare = cents(9, 10000)
    val extra = u(10, 4).cast("double") * 0.5
    val tip = cents(11, 2000)
    val tolls = when(u(12, 10) === 0, lit(6.55)).otherwise(lit(0.0))
    events.select(
      (u(0, 3) + 1).cast("int").as("vendorid"),
      timestamp_seconds(pickup).as("tpep_pickup_datetime"),
      timestamp_seconds(pickup + u(2, 3600) + 60).as("tpep_dropoff_datetime"),
      (u(3, 6) + 1).cast("int").as("passenger_count"),
      (u(4, 6) + 1).cast("int").as("ratecodeid"),
      (u(5, 265) + 1).cast("int").as("pulocationid"),
      (u(6, 265) + 1).cast("int").as("dolocationid"),
      (u(7, 4) + 1).cast("int").as("payment_type"),
      cents(8, 3000).as("trip_distance"),
      fare.as("fare_amount"),
      extra.as("extra"),
      lit(0.5).as("mta_tax"),
      tip.as("tip_amount"),
      tolls.as("tolls_amount"),
      lit(0.3).as("improvement_surcharge"),
      (fare + extra + lit(0.5) + tip + tolls + lit(0.3)).as("total_amount"),
      when(u(13, 2) === 0, lit(2.5)).otherwise(lit(0.0)).as("congestion_surcharge"),
      when(u(14, 20) === 0, lit("Y")).otherwise(lit("N")).as("store_and_fwd_flag"),
      col("pk_col"),
      timestamp_seconds(col("ts")).as("update_ts"),
      date_format(timestamp_seconds(lit(Day0Sec) + day * 86400L), "yyyy-MM-dd")
        .as("pickup_day"))
  }

  def events(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        evs.map(e => org.apache.spark.sql.Row(e.pk, e.ver, e.ts)), 1),
      EventSchema)

  /** keys alone, as a `pk_col` frame (lookup probes, reference deletes) */
  def keys(spark: SparkSession, ks: Seq[Long]): DataFrame =
    events(spark, ks.map(Ev(_, 0L, 0L))).select("pk_col")

  /** keys with the partition column a keyed delete takes */
  def deleteKeys(spark: SparkSession, seed: Long, ks: Seq[Long]): DataFrame =
    rows(seed, events(spark, ks.map(Ev(_, 0L, 0L)))).select("pk_col", "pickup_day")

  /** the bulk-inserted version of every initial key */
  def initialEvents(spark: SparkSession, days: Int, rowsPerDay: Int): DataFrame =
    spark.range(days.toLong * rowsPerDay).select(
      ((col("id") / rowsPerDay).cast("long") * KeySpan + pmod(col("id"), lit(rowsPerDay.toLong)))
        .as("pk_col"),
      lit(0L).as("ver"), lit(TsBase).as("ts"))
}

/** one row-version event: key, version number, precombine seconds */
final case class Ev(pk: Long, ver: Long, ts: Long)

/** one generated write op: upserted versions (some of them stale) or
  * deleted keys */
final case class WriteOp(upserts: Seq[Ev], deletes: Seq[Long],
    stale: Set[Long], late: Set[Long], fresh: Set[Long]) {
  def isDelete: Boolean = deletes.nonEmpty
  def rowsIn: Int = upserts.size + deletes.size
  def days: Set[Int] = (upserts.map(_.pk) ++ deletes).map(Taxi.dayOf).toSet
}

/** Shape of a taxi write stream. Shares are of the upsert batch's rows. */
final case class StreamSpec(
    days: Int, rowsPerDay: Int, batchRows: Int,
    newShare: Double, lateShare: Double, staleShare: Double,
    /** distinct older days a batch's late updates are spread over (at
      * most `days - hotDays`, which is every older day) */
    lateDays: Int,
    /** one op in every `deleteEvery` (the middle one) deletes `deleteRows`
      * keys; 0 = never */
    deleteEvery: Int, deleteRows: Int,
    /** days at the head of the timeline that take the hot updates */
    hotDays: Int = 3)

/** Seeded write-op stream over a live key pool. Keys the stream deletes
  * are never upserted again and precombine values never tie, so the
  * latest-wins replay in [[Check]] is the whole reference semantics. */
final class TaxiStream(seed: Long, spec: StreamSpec) {
  import spec._
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  /** live keys per day (the pool updates and deletes draw from) */
  private val live: Array[mutable.ArrayBuffer[Long]] = Array.tabulate(days) { d =>
    mutable.ArrayBuffer.tabulate(rowsPerDay)(j => d * Taxi.KeySpan + j)
  }
  private var nextNew = rowsPerDay.toLong
  private var op = 0
  private val newest = days - 1

  private def pick(d: Int): Long = live(d)(rnd.nextInt(live(d).size))
  private def hotDay(): Int = newest - rnd.nextInt(hotDays)

  def next(): WriteOp = {
    val i = op; op += 1
    val ts = Taxi.TsBase + 60L * (i + 1)
    if (deleteEvery > 0 && i % deleteEvery == deleteEvery / 2) {
      val ks = mutable.LinkedHashSet.empty[Long]
      while (ks.size < deleteRows) ks += pick(hotDay())
      ks.foreach(k => live(Taxi.dayOf(k)) -= k)
      WriteOp(Seq.empty, ks.toSeq, Set.empty, Set.empty, Set.empty)
    } else {
      val nNew = (batchRows * newShare).round.toInt
      val nLate = (batchRows * lateShare).round.toInt
      val nStale = (batchRows * staleShare).round.toInt
      val nHot = batchRows - nNew - nLate - nStale
      val used = mutable.HashSet.empty[Long]
      def draw(n: Int, day: () => Int): Seq[Long] = {
        val out = mutable.ArrayBuffer.empty[Long]
        while (out.size < n) { val k = pick(day()); if (used.add(k)) out += k }
        out.toSeq
      }
      val fresh = Seq.fill(nNew) { val k = newest * Taxi.KeySpan + nextNew; nextNew += 1; k }
      fresh.foreach(k => { live(newest) += k; used += k })
      val hot = draw(nHot, () => hotDay())
      val lateDaySet = shuffled(0 until days - hotDays).take(lateDays)
      val late = draw(nLate, () => lateDaySet(rnd.nextInt(lateDaySet.size)))
      val stale = draw(nStale, () => hotDay())
      val ver = i + 1L
      val evs = (fresh ++ hot ++ late).map(Ev(_, ver, ts)) ++
        // older than every version the key can have: it must lose
        stale.map(k => Ev(k, ver, Taxi.TsBase - 1 - rnd.nextInt(86400)))
      WriteOp(shuffled(evs), Seq.empty, stale.toSet, late.toSet, fresh.toSet)
    }
  }

  /** Fisher-Yates with the stream's generator: batch rows arrive mixed */
  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (j <- a.indices.reverse if j > 0) {
      val k = rnd.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t
    }
    a.toSeq
  }
}

/** Shape of the seeded document corpus the dedup ingest op feeds. */
final case class DocSpec(
    /** Zipf vocabulary: word rank r has weight 1 / r^zipfS */
    vocab: Int, zipfS: Double,
    /** tokens per document: minLen plus an exponential tail of mean
      * meanExtra, capped at maxLen */
    minLen: Int, meanExtra: Int, maxLen: Int,
    batchDocs: Int,
    /** share of documents that are planted near-duplicates, the share of
      * those planted from a batch-mate (the rest from an earlier batch),
      * and the share of those edited to stay at or above theta */
    plantedShare: Double, mateShare: Double, aboveShare: Double,
    theta: Double)

/** One generated document. A planted near-duplicate names its source
  * and their exact shingle Jaccard. */
final case class Doc(id: Long, text: String, source: Option[Long], jaccard: Double) {
  def plantedAbove(theta: Double): Boolean = source.nonEmpty && jaccard >= theta
}

/** Word-trigram shingles and their exact Jaccard, as the benchmark's own
  * reference: lower-cased text split on whitespace, distinct trigrams. */
object Shingles {
  def of(text: String): Set[String] = {
    val tk = text.trim.toLowerCase.split("\\s+")
    if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
  }

  /** (intersection, union) sizes */
  def overlap(a: Set[String], b: Set[String]): (Int, Int) = {
    val i = (a & b).size; (i, a.size + b.size - i)
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val (i, u) = overlap(a, b); if (u == 0) 0.0 else i.toDouble / u
  }

  /** J ≥ theta in the integer form `inter >= union * theta` */
  def atLeast(a: Set[String], b: Set[String], theta: Double): Boolean = {
    val (i, u) = overlap(a, b); u > 0 && i >= u * theta
  }
}

/** Seeded document batches: a Zipf vocabulary with a long tail, varied
  * lengths, and planted near-duplicates of earlier documents and of
  * batch-mates. A near-duplicate replaces scattered tokens of its source;
  * the number replaced is chosen so its exact shingle Jaccard lands in
  * [[DocStream.Above]] or [[DocStream.Below]] of theta. Sources are
  * always original documents. */
final class DocStream(seed: Long, spec: DocSpec) {
  import spec._
  private val rnd = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 0xD0C)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail; val total = c.last
    c.map(_ / total)
  }
  private val originals = mutable.ArrayBuffer.empty[Doc]
  private var nextId = 1L

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    "w" + Integer.toString(if (i >= 0) i else math.min(-i - 1, vocab - 1), 36)
  }

  private def length(): Int =
    math.min(maxLen, minLen + (-meanExtra * math.log(1.0 - rnd.nextDouble())).toInt)

  /** `src` with tokens replaced until the shingle Jaccard lies in `band`
    * (after a bounded search the last edit is kept; its Jaccard is what
    * the document reports) */
  private def nearDup(src: Doc, band: (Double, Double)): (String, Double) = {
    val tk = src.text.split(' ')
    val srcSh = Shingles.of(src.text)
    val target = band._1 + rnd.nextDouble() * (band._2 - band._1)
    // replacing one token breaks up to three trigrams
    var k = math.max(1, (srcSh.size * (1 - target) / (1 + target) / 3).round.toInt)
    var best = ("", -1.0)
    var tries = 0
    while (tries < 24 && !(best._2 >= band._1 && best._2 <= band._2)) {
      val out = tk.clone()
      var n = 0
      while (n < k) { out(rnd.nextInt(out.length)) = word(); n += 1 }
      val text = out.mkString(" ")
      val j = Shingles.jaccard(srcSh, Shingles.of(text))
      best = (text, j)
      if (j > band._2) k += math.max(1, k / 4)
      else if (j < band._1) k = math.max(1, k - math.max(1, k / 4))
      tries += 1
    }
    best
  }

  def next(): Seq[Doc] = {
    val batch = mutable.ArrayBuffer.empty[Doc]
    val mates = mutable.ArrayBuffer.empty[Doc]
    while (batch.size < batchDocs) {
      val id = nextId; nextId += 1
      val mate = rnd.nextDouble() < mateShare
      val pool = if (mate) mates else originals
      val doc =
        if (pool.nonEmpty && rnd.nextDouble() < plantedShare) {
          val src = pool(rnd.nextInt(pool.size))
          val band = if (rnd.nextDouble() < aboveShare) DocStream.Above else DocStream.Below
          val (text, j) = nearDup(src, band)
          Doc(id, text, Some(src.id), j)
        } else {
          val d = Doc(id, Seq.fill(length())(word()).mkString(" "), None, 0.0)
          mates += d; d
        }
      batch += doc
    }
    originals ++= mates
    batch.toSeq
  }
}

object DocStream {
  /** Jaccard bands of the planted near-duplicates, for theta = 0.5 */
  val Above: (Double, Double) = (0.6, 0.95)
  val Below: (Double, Double) = (0.2, 0.4)

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => org.apache.spark.sql.Row(d.id, d.text)), 1),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", org.apache.spark.sql.types.StringType, nullable = false))))
}
