package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference the benchmark checks the engine against, in plain
  * Spark over the generator's events: no engine code runs here. */
object Check {

  /** order-independent content digest: row count plus the exact sum of a
    * 64-bit hash over every given column (decimal, so it cannot wrap) */
  def digestCols(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  final case class Digest(n: Long, h: java.math.BigDecimal)

  def digest(df: DataFrame, cols: Seq[String] = Taxi.UserCols): Digest = {
    val d = digestCols(cols)
    toDigest(df.agg(d.head, d.tail: _*).first())
  }

  def toDigest(r: Row): Digest = Digest(r.getLong(0), r.getDecimal(1))

  /** the same digest over the user columns as SQL text, so SQL reads
    * compute it in the engine */
  val DigestSql: String =
    "count(1) AS n, coalesce(sum(cast(xxhash64(" + Taxi.UserCols.mkString(", ") +
      ") AS decimal(38,0))), cast(0 AS decimal(38,0))) AS h"

  /** Latest-wins replay of an event history: each key keeps its version
    * with the greatest precombine value, keys deleted anywhere in the
    * history are gone (the generator never re-inserts a deleted key). */
  def replayEvents(spark: SparkSession, initial: DataFrame, ops: Seq[WriteOp]): DataFrame = {
    val dels = Taxi.keys(spark, ops.flatMap(_.deletes))
    allEvents(spark, initial, ops).groupBy("pk_col")
      .agg(max_by(struct(col("ver"), col("ts")), col("ts")).as("w"))
      .select(col("pk_col"), col("w.ver").as("ver"), col("w.ts").as("ts"))
      .join(dels, Seq("pk_col"), "left_anti")
  }

  /** every upserted version of the history, the initial ones included */
  def allEvents(spark: SparkSession, initial: DataFrame, ops: Seq[WriteOp]): DataFrame =
    initial.select("pk_col", "ver", "ts")
      .unionByName(Taxi.events(spark, ops.flatMap(_.upserts)))

  def replay(spark: SparkSession, seed: Long, initial: DataFrame,
      ops: Seq[WriteOp]): DataFrame =
    Taxi.rows(seed, replayEvents(spark, initial, ops))

  /** Keys whose visible state differs between the histories `ops(0 until
    * from)` and `ops(0 until to)`: changed rows a change feed over that
    * window must report (a stale upsert changes nothing). Also returns
    * how many of them are updates, which a pre-image feed reports twice. */
  def changedKeys(initialKeys: Long => Boolean, ops: Seq[WriteOp],
      from: Int, to: Int): (Int, Int) = {
    def existsAfter(n: Int, k: Long): Boolean = {
      val born = initialKeys(k) || ops.take(n).exists(_.fresh.contains(k))
      born && !ops.take(n).exists(_.deletes.contains(k))
    }
    val window = ops.slice(from, to)
    val touched = window.flatMap(o =>
      o.upserts.map(_.pk).filterNot(o.stale.contains) ++ o.deletes).distinct
    var changed = 0; var updates = 0
    touched.foreach { k =>
      val before = existsAfter(from, k); val after = existsAfter(to, k)
      if (before || after) changed += 1
      if (before && after) updates += 1
    }
    (changed, updates)
  }

  /** What is wrong with one dedup ingest's verdicts (document → the
    * smaller-id partner it duplicates, or None): every batch document
    * needs a verdict, and every flagged pair needs exact shingle Jaccard
    * at least theta with a partner that is a batch-mate or an earlier
    * document the index kept (flagged documents are not indexed). */
  def dedupErrors(batch: Seq[Doc], verdicts: Map[Long, Option[Long]],
      shingles: Long => Option[Set[String]], flaggedBefore: Long => Boolean,
      theta: Double): Seq[String] = {
    val ids = batch.map(_.id).toSet
    val missing =
      if (verdicts.keySet == ids) Nil
      else Seq(s"verdicts for ${verdicts.size} documents, the batch had ${ids.size}")
    missing ++ verdicts.toSeq.sortBy(_._1).collect { case (d, Some(p)) =>
      (shingles(d), shingles(p)) match {
        case (Some(a), Some(b)) if p < d && (ids(p) || !flaggedBefore(p)) &&
            Shingles.atLeast(a, b, theta) => None
        case (Some(a), Some(b)) =>
          Some(f"doc $d flagged as a duplicate of $p (shingle Jaccard ${Shingles.jaccard(a, b)}%.4f)")
        case _ => Some(s"doc $d flagged as a duplicate of unknown document $p")
      }
    }.flatten
  }
}
