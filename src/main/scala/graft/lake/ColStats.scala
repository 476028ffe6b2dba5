package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level column statistics for the cost-based optimizer — the
  * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` role, persisted at
  * `<root>/_log/_colstats.json` and served to Spark through the DSv2
  * scan's `columnStats()` ([[graft.sql.GraftBatchScan]]), where
  * Catalyst's `CostBasedJoinReorder`/`JoinEstimation` consume NDV and
  * null counts to pick join orders.
  *
  * Collection is ONE distributed aggregation pass over the snapshot
  * (`approx_count_distinct` + null count + min/max + length moments per
  * column, all map-side combinable) — O(scan) once, on demand, exactly
  * like engines' ANALYZE. Stats are ESTIMATES pinned to the commit they
  * were computed at: reads at a later commit still serve them (CBO
  * tolerates staleness by design; the row COUNT the planner mixes them
  * with stays commit-log-exact per scan). Re-run after large mutations,
  * or wire `CALL graft.system.analyze` into the maintenance policy.
  *
  * At 100 TB: the pass is a single shuffle-free scan with a tiny
  * all-to-one partial-agg merge (HLL registers + scalars per column);
  * the artifact is O(columns), not O(data), so serving it at plan time
  * is one small JSON read.
  */
/** one equi-height histogram bucket: value range + distinct count */
final case class HistBin(lo: Double, hi: Double, ndv: Long)

final case class ColStat(
    ndv: Long,
    nulls: Long,
    /** rendered min/max (numeric/temporal columns only — strings don't
      * drive range estimation); null = unavailable */
    min: String = null,
    max: String = null,
    /** average/max byte length (string/binary columns; fixed-width
      * types report their type size) */
    avgLen: Long = 0L,
    maxLen: Long = 0L,
    /** equi-height histogram over NUMERIC columns (null = none):
      * percentile boundaries + per-bin NDVs, the skew-aware selectivity
      * input range interpolation cannot provide. Served through the
      * DSv2 `ColumnStatistics.histogram` surface, which Catalyst's
      * FilterEstimation consumes directly. */
    hist: Seq[HistBin] = null,
    /** frequent items over CATEGORICAL STRING columns (null = none):
      * exact top-K value counts, collected only when the column's NDV
      * is small enough that the group-by collapses map-side
      * ([[ColStats.FreqNdvCap]]). Catalyst's numeric histograms can't
      * carry string skew, so these serve the SCAN-level row estimate
      * for pushed string equality/IN ([[graft.sql.GraftBatchScan]]) —
      * `status = 'FAILED'` at 0.1% estimates ~truthfully instead of
      * NDV-uniform. */
    freq: Map[String, Long] = null)

final case class ColStatsFile(
    /** commit the pass ran at — staleness is visible, not hidden */
    commit: Long,
    rows: Long,
    cols: Map[String, ColStat])

object ColStats {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)

  def file(root: String) = new Path(root, "_log/_colstats.json")

  def save(root: String, s: ColStatsFile, hconf: Configuration): Unit = {
    val p = file(root)
    val fs = LocalFs.of(p, hconf)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(s)) finally out.close()
  }

  def load(root: String, hconf: Configuration): Option[ColStatsFile] = {
    val p = file(root)
    val fs = LocalFs.of(p, hconf)
    if (!fs.exists(p)) None
    else {
      val in: java.io.InputStream = fs.open(p)
      val raw = try mapper.readValue(in, classOf[ColStatsFile])
      finally in.close()
      // Jackson erases Map[String, Long] values to Integer on read-back;
      // re-materialize real longs ONCE here so every consumer sees the
      // declared type instead of carrying an erased-map workaround
      Some(raw.copy(cols = raw.cols.map { case (n, st) =>
        n -> (if (st.freq == null) st
        else st.copy(freq = st.freq.asInstanceOf[Map[String, Any]].map {
          case (k, v: Number) => k -> v.longValue
          case (k, v) => k -> v.toString.toLong
        }))
      }))
    }
  }

  /** which columns get range stats served to the planner (catalyst
    * internal forms are plain JVM numerics for these — strings would
    * need UTF8String and don't drive range estimation anyway) */
  private[graft] def rangeType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => false // rendered decimals don't round-trip exactly
    case _ => false
  }

  /** columns that get an equi-height histogram (numeric only: the
    * boundaries ride `percentile_approx` over a double cast, which
    * dates/timestamps don't ANSI-cast to; their range stats are already
    * zone-exact) */
  private[graft] def histType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType => true
    case _ => false
  }

  /** equi-height bucket count — Spark's own default is 254; 32 keeps the
    * per-bin-NDV pass (numericCols x bins conditional sketches in one
    * aggregation) cheap while still resolving heavy skew */
  private[graft] val HistBins = 32

  /** frequent-items knobs: top-K values kept per CATEGORICAL string
    * column; only columns whose pass-1 NDV is at or under the cap get
    * the pass at all — a low-NDV group-by collapses map-side (each task
    * emits ≤ NDV groups per column), so the extra pass stays one
    * bounded shuffle at 100 TB, while high-cardinality strings (ids,
    * bodies) are skipped: their NDV-uniform estimate is already honest
    * and an exact top-K over them would shuffle the table. Values
    * longer than FreqMaxLen are skipped (predicates on multi-KB text
    * equality aren't selectivity-driven). */
  private[graft] val FreqK = 32
  private[graft] val FreqNdvCap = 10000L
  private[graft] val FreqMaxLen = 256

  /** run the analyze over `table`'s current snapshot and persist the
    * artifact; returns the analyzed commit id (None on an empty table —
    * nothing to serve). Two aggregation passes: the base pass (NDV /
    * nulls / ranges / lengths, plus histogram BOUNDARIES via
    * percentile_approx — all map-side combinable), then one more for
    * per-bin NDVs (conditional approx_count_distinct per bucket), the
    * same two-job shape as Spark's own histogram ANALYZE. */
  def analyze(table: LakeTable, columns: Seq[String] = Seq.empty): Option[Long] = {
    val head = table.log.latestId.getOrElse(return None)
    val snap = table.read()
    val schema = snap.schema
    val want =
      if (columns.nonEmpty) columns
      else schema.fields.collect {
        // top-level, non-nested, non-engine columns
        case f if !f.name.startsWith("_") && (f.dataType match {
          case _: StructType | _: ArrayType | _: MapType => false
          case _ => true
        }) => f.name
      }.toSeq
    val fields = want.flatMap(c => schema.fields.find(_.name == c))
    if (fields.isEmpty) return None

    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        approx_count_distinct(c).as(s"ndv__${f.name}"),
        count(c).as(s"nn__${f.name}"))
      val range =
        if (rangeType(f.dataType)) {
          // TIMESTAMP (zoned) renders via epoch micros, not cast-to-string:
          // the string form is session-timezone-dependent and the planner
          // parse-back would skew bounds by the zone offset on non-UTC
          // sessions. NTZ/date strings are zone-free already.
          def rendered(e: org.apache.spark.sql.Column) = f.dataType match {
            case TimestampType => unix_micros(e).cast(StringType)
            case _ => e.cast(StringType)
          }
          Seq(rendered(min(c)).as(s"min__${f.name}"),
            rendered(max(c)).as(s"max__${f.name}"))
        } else Seq.empty
      val len = f.dataType match {
        case StringType | BinaryType => Seq(
          avg(octet_length(c.cast(StringType))).as(s"avg__${f.name}"),
          max(octet_length(c.cast(StringType))).as(s"maxl__${f.name}"))
        case _ => Seq.empty
      }
      val pct =
        if (histType(f.dataType))
          Seq(percentile_approx(c.cast(DoubleType),
            array((0 to HistBins).map(i => lit(i.toDouble / HistBins)): _*),
            lit(10000)).as(s"pct__${f.name}"))
        else Seq.empty
      base ++ range ++ len ++ pct
    } :+ count(lit(1)).as("rows__")
    val row = snap.agg(aggs.head, aggs.tail: _*).collect().head
    val rows = row.getAs[Long]("rows__")

    // pass 2: per-bin NDVs for every histogram column in ONE aggregation
    // (bins x columns conditional sketches); columns with no non-null
    // values produced null boundaries and are skipped
    val histCols = fields.filter(f => histType(f.dataType)).flatMap { f =>
      val i = row.fieldIndex(s"pct__${f.name}")
      if (row.isNullAt(i)) None
      else Some(f -> row.getSeq[Double](i))
    }
    val binNdvs: Map[String, Seq[Long]] =
      if (histCols.isEmpty) Map.empty
      else {
        val binAggs = histCols.flatMap { case (f, b) =>
          val c = col(f.name).cast(DoubleType)
          (0 until HistBins).map { i =>
            val cond =
              if (i == 0) c >= b(0) && c <= b(1)
              else c > b(i) && c <= b(i + 1)
            approx_count_distinct(when(cond, c)).as(s"bnd__${f.name}__$i")
          }
        }
        val r2 = snap.agg(binAggs.head, binAggs.tail: _*).collect().head
        histCols.map { case (f, _) =>
          f.name -> (0 until HistBins)
            .map(i => r2.getAs[Long](s"bnd__${f.name}__$i"))
        }.toMap
      }
    // pass 3 (categorical strings only): exact top-K value counts in ONE
    // group-by over (column-index, value) pairs — map-side combinable
    // because eligibility is NDV-capped, then a per-column top-K window
    // over at most NDV x columns counted groups
    val freqFields = fields.filter(f => f.dataType == StringType &&
      row.getAs[Long](s"ndv__${f.name}") <= FreqNdvCap)
    val freqOf: Map[String, Map[String, Long]] =
      if (freqFields.isEmpty) Map.empty
      else {
        val pairs = snap.select(posexplode(
          array(freqFields.map(f => col(f.name)): _*)).as(Seq("cidx", "v")))
          .filter(col("v").isNotNull && length(col("v")) <= FreqMaxLen)
        val counted = pairs.groupBy("cidx", "v").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cidx").orderBy(col("n").desc, col("v"))
        val top = counted.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= FreqK)
          .select("cidx", "v", "n").collect()
        top.groupBy(_.getInt(0)).map { case (i, rs) =>
          freqFields(i).name -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap
        }
      }

    val histOf: Map[String, Seq[HistBin]] = histCols.map { case (f, b) =>
      val ndvs = binNdvs(f.name)
      f.name -> (0 until HistBins).map(i =>
        // empty duplicate-boundary buckets (constant columns) floor to
        // ndv 1 — estimation divides by bin NDV and must never see 0
        HistBin(b(i), b(i + 1), math.max(ndvs(i), 1L)))
    }.toMap

    val cols = fields.map { f =>
      def opt[T](n: String): Option[T] =
        if (row.schema.fieldNames.contains(n) && !row.isNullAt(row.fieldIndex(n)))
          Some(row.getAs[T](n)) else None
      val fixed = f.dataType.defaultSize.toLong
      f.name -> ColStat(
        ndv = row.getAs[Long](s"ndv__${f.name}"),
        nulls = rows - row.getAs[Long](s"nn__${f.name}"),
        min = opt[String](s"min__${f.name}").orNull,
        max = opt[String](s"max__${f.name}").orNull,
        avgLen = f.dataType match {
          case StringType | BinaryType =>
            opt[java.lang.Double](s"avg__${f.name}").map(d => math.ceil(d.doubleValue).toLong).getOrElse(0L)
          case _ => fixed
        },
        maxLen = f.dataType match {
          case StringType | BinaryType =>
            opt[Any](s"maxl__${f.name}").map(v => v.toString.toLong).getOrElse(0L)
          case _ => fixed
        },
        hist = histOf.get(f.name).orNull,
        freq = freqOf.get(f.name).orNull)
    }.toMap
    ColStats.save(table.config.root, ColStatsFile(head, rows, cols),
      table.spark.sparkContext.hadoopConfiguration)
    Some(head)
  }

  /** Estimated row count for `col = value` from the column's
    * frequent-items stats: EXACT for a kept top-K value; otherwise the
    * residual mass (rows − nulls − Σ kept counts) spread uniformly over
    * the unkept distinct values — the honest uniform assumption applied
    * only AFTER the skew is peeled off. None when the column carries no
    * frequent-items pass (high-cardinality or pre-upgrade artifact). */
  private[graft] def equalityEstimate(st: ColStat, rows: Long,
      value: String): Option[Double] =
    Option(st.freq).map { fr =>
      fr.get(value) match {
        case Some(n) => n.toDouble
        case None =>
          val kept = fr.values.sum
          val restNdv = math.max(st.ndv - fr.size, 1L)
          math.max((rows - st.nulls - kept).toDouble, 0.0) / restNdv
      }
    }

  /** parse a rendered range value back to its CATALYST-internal form
    * for the planner (dates/timestamps are epoch-scaled integers in
    * catalyst; `cast(StringType)` rendered them as text, so re-parse
    * through the type) */
  private[graft] def catalystValue(s: String, dt: DataType): Option[Any] = {
    if (s == null) return None
    scala.util.Try(dt match {
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case DateType =>
        java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType | TimestampNTZType =>
        // new artifacts carry zoned timestamps as epoch micros (all
        // digits); NTZ and pre-upgrade artifacts carry a wall-clock
        // string, whose UTC interpretation is exact for NTZ (catalyst
        // NTZ micros ARE the wall clock) and best-effort for legacy
        if (s.matches("-?\\d+")) s.toLong
        else {
          val norm = s.replace(' ', 'T')
          val ldt = java.time.LocalDateTime.parse(norm)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L
        }
      case _ => return None
    }).toOption
  }
}
