package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, LakeTableConfig}

/** `spark.read.format("graft")` — the lake table as a first-class Spark
  * data source (reference S4/S5 read surface, MockCuratedGlueJob.py:23,
  * without requiring a catalog sync). Built on the STABLE DSv1 sources
  * API and delegating to [[LakeTable]]'s snapshot assembly, so every
  * table capability rides along: MoR read-time merge, commit-log file
  * listing (no filesystem scans), column-stats data skipping via the
  * pushed filters, and time travel.
  *
  * Options:
  *   - `path` (or `load(path)`): table root
  *   - `keyCols`, `precombineCol`, `partitionCols`: comma-separated table
  *     config (must match the writer's; defaults suit read-only use)
  *   - `storageType`: cow|mor (mor enables delta merge on read)
  *   - `hashBuckets`, `globalIndex`, `statsCols`: as in [[LakeTableConfig]]
  *   - `asOf`: commit id for time travel
  */
final class GraftSource extends RelationProvider
  with CreatableRelationProvider with StreamSinkProvider
  with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def tableFor(
      ctx: SQLContext, parameters: Map[String, String]): LakeTable = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))
    def csv(k: String): Option[Seq[String]] =
      parameters.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // a table created through the SQL catalog persists its descriptor
    // with the data — resolve config from the path alone so the DSv2
    // streaming fallback (readStream.table / writeStream.toTable passes
    // only the location) gets the REAL key/precombine/layout instead of
    // read-only defaults; explicit options still override field-wise
    val base = graft.lake.TableDescriptor
      .load(path, ctx.sparkSession.sparkContext.hadoopConfiguration)
      .map(_.config(path))
      .getOrElse(LakeTableConfig(path, Seq("_record_key"), "_commit_id"))
    val cfg = base.copy(
      keyCols = csv("keyCols").getOrElse(base.keyCols),
      precombineCol = parameters.getOrElse("precombineCol", base.precombineCol),
      partitionCols = csv("partitionCols").getOrElse(base.partitionCols),
      globalIndex = parameters.get("globalIndex").map(_.toBoolean)
        .getOrElse(base.globalIndex),
      storageType = parameters.getOrElse("storageType", base.storageType),
      hashBuckets = parameters.get("hashBuckets").map(_.toInt)
        .getOrElse(base.hashBuckets),
      statsCols = csv("statsCols").getOrElse(base.statsCols))
    LakeTable(ctx.sparkSession, cfg)
  }

  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val table = tableFor(ctx, parameters)
    // Delta's batch change-data-feed spelling:
    //   spark.read.format("graft").option("readChangeFeed", "true")
    //     .option("startingVersion", n)[.option("endingVersion", m)]
    //     [.option("preImages", "true")].load(path)
    // startingVersion is INCLUSIVE of that commit's own changes (the
    // Delta contract), so it maps to changesBetween(start-1, end); the
    // end defaults to the current head. Cleaned windows refuse loudly
    // through changesBetween's own horizon guard.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val start = parameters.get("startingVersion").map(_.toLong).getOrElse(
        throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion"))
      val end = parameters.get("endingVersion").map(_.toLong)
        .orElse(table.log.latestId).getOrElse(
          throw new IllegalArgumentException(
            s"readChangeFeed on an empty table: ${table.config.root}"))
      val pre = parameters.get("preImages").exists(_.toBoolean)
      return new GraftChangesRelation(ctx,
        table.changesBetween(start - 1, end, preImages = pre))
    }
    val asOf = parameters.get("asOf").map(_.toLong)
    new GraftRelation(ctx, table, asOf)
  }

  /** `df.write.format("graft")` — SaveMode maps onto the table's write
    * operations (the reference's upsert/bulk_insert operation switch,
    * glue/HudiJarGlueJob.py:84):
    *   Append         → upsert (precombine merge; first write allowed)
    *   Overwrite      → insertOverwrite (touched partitions replaced)
    *   ErrorIfExists  → bulkInsert (refuses a non-empty table)
    *   Ignore         → bulkInsert only if the table does not exist
    */
  override def createRelation(
      ctx: SQLContext, mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val table = tableFor(ctx, parameters)
    mode match {
      case Append => table.upsert(data)
      case Overwrite => table.insertOverwrite(data)
      case ErrorIfExists => table.bulkInsert(data)
      case Ignore => if (!table.exists) table.bulkInsert(data)
    }
    new GraftRelation(ctx, table, asOf = None)
  }

  /** `df.writeStream.format("graft")` — see [[GraftSink]] (idempotent
    * batch-id-tracked continuous upsert). Append and Update both map to
    * upsert — the precombine merge IS the update semantics; Complete
    * would demand insertOverwrite-per-trigger and is refused.
    */
  override def createSink(
      ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft sink supports append/update output modes only")
    val table = tableFor(ctx, parameters)
    // partitioning is a TABLE property (persisted descriptor or the
    // partitionCols option), not a query property: silently ignoring
    // writeStream.partitionBy would write a layout the user did not ask
    // for — compare against the RESOLVED config so toTable (which
    // passes only the location) checks the real layout
    val tableParts = table.config.partitionCols
    require(partitionColumns.isEmpty || partitionColumns == tableParts,
      s"writeStream.partitionBy(${partitionColumns.mkString(",")}) conflicts with " +
        s"the table's partitionCols (${tableParts.mkString(",")}) — " +
        "set partitioning via the partitionCols option")
    new GraftSink(table, ctx.sparkSession.sparkContext.hadoopConfiguration)
  }

  /** `spark.readStream.format("graft")` — the commit-log-driven change
    * tail (see [[GraftTailSource]]). The source schema is the WIDEST
    * schema across the table's timeline: delta commits write their batch
    * schema as-is, so a widened upsert's new columns must be in the
    * stream schema or the parquet reader would silently drop them.
    */
  override def sourceSchema(
      ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    ("graft", schema.getOrElse {
      val t = tableFor(ctx, parameters)
      if (parameters.get("changeTypes").exists(_.toBoolean))
        t.changeFeedSchema
      else t.tailSchema
    })

  override def createSource(
      ctx: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val table = tableFor(ctx, parameters)
    // MoR tables tail their delta commits directly; CoW tables derive
    // per-commit changes from the commit's adds/removes (see
    // GraftTailSource.cowBatchFrame) — both storage types stream
    val changeTypes = parameters.get("changeTypes").exists(_.toBoolean)
    new GraftTailSource(ctx, table,
      schema.getOrElse(
        if (changeTypes) table.changeFeedSchema else table.tailSchema),
      maxCommitsPerTrigger =
        parameters.get("maxCommitsPerTrigger").map(_.toInt),
      startingCommit = parameters.get("startingCommit").map(_.toLong),
      metadataPath = Some(metadataPath),
      changeTypes = changeTypes)
  }
}

/** Pruned, filtered scan over a lake snapshot. Filters convert to a
  * `Column` predicate and flow into `LakeTable.read(pruneBy)` — the
  * commit-log column-stats index prunes the FILE LIST before Spark plans
  * the scan, and parquet row-group stats prune below that. All filters
  * are reported unhandled so Spark re-applies them after the scan —
  * double evaluation of cheap predicates in exchange for never trusting
  * the pushdown with correctness.
  */
/** the batch change-data-feed as a relation: a fixed frame computed by
  * [[graft.lake.LakeTable.changesBetween]] — filters/projections apply
  * above (CDF consumers read the whole window by design) */
private[sources] final class GraftChangesRelation(
    ctx: SQLContext, df: DataFrame) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = df.schema
  override def buildScan(): RDD[Row] = df.rdd
}

private[sources] final class GraftRelation(
    ctx: SQLContext, table: LakeTable, asOf: Option[Long])
  extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  // PIN the snapshot at relation creation: buildScan runs once per scan
  // (twice in a self-join, again per re-executed action), and resolving
  // "latest" each time would let an interleaved commit make one
  // DataFrame read two different table versions
  private val pinned = table.log.snapshot(asOf)

  override val schema: StructType = table.read(pinned, None).schema

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  // DSv1 hands over raw column names — quote them or a flat column
  // literally named "a.b" parses as a nested field reference
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** exact size from the commit log — lets Spark auto-broadcast small
    * lake tables instead of assuming defaultSizeInBytes (huge) */
  override def sizeInBytes: Long = {
    val bytes = pinned.files.map(_.bytes).sum
    if (bytes > 0) bytes else super.sizeInBytes
  }

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // the stats-skipping read of the PINNED version (the predicate
    // re-applies row-level either way)
    val base = table.read(pinned, filters.flatMap(toColumn).reduceOption(_ && _))
    val projected =
      if (requiredColumns.isEmpty) base else base.select(requiredColumns.map(qcol): _*)
    projected.rdd
  }

  /** DSv1 Filter → Column; None = untranslatable (left for Spark). */
  private def toColumn(f: Filter): Option[Column] = FilterTranslation.toColumn(f)
}

/** Source `Filter` → `Column` translation shared by the DSv1 relation
  * and the DSv2 catalog table (scan pruning + SupportsDelete). */
private[graft] object FilterTranslation {

  /** quoted column reference — a flat column literally named "a.b" must
    * not parse as a nested field reference */
  def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  def toColumn(f: Filter): Option[Column] = f match {
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v) => Some(qcol(a) === lit(v))
    case EqualNullSafe(a, v) => Some(qcol(a) <=> lit(v))
    case GreaterThan(a, v) => Some(qcol(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(qcol(a) >= lit(v))
    case LessThan(a, v) => Some(qcol(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(qcol(a) <= lit(v))
    case In(a, vs) if vs.nonEmpty => Some(qcol(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(qcol(a).isNull)
    case IsNotNull(a) => Some(qcol(a).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(qcol(a).startsWith(v))
    case StringEndsWith(a, v) => Some(qcol(a).endsWith(v))
    case StringContains(a, v) => Some(qcol(a).contains(v))
    case _ => None
  }
}
