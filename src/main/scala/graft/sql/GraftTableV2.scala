package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{LakeTable, Snapshot, TableDescriptor}
import graft.sources.FilterTranslation

/** The lake table as a DSv2 catalog table. Reads and writes delegate to
  * [[LakeTable]] through Spark's supported V1 fallback surfaces
  * ([[V1Scan]]/[[V1Write]] — the same integration Delta shipped on for
  * years), so every table capability rides along unchanged: commit-log
  * file listing, column-stats skipping via pushed filters, MoR read-time
  * merge, precombine upsert, optimistic concurrency.
  *
  *   - SELECT            → snapshot scan (filters prune the FILE LIST
  *                         through the commit-log stats index before
  *                         Spark plans the scan; Spark re-applies every
  *                         filter row-level, so pushdown is never trusted
  *                         with correctness)
  *   - INSERT INTO       → precombine upsert
  *   - INSERT OVERWRITE  → whole-table replace (one commit)
  *   - DELETE FROM       → [[SupportsDelete]] (keyed, partition-pruned)
  *   - UPDATE / MERGE    → resolution rule in [[GraftDmlRule]]
  *   - VERSION AS OF     → pinned snapshot ([[GraftCatalog.loadTable]])
  *
  * The exposed schema is the USER schema: engine metadata columns
  * (`_commit_id`, `_record_key`, the derived bucket) stay internal so
  * `INSERT INTO ... SELECT` round-trips without them.
  */
final class GraftTableV2(
    spark: SparkSession,
    catalogName: String,
    ident: String,
    root: String,
    desc: TableDescriptor,
    asOf: Option[Long],
    /** Hudi `_ro` view (resolved as the `db.t.ro` suffix): scan BASE
      * files only, skipping pending MoR deltas and their read-time
      * merge — stale by up to the un-compacted deltas, as cheap as a
      * CoW scan (base files are disjoint row sets, so this is a plain
      * pruned union). Read-only; equals the snapshot on CoW/compacted
      * state. */
    readOptimized: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with TruncatableTable
  with org.apache.spark.sql.graftbridge.V1FallbackBridge {

  /** `TRUNCATE TABLE` — one predicate-delete commit removing every
    * row; time travel to pre-truncate commits keeps working (the files
    * are superseded, not vacuumed). */
  override def truncateTable(): Boolean = {
    lake.deleteWhere(org.apache.spark.sql.functions.lit(true))
    true
  }

  /** The engine handle every read/write of this catalog table delegates
    * to. While the SESSION has an open SQL transaction (`BEGIN` —
    * [[GraftSessionTxn]]), live-table statements resolve to the
    * transaction's STAGED handle instead: writes land invisible until
    * COMMIT, in-session reads fold the transaction's own staged commits
    * (read-your-writes). Time-travel and `.ro` reads stay unstaged — a
    * pinned snapshot is published state by definition. */
  private[sql] lazy val lake: LakeTable =
    GraftSessionTxn.current(spark) match {
      case Some(txn) if asOf.isEmpty && !readOptimized =>
        txn.table(desc.config(root))
      case _ => LakeTable(spark, desc.config(root))
    }

  // introspection for the MV rewrite rule ([[GraftMvRewrite]]): which
  // physical table this relation reads, at which pin, and its
  // catalog-load-time descriptor (fresh per statement — loadTable runs
  // per query, so registered-MV lists are as fresh as any catalog read)
  private[sql] def tableRoot: String = root
  private[sql] def pinnedAsOf: Option[Long] = asOf
  private[sql] def isReadOptimized: Boolean = readOptimized
  private[sql] def descriptor: TableDescriptor = desc

  private val metaCols =
    Set("_commit_id", "_record_key", LakeTable.BucketCol, "_seq", "_deleted")

  // materialized-view internals stay engine-side: per-sum non-null
  // counts always, and the maintained row count when the definition
  // never projected count(*) — SELECT * must show the DECLARED shape
  private val mvHidden: Set[String] = Option(desc.matView) match {
    case Some(mv) =>
      val nn = Option(mv.sums).getOrElse(Map.empty)
        .keySet.map(graft.lake.MaterializedAgg.nnCol)
      if (mv.countExposed) nn
      else nn + Option(mv.countCol).getOrElse("n_rows")
    case None => Set.empty
  }

  override def name(): String = ident

  override def schema(): StructType = {
    val st = pinned.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .orElse(Option(desc.schemaJson).filter(_.nonEmpty)
        .map(j => DataType.fromJson(j).asInstanceOf[StructType]))
      .getOrElse(new StructType())
    // SQL DEFAULT values are a CATALOG declaration, not a physical fact:
    // commit-recorded schemas carry the batch's plain fields, so overlay
    // the declared schema's default metadata by name — INSERT analysis
    // (ResolveDefaultColumns) reads it off this schema. A renamed column
    // sheds its default (the declaration named the old column).
    // the same overlay carries the GENERATED AS (expr) / AS IDENTITY
    // declarations (start/step/allowExplicit are typed metadata), so
    // DESCRIBE and analysis-time validation see them on every load
    import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn}
    val stringKeys = Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT",
      GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY)
    val longKeys = Seq(IdentityColumn.IDENTITY_INFO_START,
      IdentityColumn.IDENTITY_INFO_STEP)
    val boolKeys = Seq(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
    val allKeys = stringKeys ++ longKeys ++ boolKeys
    val defaults = Option(desc.schemaJson).filter(_.nonEmpty)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .map(_.fields.filter(f => allKeys.exists(f.metadata.contains))
        .map(f => f.name -> f.metadata).toMap)
      .getOrElse(Map.empty)
    StructType(st.fields.filterNot(f =>
      metaCols.contains(f.name) || mvHidden.contains(f.name)).map { f =>
      defaults.get(f.name).fold(f) { dm =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        stringKeys.filter(dm.contains).foreach(k => mb.putString(k, dm.getString(k)))
        longKeys.filter(dm.contains).foreach(k => mb.putLong(k, dm.getLong(k)))
        boolKeys.filter(dm.contains).foreach(k => mb.putBoolean(k, dm.getBoolean(k)))
        f.copy(metadata = mb.build())
      }
    })
  }

  override def partitioning(): Array[Transform] =
    desc.partitionCols.zipWithIndex.map { case (c, i) =>
      import graft.lake.PartTransform
      val spec = Option(desc.partitionTransforms).getOrElse(Seq.empty)
        .lift(i).map(PartTransform.parse).getOrElse(PartTransform.Identity)
      spec match {
        case PartTransform.Identity => Expressions.identity(c)
        case PartTransform.Years => Expressions.years(c)
        case PartTransform.Months => Expressions.months(c)
        case PartTransform.Days => Expressions.days(c)
        case PartTransform.Hours => Expressions.hours(c)
        case PartTransform.Bucket(n) => Expressions.bucket(n, c)
        case PartTransform.Truncate(w) => Expressions.apply(
          "truncate", Expressions.literal(w), Expressions.column(c))
      }
    }.toArray

  override def properties(): util.Map[String, String] =
    (Map("provider" -> "graft", "location" -> root,
      "keyCols" -> desc.keyCols.mkString(","),
      "precombineCol" -> desc.precombineCol,
      "storageType" -> desc.storageType) ++
      (if (desc.globalIndex) Map("globalIndex" -> "true") else Map.empty) ++
      (if (desc.compactEvery > 0)
        Map("compactEvery" -> desc.compactEvery.toString) else Map.empty) ++
      (if (desc.checkpointEvery > 0)
        Map("checkpointEvery" -> desc.checkpointEvery.toString) else Map.empty) ++
      (if (desc.archiveOnClean)
        Map("archiveOnClean" -> "true") else Map.empty) ++
      (if (desc.hashBuckets > 0)
        Map("hashBuckets" -> desc.hashBuckets.toString) else Map.empty) ++
      (if (desc.bloomKeys > 0)
        Map("bloomKeys" -> desc.bloomKeys.toString) else Map.empty) ++
      (if (Option(desc.bloomCols).exists(_.nonEmpty))
        Map("bloomCols" -> desc.bloomCols.mkString(",")) else Map.empty) ++
      (if (Option(desc.sumCols).exists(_.nonEmpty))
        Map("sumCols" -> desc.sumCols.mkString(",")) else Map.empty) ++
      (if (desc.statsCols.nonEmpty)
        Map("statsCols" -> desc.statsCols.mkString(",")) else Map.empty) ++
      (if (desc.clusterCols.nonEmpty)
        Map("clusterCols" -> desc.clusterCols.mkString(",")) else Map.empty) ++
      (if (desc.zOrder) Map("zOrder" -> "true") else Map.empty) ++
      (if (Option(desc.checkMode).exists(_ != "fail"))
        Map("checkMode" -> desc.checkMode) else Map.empty) ++
      (if (Option(desc.checks).exists(_.nonEmpty))
        Map("checks" -> ChecksProp.render(desc.checks))
      else Map.empty) ++
      asOf.map(v => "versionAsOf" -> v.toString)).asJava

  override def capabilities(): util.Set[TableCapability] = {
    import TableCapability._
    // no OVERWRITE_DYNAMIC here: Spark cannot plan dynamic overwrite
    // through the V1 write fallback (OverwritePartitionsDynamicExec
    // needs a native BatchWrite) — the GraftDmlRule resolution rule
    // carries it instead, the same shape as UPDATE/MERGE.
    // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE INTO t WITH SCHEMA EVOLUTION`
    // — Spark's ResolveMergeIntoSchemaEvolution computes the source's
    // new/widened columns as TableChanges and applies them through this
    // catalog's alterTable (the same fresh-id ADD / widening-lattice
    // machinery every ALTER rides) before the merge resolves
    Set(BATCH_READ, V1_BATCH_WRITE, OVERWRITE_BY_FILTER, TRUNCATE,
      AUTOMATIC_SCHEMA_EVOLUTION).asJava
  }

  // ---- streaming (V1 fallback — the Delta integration shape) -----------

  /** Streaming rides the PROVEN path-based V1 source/sink: the analyzer
    * (`RelationResolution`) and `DataStreamWriter.toTable` consult this
    * fallback for tables without DSv2 streaming capabilities, handing
    * the `graft` provider the table LOCATION + storage properties — so
    * `spark.readStream.table("graft.db.t")` tails the commit log
    * ([[graft.sources.GraftTailSource]], MoR tables) and
    * `writeStream.format("graft").toTable` runs the idempotent
    * batch-id-tracked upsert sink ([[graft.sources.GraftSink]]; the
    * explicit format is Spark's own V1-fallback contract — the writer
    * source must match the table provider). The persisted
    * [[TableDescriptor]] at the location resolves the full table config;
    * the storage properties carry it too so `writeStream.partitionBy`
    * conflict checks see the real layout. The streaming-read schema is
    * the change-tail schema (`_seq`/`_deleted` tombstones included) —
    * the same contract as the path-based tail. */
  override def v1FallbackTable: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOf.isEmpty, "cannot stream a time-travel (VERSION AS OF) snapshot")
    val parts = ident.split('.')
    // the tail schema for BOTH storage types: MoR deltas carry the
    // internals physically, the CoW tail synthesizes them. The sink
    // path shares this CatalogTable but ignores its schema (the V1 sink
    // upserts the query's own frame) — spec-pinned for both storage
    // types by the toTable tests.
    val streamSchema = if (lake.exists) lake.tailSchema else schema()
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      // the identifier must stay CATALOG-qualified: MicroBatchExecution
      // refreshes the sink table by this name after every batch, and an
      // unqualified `db.t` would resolve against spark_catalog and fail
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last, Some(parts.init.mkString(".")).filter(_.nonEmpty),
        Some(catalogName)),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(root).toUri),
        properties = Map(
          "keyCols" -> desc.keyCols.mkString(","),
          "precombineCol" -> desc.precombineCol,
          "partitionCols" -> desc.partitionCols.mkString(","),
          "storageType" -> desc.storageType,
          "globalIndex" -> desc.globalIndex.toString,
          "hashBuckets" -> desc.hashBuckets.toString,
          "statsCols" -> desc.statsCols.mkString(","))),
      schema = streamSchema,
      provider = Some("graft"),
      partitionColumnNames = desc.partitionCols)
  }

  // ---- read ------------------------------------------------------------

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this)

  /** The ONE version every use of this table instance reads — its
    * schema, filter claims, aggregate pushdown, scan planning and
    * runtime filters: the explicit VERSION AS OF, else the head at first
    * resolution, resolved once ([[graft.lake.CommitLog.snapshot]]).
    * Without the pin, each use would re-resolve the latest commit — a
    * self-join (or a re-executed DataFrame) racing a writer could mix
    * two table versions in one query. */
  private[sql] lazy val pinned: Snapshot = lake.log.snapshot(asOf)

  /** pinned snapshot with user columns only; predicates still engage
    * the commit-log stats skipping (file-list pruning at the pin) */
  private[sql] def snapshot(pred: Option[Column]): org.apache.spark.sql.DataFrame = {
    val base =
      if (pinned.id.isEmpty)
        // empty at resolution: the pin is EMPTINESS — a first writer
        // landing between resolution and (re-)execution must not leak
        // rows into an already-resolved scan
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema())
      else if (readOptimized) lake.readOptimized(pred, pinned)
      else lake.read(pinned, pred)
    base.drop((metaCols ++ mvHidden).toSeq: _*)
  }

  /** Commit-log bytes the scan would actually read under `pred`
    * (file-list pruning applied) — the planner's size estimate. A
    * dimension scan pruned by its filter to one partition must look
    * partition-sized, not table-sized, or the broadcast-join decision
    * is wrong at exactly the scale where it matters. None when any
    * surviving file predates byte recording (unknowable — let the
    * planner fall back to its default, never to a false small). */
  private[sql] def scanBytes(pred: Option[Column]): Option[Long] = {
    if (pinned.id.isEmpty) return Some(0L) // pinned-empty scan reads nothing
    val live = if (readOptimized) pinned.files.filter(!_.isDelta) else pinned.files
    val files = pred.flatMap(c => lake.resolvePredicate(c, pinned))
      .map(p => lake.pruneFilesFor(live, p, pinned)).getOrElse(live)
    if (files.exists(_.bytes <= 0L)) None else Some(files.map(_.bytes).sum)
  }

  private[sql] def spark0: SparkSession = spark

  /** Native-batch eligibility + static prune: Some((files, physical
    * schema, live DV sidecars by normalized target path)) when the
    * pinned snapshot passes the strict prover
    * ([[graft.lake.LakeTable.nativeScanFiles]]) — with the pushed
    * predicate already applied to the file list. */
  private[sql] def nativeScanPlan(pred: Option[Column]): Option[(
      Seq[graft.lake.FileAdd], StructType,
      Map[String, Seq[graft.lake.FileAdd]])] =
    // `_ro` with pending deltas would need a base-only variant of the
    // prover; the V1 path already expresses base-only correctly, and on
    // the compacted state (where _ro = snapshot) the prover passes anyway
    if (readOptimized) None
    else lake.nativeScanFiles(pinned).map { files =>
      val pruned = pred.flatMap(c => lake.resolvePredicate(c, pinned))
        .map(p => lake.pruneFilesFor(files, p, pinned)).getOrElse(files)
      val dvs = pinned.dvs
        .groupBy(d => graft.lake.DvCodec.normPath(d.target))
      (pruned, lake.tableSchema(pinned), dvs)
    }

  // ---- write -----------------------------------------------------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, "cannot write to a time-travel (VERSION AS OF) snapshot")
    require(!readOptimized, "the _ro view (db.t.ro) is read-only — write to the table itself")
    new GraftWriteBuilder(lake)
  }

  // ---- DELETE FROM -----------------------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterTranslation.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!readOptimized,
      "the _ro view (db.t.ro) is read-only — write to the table itself")
    val cond = filters.flatMap(FilterTranslation.toColumn)
      .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
    // deleteMode=dv (CoW): position-delete sidecars instead of the keyed
    // file-group rewrite — O(positions) written for a point DELETE
    if (lake.config.deleteMode == "dv" && !lake.config.isMor)
      lake.deleteWhereDv(cond)
    else lake.deleteWhere(cond)
    ()
  }
}

/** Pushdown-aware scan: translatable filters flow into the commit-log
  * stats index (file-list pruning); ALL filters are reported residual so
  * Spark re-applies them row-level — conservative, never wrong.
  *
  * Aggregate pushdown ([[SupportsPushDownAggregates]], the standard DSv2
  * surface): an unfiltered mix of `COUNT(*)` and `MIN`/`MAX` of stats
  * columns in exact-stats types — global, or grouped by exactly the
  * table's partition columns — is answered COMPLETELY from the commit
  * log when the strict provers say no scan would be needed
  * ([[LakeTable.metadataRowCount]]/[[LakeTable.metadataMinMax]]: every
  * live file at the pin is a base file with the fact recorded). At
  * 100 TB `SELECT count(*) FROM lake.t` must be a metadata read;
  * anything the provers can't certify (pending MoR deltas, residual
  * filters, float/string bounds, other aggregates) falls through to the
  * normal scan untouched.
  */
private[sql] final class GraftScanBuilder(table: GraftTableV2)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = table.schema()

  /** pushed filters PROVABLY equivalent to exact partition-file
    * selection ([[graft.lake.LakeTable.exactPartitionFiles]]) — these
    * are claimed FULLY HANDLED (not returned as residuals), which is
    * what lets a filtered aggregate push into the commit log: Spark
    * only pushes aggregates when no post-scan filter remains. Row-level
    * correctness: the V1 path re-applies every pushed filter anyway
    * (snapshot(pred) filters), and the native path's file pruning IS
    * row filtering exactly when the prover certified it. */
  private var claimed: Array[Filter] = Array.empty

  /** (column, accepted values) of a filter shape the exactness prover
    * can evaluate — equality / null-safe equality / IN on one column */
  private def constraintOf(f: Filter): Option[(String, Seq[Any])] = f match {
    case org.apache.spark.sql.sources.EqualTo(a, v) if v != null =>
      Some(a -> Seq(v))
    case org.apache.spark.sql.sources.EqualNullSafe(a, v) => Some(a -> Seq(v))
    case org.apache.spark.sql.sources.In(a, vs) if vs.nonEmpty =>
      Some(a -> vs.toSeq)
    case _ => None
  }

  private def notNullOf(f: Filter): Option[String] = f match {
    case org.apache.spark.sql.sources.IsNotNull(a) => Some(a)
    case _ => None
  }

  /** (column, op, literal) of a range filter — claimable only on
    * temporal-transformed partition levels with edge-aligned bounds
    * (the prover decides; this just parses the shape) */
  private def rangeOf(f: Filter): Option[(String, (String, Any))] = f match {
    case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) if v != null =>
      Some(a -> (">=", v))
    case org.apache.spark.sql.sources.GreaterThan(a, v) if v != null =>
      Some(a -> (">", v))
    case org.apache.spark.sql.sources.LessThan(a, v) if v != null =>
      Some(a -> ("<", v))
    case org.apache.spark.sql.sources.LessThanOrEqual(a, v) if v != null =>
      Some(a -> ("<=", v))
    case _ => None
  }

  /** (value constraints, not-null columns, range bounds) of a claimed
    * filter set; conjunction semantics — two constraints on one column
    * intersect, range bounds accumulate */
  private def claimSpec(fs: Seq[Filter])
      : Option[(Map[String, Seq[Any]], Set[String], Map[String, Seq[(String, Any)]])] = {
    val parts: Seq[Either[(String, Seq[Any]), Either[String, (String, (String, Any))]]] =
      fs.map { f =>
        (constraintOf(f), notNullOf(f), rangeOf(f)) match {
          case (Some(cv), _, _) => Left(cv)
          case (_, Some(c), _) => Right(Left(c))
          case (_, _, Some(rb)) => Right(Right(rb))
          case _ => return None
        }
      }
    val values = parts.collect { case Left(cv) => cv }
    val ranges = parts.collect { case Right(Right(rb)) => rb }
    Some((values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.map(_._2.toSet).reduce(_ intersect _).toSeq },
      parts.collect { case Right(Left(c)) => c }.toSet,
      ranges.groupBy(_._1).map { case (c, bs) => c -> bs.map(_._2) }))
  }

  /** partition columns whose CURRENT transform is temporal — the only
    * columns whose range filters join the claim group (a range on an
    * identity level would make the prover refuse the WHOLE conjunction
    * and cost equality claims that used to succeed) */
  private def temporalPartCols: Set[String] = {
    import graft.lake.PartTransform
    table.lake.config.partitionCols.zip(table.lake.config.transforms)
      .collect { case (c, PartTransform.Years | PartTransform.Months |
        PartTransform.Days | PartTransform.Hours) => c }.toSet
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterTranslation.toColumn(f).isDefined)
    val parts = table.lake.config.partitionCols.toSet
    val temporal = temporalPartCols
    // claim the candidate set as a GROUP: an IsNotNull that is unsafe
    // alone (string sentinel) is implied by an equality on the same
    // column, so the prover must see the whole conjunction
    val candidate = filters.filter { f =>
      (constraintOf(f), notNullOf(f), rangeOf(f)) match {
        case (Some((c, _)), _, _) => parts.contains(c)
        case (_, Some(c), _) => parts.contains(c)
        case (_, _, Some((c, _))) => temporal.contains(c)
        case _ => false
      }
    }
    claimed =
      if (candidate.isEmpty) Array.empty
      else claimSpec(candidate.toIndexedSeq) match {
        case Some((cs, nn, rs)) if table.lake
          .exactPartitionFiles(cs, table.pinned, nn, rs).isDefined => candidate
        case _ => Array.empty
      }
    // claimed filters are handled (file pruning = row filtering, proven);
    // everything else stays a residual — pruning only, never trusted
    filters.filterNot(claimed.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- COUNT(*) / MIN / MAX from commit-log metadata -------------------

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}
  import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType}

  private sealed trait PushedVal
  private case object PushCount extends PushedVal
  /** minOf = true → MIN, false → MAX; dt is the table column type */
  private case class PushBound(name: String, dt: DataType, minOf: Boolean)
    extends PushedVal
  /** exact metadata SUM of a sumCols integral column (result: LongType,
    * Spark's sum-of-integral type; totals outside long range refuse at
    * prove time and fall back to the scan) */
  private case class PushSum(name: String) extends PushedVal

  private var pushedPlan: Option[(Seq[String], Seq[PushedVal])] = None

  /** Types whose footer stats are EXACT in the integer-comparable
    * domain the log records (int family raw, DateType days, timestamps
    * lifted to micros). Floats are NaN-hazardous, strings may be
    * footer-truncated, NTZ re-typing depends on session TZ — none of
    * those are ever answered from metadata. */
  private def boundType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => true
    case _ => false
  }

  private def singleName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  /** The file set the pushed predicate selects, when the aggregate may
    * be metadata-answered: the whole live set with no filters, the
    * EXACT partition subset when every pushed filter was claimed, None
    * when any filter escapes the claim (rows, not metadata). */
  private def aggFiles(): Option[Seq[graft.lake.FileAdd]] = {
    if (pushed.exists(f => !claimed.contains(f))) return None
    if (claimed.isEmpty) Some(table.pinned.files)
    else claimSpec(claimed.toIndexedSeq).flatMap { case (cs, nn, rs) =>
      table.lake.exactPartitionFiles(cs, table.pinned, nn, rs) }
  }

  /** (group-by cols, per-agg answers) when the whole aggregation is
    * answerable from the commit log: every agg a CountStar — or,
    * globally only, a MIN/MAX of a stats column whose bounds the strict
    * prover certifies — over the unfiltered table OR an exact-partition
    * pushed predicate (`count(*) WHERE region = 'EU'` is a metadata
    * read when region is a partition column the claim prover accepted). */
  private def answerable(agg: Aggregation): Option[(Seq[String], Seq[PushedVal])] = {
    val gb = agg.groupByExpressions.toSeq.map(e =>
      singleName(e).getOrElse(return None))
    val vals = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => PushCount
      case m: Min =>
        val n = singleName(m.column).getOrElse(return None)
        val dt = scala.util.Try(table.schema()(n).dataType)
          .getOrElse(return None)
        if (!boundType(dt)) return None
        PushBound(n, dt, minOf = true)
      case m: Max =>
        val n = singleName(m.column).getOrElse(return None)
        val dt = scala.util.Try(table.schema()(n).dataType)
          .getOrElse(return None)
        if (!boundType(dt)) return None
        PushBound(n, dt, minOf = false)
      case sm: Sum if !sm.isDistinct =>
        val n = singleName(sm.column).getOrElse(return None)
        val dt = scala.util.Try(table.schema()(n).dataType)
          .getOrElse(return None)
        val integral = dt match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType | LongType => true
          case _ => false
        }
        if (!integral) return None
        PushSum(n)
      case _ => return None
    }
    val bounds = vals.collect { case b: PushBound => b }
    val sums = vals.collect { case s: PushSum => s }
    // a metadata sum must also FIT the result type: Spark's sum over
    // integrals is LongType, so an out-of-range exact total refuses
    // here and the normal scan (with its own overflow semantics) runs
    def sumOk(fs: Seq[graft.lake.FileAdd]): Boolean =
      sums.forall(sc => table.lake.metadataSumOf(sc.name, fs, table.pinned).exists {
        case (total, _) =>
          total.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0 &&
          total.compareTo(java.math.BigDecimal.valueOf(Long.MinValue)) >= 0
      })
    val provable = table.pinned.id match {
      case None =>
        pushed.isEmpty && gb.isEmpty // pinned-empty global: count 0, bounds NULL
      case some if gb.isEmpty =>
        aggFiles() match {
          case None => false
          case Some(fs) =>
            (vals.forall(_ != PushCount) ||
              table.lake.metadataRowCountOf(fs, table.pinned).isDefined) &&
              bounds.forall(b =>
                table.lake.metadataMinMaxOf(b.name, fs, table.pinned).isDefined) &&
              sumOk(fs)
        }
      case _ =>
        aggFiles().exists(fs => table.lake
          .metadataPartitionAggsOf(bounds.map(_.name).distinct,
            sums.map(_.name).distinct, fs, table.pinned)
          .isDefined)
    }
    if (!provable) None
    else if (gb.isEmpty) Some((Nil, vals))
    else if (gb.toSet == table.lake.config.partitionCols.toSet) Some((gb, vals))
    else None
  }

  // the planner calls supportCompletePushDown then pushAggregation with
  // the same Aggregation instance — run the prover (a commit-log read,
  // and for the grouped case a frame build) once, not twice
  private var provedFor: Aggregation = _
  private var proved: Option[(Seq[String], Seq[PushedVal])] = None
  private def answerableCached(agg: Aggregation) = {
    if (provedFor ne agg) { provedFor = agg; proved = answerable(agg) }
    proved
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerableCached(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    answerableCached(agg) match {
      case Some(plan) => pushedPlan = Some(plan); true
      case None => false
    }

  private def aggSchema: StructType = {
    val (gb, vals) = pushedPlan.get
    val parts = gb.map(n => table.schema()(n))
    StructType(parts ++ vals.map {
      case PushCount => org.apache.spark.sql.types.StructField(
        "count(*)", LongType, nullable = false)
      case PushBound(n, dt, minOf) => org.apache.spark.sql.types.StructField(
        (if (minOf) "min(" else "max(") + n + ")", dt, nullable = true)
      case PushSum(n) => org.apache.spark.sql.types.StructField(
        "sum(" + n + ")", LongType, nullable = true)
    })
  }

  /** integer-domain metadata bound re-typed into the column's type (the
    * inverse of the footer lift: DateType days, timestamp micros, int
    * family raw) */
  private def boundExpr(c: Column, dt: DataType): Column = {
    import org.apache.spark.sql.functions.{date_from_unix_date, timestamp_micros}
    dt match {
      case DateType => date_from_unix_date(c.cast(IntegerType))
      case TimestampType => timestamp_micros(c)
      case _ => c.cast(dt)
    }
  }

  /** the pushed result rows (computed at execution, metadata-only) */
  private def aggRows(context: SQLContext): RDD[Row] = {
    import org.apache.spark.sql.functions.lit
    val (gb, vals) = pushedPlan.get
    val ss = context.sparkSession
    def reprove[A](o: Option[A]): A = o.getOrElse(
      // a prover miss here means the files changed under the pin —
      // fail loud rather than silently return a wrong aggregate
      throw new IllegalStateException(
        s"pinned snapshot ${table.pinned.id} no longer metadata-answerable"))
    (table.pinned.id, gb) match {
      case (pin, Nil) =>
        val fs = pin.map(_ => reprove(aggFiles()))
        val cols = vals.map {
          case PushCount => fs match {
            case None => lit(0L)
            case Some(sub) => lit(reprove(table.lake.metadataRowCountOf(sub, table.pinned)))
          }
          case PushBound(n, dt, minOf) =>
            fs.map(sub => reprove(table.lake.metadataMinMaxOf(n, sub, table.pinned)))
              .map(mm => if (minOf) mm._1 else mm._2) match {
              case None => lit(null).cast(dt)
              case Some(v) => boundExpr(lit(v), dt)
            }
          case PushSum(n) =>
            fs.map(sub => reprove(table.lake.metadataSumOf(n, sub, table.pinned))) match {
              case None => lit(null).cast(LongType) // pinned-empty table
              case Some((_, 0L)) => lit(null).cast(LongType) // all-NULL sum
              case Some((total, _)) => lit(total.longValueExact())
            }
        }
        ss.range(1).select(cols: _*).rdd
      case (None, _) => ss.sparkContext.emptyRDD[Row]
      case (_, groupCols) =>
        val boundNames =
          vals.collect { case b: PushBound => b.name }.distinct
        val sumNames =
          vals.collect { case sc: PushSum => sc.name }.distinct
        reprove(table.lake
          .metadataPartitionAggsOf(boundNames, sumNames,
            reprove(aggFiles()), table.pinned))
          .select(groupCols.map(FilterTranslation.qcol) ++ vals.map {
            case PushCount => col("n_rows")
            case PushBound(n, dt, minOf) =>
              boundExpr(col((if (minOf) "_min_" else "_max_") + n), dt)
            case PushSum(n) => col("_sum_" + n)
          }: _*)
          .rdd
    }
  }

  override def build(): Scan =
    if (pushedPlan.isDefined) new V1Scan {
      override def readSchema(): StructType = aggSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = aggSchema
          override def buildScan(): RDD[Row] = aggRows(context)
        }.asInstanceOf[T]
    }
    else {
      val pred = pushed.flatMap(FilterTranslation.toColumn)
        .reduceOption(_ && _)
      val nativeOk = table.spark0.conf
        .getOption("spark.graft.nativeScan.enabled").forall(_.toBoolean)
      (if (nativeOk) table.nativeScanPlan(pred) else None) match {
        case Some((files, physical, dvByTarget)) =>
          new GraftBatchScan(table.spark0, table, required, pushed,
            physical, files, dvByTarget, claimedExact = claimed)
        case None => new V1Scan {
          override def readSchema(): StructType = required

          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = required
              // exact size from the commit log, PRUNED by the pushed
              // predicate → Spark can auto-broadcast a filtered scan
              override def sizeInBytes: Long = table.scanBytes(pred) match {
                case Some(b) => math.max(b, 1L) // 0 = provably all-pruned
                case None => super.sizeInBytes
              }
              override def buildScan(): RDD[Row] = {
                val df = table.snapshot(pred)
                val projected =
                  if (required.isEmpty) df
                  else {
                    // NESTED schema pruning: `required` may declare a
                    // pruned struct shape (s: struct<f> of a struct<a,f>
                    // column). Rows handed back under that declaration
                    // are consumed positionally — the full struct would
                    // silently serve the wrong field — so restructure
                    // each column to exactly the declared shape.
                    val srcTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
                    val cols = required.fields.toSeq.map { rf =>
                      val src = FilterTranslation.qcol(rf.name)
                      srcTypes.get(rf.name) match {
                        case Some(st) if st != rf.dataType =>
                          graft.lake.SchemaEvo.pruneValue(src, st, rf.dataType)
                            .as(rf.name)
                        case _ => src
                      }
                    }
                    df.select(cols: _*)
                  }
                projected.rdd
              }
            }.asInstanceOf[T]
        }
      }
    }
}

/** V1-fallback write: INSERT INTO → upsert; INSERT OVERWRITE / TRUNCATE →
  * whole-table replace in one commit; dynamic partition-overwrite mode
  * (`partitionOverwriteMode=dynamic` / `writeTo(...).overwritePartitions()`)
  * → [[LakeTable.insertOverwrite]], which supersedes exactly the user
  * partitions the batch touches in one commit; statically-filtered
  * overwrite (an explicit PARTITION spec under static mode, or
  * `writeTo(...).overwrite(cond)`) → [[LakeTable.overwriteWhere]] —
  * Delta's replaceWhere: clear the predicate's region and insert, one
  * commit, batch rows required to satisfy the predicate. A filter no
  * source Filter translation exists for is rejected with the dynamic-
  * mode hint rather than silently widened. */
private[sql] final class GraftWriteBuilder(lake: LakeTable)
  extends WriteBuilder with SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var mode: String = "upsert"
  private var replaceCond: Option[Column] = None

  override def truncate(): WriteBuilder = { mode = "all"; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) { mode = "all"; return this }
    val conds = filters.map(FilterTranslation.toColumn)
    require(conds.forall(_.isDefined),
      "INSERT OVERWRITE with a filter this source cannot translate — " +
        "for partition-scoped overwrite use an equality PARTITION spec, " +
        "or set spark.sql.sources.partitionOverwriteMode=dynamic " +
        "(or writeTo(...).overwritePartitions()): the batch's partitions " +
        "are replaced, others untouched")
    mode = "replace"
    replaceCond = conds.flatten.reduceOption(_ && _)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
        mode match {
          case "all" => lake.overwriteAll(data)
          case "dynamic" => lake.insertOverwrite(data)
          case "replace" => lake.overwriteWhere(
            replaceCond.getOrElse(org.apache.spark.sql.functions.lit(true)), data)
          case _ => lake.upsert(data)
        }
        ()
      }
  }
}
