package graft.sql

import java.util.OptionalLong

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graftbridge.PredicateBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.lake.FileAdd
import graft.sources.FilterTranslation

/** Native DSv2 batch scan for lake snapshots the strict prover
  * certifies as a bare parquet union ([[graft.lake.LakeTable.nativeScanFiles]]:
  * all-base files, no schema-evolution adaptation, recorded lengths).
  * Everything else — MoR merge, evolved schemas — keeps the V1 fallback
  * path untouched, the same certify-completely-or-fall-through contract
  * as the metadata aggregate pushdown.
  *
  * What the native path buys at 100 TB over the V1 fallback (which
  * compiles an inner DataFrame to an RDD[Row] — paying an
  * InternalRow→Row→InternalRow double conversion per row and fencing
  * whole-stage codegen at the scan boundary):
  *
  *   - **columnar vectorized reads straight into the consuming stage**
  *     (the [[ParquetScan]] delegate's reader factory, with parquet
  *     row-group/page skipping from the pushed filters);
  *   - **exact planner statistics** ([[SupportsReportStatistics]]): the
  *     commit log's per-file bytes/rows, summed AFTER static pruning —
  *     a dimension scan pruned to one partition now auto-broadcasts;
  *   - **runtime file pruning** ([[SupportsRuntimeV2Filtering]], the
  *     dynamic-partition-pruning surface): join-key values collected at
  *     execution prune the FILE LIST through the same metadata channels
  *     as static pushdown — partition tuples, column stats ranges, and
  *     the record-key range/bloom index. A fact-dim join whose dim
  *     filter survives on 3 of 1000 partitions reads 3 partitions.
  *
  * Row-level correctness never depends on any of this: all pushed and
  * runtime predicates remain PRUNING hints (Spark re-applies every
  * filter above the scan; the runtime predicate is redundant with the
  * join it came from).
  */
final class GraftBatchScan(
    spark: SparkSession,
    table: GraftTableV2,
    required: StructType,
    pushed: Array[Filter],
    physicalSchema: StructType,
    initialFiles: Seq[FileAdd],
    dvByTarget: Map[String, Seq[FileAdd]] = Map.empty,
    /** the subset of `pushed` the partition prover claimed FULLY
      * handled — their row selection is already exact in the file
      * list, so statistics must not re-apply their selectivity */
    claimedExact: Array[Filter] = Array.empty)
  extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeV2Filtering
  with SupportsReportPartitioning {

  @volatile private var files: Seq[FileAdd] = initialFiles

  /** live deletion-vector sidecars covering `f` (empty for the common,
    * clean case — DV'd files are usually a sliver of a snapshot) */
  private def dvsOf(f: FileAdd): Seq[FileAdd] =
    if (dvByTarget.isEmpty) Nil
    else dvByTarget.getOrElse(graft.lake.DvCodec.normPath(f.path), Nil)

  /** observability for specs: file count after the last runtime
    * filter() call (-1 = no runtime filter delivered) */
  @volatile private[graft] var runtimePrunedTo: Int = -1

  /** observability for specs: current planned file count */
  private[graft] def currentFiles: Int = files.size

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"graft native scan ${table.name()} " +
      s"[files=${files.size}, pushed=${pushed.mkString(", ")}]"

  // ---- statistics (planner broadcast/reorder decisions) ---------------

  /** ANALYZE artifact ([[graft.lake.ColStats]]), loaded once per scan:
    * NDV / null counts / numeric ranges / string lengths feed Catalyst's
    * CBO (join reorder, filter selectivity) through the DSv2
    * `columnStats` surface. Absent file = no column stats, estimates-
    * only planning — never an error. */
  private lazy val analyzed: Option[graft.lake.ColStatsFile] =
    graft.lake.ColStats.load(table.lake.config.root,
      spark.sparkContext.hadoopConfiguration)

  /** Refine the scan's row estimate with frequent-items stats for
    * pushed STRING equality/IN predicates. Catalyst's FilterEstimation
    * is value-blind for strings (no numeric histogram applies, so
    * `status = 'FAILED'` estimates at 1/NDV no matter how skewed) — the
    * scan is the one place the QUERIED VALUE is visible, so the skew
    * correction lands here: selectivity = estimated value count /
    * analyzed rows, exact for a kept top-K value. Pushed filters are
    * re-applied row-level above the scan, so this only ever steers the
    * PLAN (join order, broadcast choice), never results. */
  private def freqAdjusted(exact: Long): Long = analyzed match {
    case Some(cs) if cs.rows > 0 =>
      // claimed filters are ALREADY exact in the pruned file list (the
      // partition prover selected precisely their rows) — applying a
      // table-level selectivity on top would double-count them
      val sel = pushed.filterNot(claimedExact.contains).foldLeft(1.0) { (acc, f) =>
        def est(attr: String, values: Seq[String]): Option[Double] =
          cs.cols.get(attr).flatMap { st =>
            val counts = values.flatMap(v =>
              graft.lake.ColStats.equalityEstimate(st, cs.rows, v))
            if (counts.size == values.size)
              Some(math.min(counts.sum / cs.rows, 1.0))
            else None
          }
        f match {
          case org.apache.spark.sql.sources.EqualTo(a, v: String) =>
            est(a, Seq(v)).map(acc * _).getOrElse(acc)
          case org.apache.spark.sql.sources.EqualNullSafe(a, v: String) =>
            est(a, Seq(v)).map(acc * _).getOrElse(acc)
          case org.apache.spark.sql.sources.In(a, vs)
              if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
            est(a, vs.toSeq.map(_.asInstanceOf[String]))
              .map(acc * _).getOrElse(acc)
          case _ => acc
        }
      }
      if (sel >= 1.0) exact
      else math.max(math.round(exact * sel), 1L)
    case _ => exact
  }

  override def estimateStatistics(): Statistics = {
    val fs = files
    new Statistics {
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val out = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        analyzed.foreach { cs =>
          required.fields.foreach { f =>
            cs.cols.get(f.name).foreach { st =>
              out.put(Expressions.column(f.name),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): OptionalLong = OptionalLong.of(st.ndv)
                  override def nullCount(): OptionalLong = OptionalLong.of(st.nulls)
                  override def avgLen(): OptionalLong =
                    if (st.avgLen > 0) OptionalLong.of(st.avgLen) else OptionalLong.empty()
                  override def maxLen(): OptionalLong =
                    if (st.maxLen > 0) OptionalLong.of(st.maxLen) else OptionalLong.empty()
                  override def min(): java.util.Optional[Object] =
                    graft.lake.ColStats.catalystValue(st.min, f.dataType) match {
                      case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                      case None => java.util.Optional.empty()
                    }
                  override def max(): java.util.Optional[Object] =
                    graft.lake.ColStats.catalystValue(st.max, f.dataType) match {
                      case Some(v) => java.util.Optional.of(v.asInstanceOf[Object])
                      case None => java.util.Optional.empty()
                    }
                  // equi-height histogram (ANALYZE pass 2): Catalyst's
                  // FilterEstimation consumes this for skew-aware
                  // selectivity where min/max interpolation misleads
                  override def histogram(): java.util.Optional[
                      org.apache.spark.sql.connector.read.colstats.Histogram] =
                    Option(st.hist).filter(_.nonEmpty) match {
                      case Some(hbins) =>
                        val h = new org.apache.spark.sql.connector.read.colstats.Histogram {
                          override def height(): Double =
                            math.max(cs.rows - st.nulls, 0L).toDouble / hbins.size
                          override def bins(): Array[
                              org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                            hbins.map { b =>
                              new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                                override def lo(): Double = b.lo
                                override def hi(): Double = b.hi
                                override def ndv(): Long = b.ndv
                              }
                            }.toArray
                        }
                        java.util.Optional.of(h)
                      case None => java.util.Optional.empty()
                    }
                })
            }
          }
        }
        out
      }
      // commit-log exact bytes of the PRUNED file list (never 0: a
      // zero estimate would make an empty-pruned scan look free to
      // duplicate; 1 byte keeps it broadcastable without lying)
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.max(fs.map(_.bytes).sum, 1L))
      override def numRows(): OptionalLong =
        if (fs.nonEmpty && fs.forall(_.rows > 0L)) {
          // DV'd positions never reach the consuming operator — subtract
          // them so the planner's row estimate stays exact (a DV add's
          // `rows` is its position count; positions are never duplicated
          // across a target's sidecars)
          val exact = fs.map(_.rows).sum - fs.flatMap(dvsOf).map(_.rows).sum
          OptionalLong.of(freqAdjusted(exact))
        } else OptionalLong.empty()
    }
  }

  // ---- runtime (dynamic partition pruning) filtering -------------------

  /** Join keys on these columns are eligible for runtime pruning: the
    * metadata can translate each into file skipping (partition tuples /
    * stats ranges / key range+bloom). */
  override def filterAttributes(): Array[NamedReference] = {
    val keyAttr =
      if (table.lake.config.keyCols.size == 1) table.lake.config.keyCols
      else Seq.empty
    // only columns in THIS scan's (pruned) output: Spark resolves these
    // against the scan relation and fails loud on an absent column
    val out = required.fieldNames.toSet
    (table.lake.config.partitionCols ++ table.lake.config.statsCols ++ keyAttr)
      .distinct.filter(out.contains).map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val cols = predicates.toSeq
      .flatMap(PredicateBridge.toV1)
      .flatMap(FilterTranslation.toColumn(_))
    cols.reduceOption(_ && _).foreach { cond =>
      table.lake.resolvePredicate(cond, table.pinned).foreach { p =>
        files = table.lake.pruneFilesFor(files, p, table.pinned)
      }
    }
    runtimePrunedTo = files.size
  }

  // ---- storage-partitioned joins (key-grouped partitioning) -----------

  /** (file path → typed partition key, original distinct keys) when the
    * snapshot's directory tuples parse back exactly
    * ([[graft.lake.LakeTable.partitionKeyRows]]). Computed ONCE over the
    * static file set: runtime filters only remove files, and the
    * original key set must survive them (pruned keys plan as EMPTY
    * groups) so the reported partitioning stays truthful. */
  private lazy val keyedPlan: Option[(Map[String, InternalRow], Seq[InternalRow])] =
    table.lake.partitionKeyRows(initialFiles, table.pinned).map { keys =>
      val byPath = initialFiles.map(_.path).zip(keys).toMap
      val distinct = scala.collection.mutable.LinkedHashSet.empty[InternalRow]
      keys.foreach(distinct += _)
      (byPath, distinct.toSeq)
    }

  /** Identity-transform key-grouped partitioning over the user
    * partition columns: two lake tables co-partitioned on the join key
    * plan a storage-partitioned join — NO shuffle on either side (with
    * spark.sql.sources.v2.bucketing.enabled), and a groupBy on the
    * partition columns aggregates shuffle-free. Reported only when
    * every directory tuple provably maps back to its typed value. */
  override def outputPartitioning(): Partitioning = keyedPlan match {
    case Some((_, allKeys)) =>
      new KeyGroupedPartitioning(
        table.lake.config.partitionCols
          .map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression)
          .toArray,
        allKeys.size)
    case None => new UnknownPartitioning(0)
  }

  // ---- partition planning & reading -----------------------------------

  private def splitsOf(fs: Seq[FileAdd], maxSplit: Long): Seq[PartitionedFile] =
    graft.lake.LogFileIndex.statusesOf(fs, spark.sparkContext.hadoopConfiguration)
      .flatMap { st =>
        val len = st.getLen
        (0L until len by maxSplit).map { offset =>
          PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
            offset, math.min(maxSplit, len - offset),
            Array.empty[String], 0L, len)
        }
      }.sortBy(-_.length)

  /** DV'd files plan one partition PER SPLIT (row-group parallelism
    * kept) so the reader knows the single file its row indexes belong
    * to; clean files bin-pack as before. DV partitions read row-based
    * with the position anti-filter; the clean majority stays columnar. */
  private def planOf(fs: Seq[FileAdd], maxSplit: Long,
      startIdx: Int): Seq[InputPartition] = {
    val (dvd, clean) = fs.partition(f => dvsOf(f).nonEmpty)
    var idx = startIdx - 1
    val cleanParts = FilePartition.getFilePartitions(
        spark, splitsOf(clean, maxSplit), maxSplit)
      .map { fp => idx += 1; FilePartition(idx, fp.files) }
    val dvParts = dvd.flatMap { f =>
      val sidecars = dvsOf(f).map(_.path).toArray
      splitsOf(Seq(f), maxSplit).map { s =>
        idx += 1
        GraftDvPartition(FilePartition(idx, Array(s)), sidecars)
      }
    }
    cleanParts ++ dvParts
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = files
    val maxSplit = FilePartition.maxSplitBytes(spark, fs.map(_.bytes).sum)
    keyedPlan match {
      case None =>
        // parquet is splittable at row-group granularity: slice large
        // files so one straggler cannot serialize a stage (the
        // FileSourceScan packing discipline: largest-first, bin-packed)
        planOf(fs, maxSplit, 0).toArray
      case Some((keyOfPath, allKeys)) =>
        // one group of keyed partitions per ORIGINAL key — a key whose
        // files a runtime filter pruned still plans (as an empty group),
        // so the key-grouped partitioning the join was planned on is
        // preserved while the pruned partitions read zero bytes
        val byKey = fs.groupBy(f => keyOfPath(f.path))
        var idx = 0
        allKeys.flatMap { k =>
          byKey.get(k) match {
            case Some(group) =>
              val parts = planOf(group, maxSplit, idx)
              idx += parts.size
              parts.map(GraftKeyedPartition(_, k))
            case None =>
              idx += 1
              Seq(GraftKeyedPartition(
                FilePartition(idx - 1, Array.empty[PartitionedFile]), k))
          }
        }.toArray
    }
  }

  /** The reader factory comes from a real [[ParquetScan]] delegate so
    * every hadoopConf key the parquet readers expect (read-support
    * class, schema strings, session timezone, rebase modes, …) is set
    * by Spark's own code, not replicated here. The delegate's file
    * index is an empty placeholder — createReaderFactory never consults
    * it; THIS scan plans the partitions from the commit log. */
  private lazy val delegate: ParquetScan = ParquetScan(
    spark,
    spark.sessionState.newHadoopConf(),
    new InMemoryFileIndex(spark, Nil, Map.empty, Some(physicalSchema)),
    dataSchema = physicalSchema,
    readDataSchema = required,
    readPartitionSchema = new StructType(),
    // only filters whose columns are IN the read schema reach the
    // parquet reader: a filter on an unprojected column makes parquet's
    // column-index page filtering compute empty row ranges (measured:
    // zero rows from a file whose every row matches). The commit-log
    // file pruning already consumed those filters at the file level;
    // losing their row-group skipping is a cost, never a wrong answer.
    pushedFilters = {
      val out = required.fieldNames.toSet
      pushed.filter(_.references.forall(out.contains))
    },
    options = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
    pushedAggregate = None,
    partitionFilters = Seq.empty,
    dataFilters = Seq.empty)

  /** Second delegate for DV'd splits: the same ParquetScan with the
    * parquet readers' internal row-index column appended to the read
    * schema — both reader paths (vectorized and parquet-mr) recognize
    * the temporary name and GENERATE each row's file-level row index,
    * exactly the coordinate space the DV sidecars record. */
  private lazy val dvDelegate: ParquetScan = ParquetScan(
    spark,
    spark.sessionState.newHadoopConf(),
    new InMemoryFileIndex(spark, Nil, Map.empty, Some(physicalSchema)),
    dataSchema = physicalSchema,
    // nullable is load-bearing: the readers classify a nullable
    // not-in-file column as constant (instead of failing "required
    // column missing"), and the row-index generator then overwrites the
    // constant vector with each row's file-level index
    readDataSchema = StructType(required.fields :+
      org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true)),
    readPartitionSchema = new StructType(),
    pushedFilters = {
      val out = required.fieldNames.toSet
      pushed.filter(_.references.forall(out.contains))
    },
    options = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
    pushedAggregate = None,
    partitionFilters = Seq.empty,
    dataFilters = Seq.empty)

  override def createReaderFactory(): PartitionReaderFactory = {
    // Spark requires every partition of one scan to answer columnar
    // support identically. Live DVs used to demote the whole scan to a
    // row-exposed handoff; now DV'd splits filter their ColumnarBatches
    // IN PLACE (a zero-copy selection-vector view dropping the dead
    // positions) so the scan stays columnar end-to-end — clean splits
    // hand their batches through untouched. The row path below remains
    // as the fallback when either delegate reports no columnar support.
    val anyDv = files.exists(f => dvsOf(f).nonEmpty)
    new GraftReaderFactory(
      delegate.createReaderFactory(),
      if (anyDv) Some(dvDelegate.createReaderFactory()) else None,
      required,
      new graft.lake.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
  }
}

/** A file-split partition tagged with its typed partition-key row —
  * the [[HasPartitionKey]] contract key-grouped (storage-partitioned)
  * planning requires of every input partition. Wraps either a plain
  * [[FilePartition]] or a [[GraftDvPartition]]. */
private[graft] final case class GraftKeyedPartition(
    inner: InputPartition, key: InternalRow)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** One split of a deletion-vector'd data file plus its live sidecars —
  * exactly one file per partition, so the reader's row indexes have an
  * unambiguous coordinate space. */
private[graft] final case class GraftDvPartition(
    fp: FilePartition, dvPaths: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Routes partitions to the right delegate: plain splits to the
  * columnar parquet factory untouched; DV'd splits to the row-index
  * delegate wrapped in the position anti-filter — COLUMNAR when both
  * delegates support it (the dead positions drop out through a
  * zero-copy selection-vector batch view, so a live DV no longer costs
  * the whole scan its columnar handoff), row-based otherwise. Unwraps
  * [[GraftKeyedPartition]] first (the parquet factories pattern-match
  * on [[FilePartition]]). */
private final class GraftReaderFactory(
    plain: PartitionReaderFactory,
    dv: Option[PartitionReaderFactory],
    required: StructType,
    conf: graft.lake.SerializableHadoopConf)
  extends PartitionReaderFactory {

  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: GraftKeyedPartition => k.inner
    case other => other
  }

  /** parquet factories answer supportColumnarReads from (conf, read
    * schema) alone — partition-independent — so one probe settles the
    * UNIFORM answer Spark requires across the scan's partitions */
  private lazy val columnarMode: Boolean = {
    val probe = FilePartition(0, Array.empty[PartitionedFile])
    plain.supportColumnarReads(probe) && dv.forall(_.supportColumnarReads(probe))
  }

  private def dvPositions(d: GraftDvPartition): Array[Long] = {
    // union of the target's sidecars (multiple dv_delete commits can
    // stack on one file; positions never repeat across them)
    val positions = d.dvPaths
      .flatMap(path => graft.lake.DvCodec.read(conf.value, path))
    java.util.Arrays.sort(positions)
    positions
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    unwrap(p) match {
      case d: GraftDvPartition =>
        val factory = dv.getOrElse(throw new IllegalStateException(
          "DV partition planned without a DV reader delegate"))
        val inner: PartitionReader[InternalRow] =
          if (factory.supportColumnarReads(d.fp))
            new ColumnarRowsReader(factory.createColumnarReader(d.fp))
          else factory.createReader(d.fp)
        new DvFilteringReader(inner, dvPositions(d), required)
      case fp: FilePartition if dv.isDefined =>
        // non-columnar fallback under live DVs: clean splits still
        // DECODE vectorized, exposed through the batch's row iterator
        if (plain.supportColumnarReads(fp))
          new ColumnarRowsReader(plain.createColumnarReader(fp))
        else plain.createReader(fp)
      case other => plain.createReader(other)
    }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    unwrap(p) match {
      case d: GraftDvPartition =>
        val factory = dv.getOrElse(throw new IllegalStateException(
          "DV partition planned without a DV reader delegate"))
        new DvColumnarReader(
          factory.createColumnarReader(d.fp), dvPositions(d), required.length)
      case other => plain.createColumnarReader(other)
    }

  override def supportColumnarReads(p: InputPartition): Boolean = columnarMode
}

/** Columnar position anti-filter: drops a DV'd split's dead rows from
  * each [[org.apache.spark.sql.vectorized.ColumnarBatch]] without
  * copying values — survivors are exposed through a selection-vector
  * view over the original vectors, and the appended row-index column is
  * projected off by simply not including its vector. Batches with no
  * dead rows (the common case: DVs are sparse) pass through with zero
  * per-row work beyond the position probe. */
private final class DvColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    positions: Array[Long],
    nRequired: Int)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private var cur: ColumnarBatch = _

  override def next(): Boolean = {
    while (inner.next()) {
      val batch = inner.get()
      val n = batch.numRows()
      val idxVec = batch.column(nRequired) // generated file row indexes
      var dead = 0
      val keep = new Array[Int](n)
      var kept = 0
      var i = 0
      // merge scan: row indexes ascend within a batch, positions are
      // sorted — one pointer walk instead of a binary search per row
      // (measured: the per-row search dominated the DV'd read's cost).
      // A non-monotonic index (never produced by the parquet readers,
      // guarded anyway) falls back to a binary search for that row.
      var pp =
        if (n == 0) 0
        else {
          val s = java.util.Arrays.binarySearch(positions, idxVec.getLong(0))
          if (s < 0) -s - 1 else s
        }
      var last = Long.MinValue
      while (i < n) {
        val idx = idxVec.getLong(i)
        val isDead =
          if (idx < last) java.util.Arrays.binarySearch(positions, idx) >= 0
          else {
            while (pp < positions.length && positions(pp) < idx) pp += 1
            pp < positions.length && positions(pp) == idx
          }
        if (isDead) dead += 1
        else { keep(kept) = i; kept += 1 }
        last = idx
        i += 1
      }
      if (dead == 0) {
        val cols = new Array[ColumnVector](nRequired)
        var j = 0
        while (j < nRequired) { cols(j) = batch.column(j); j += 1 }
        cur = new ColumnarBatch(cols, n)
        return true
      } else if (kept > 0) {
        val sel = java.util.Arrays.copyOf(keep, kept)
        val cols = new Array[ColumnVector](nRequired)
        var j = 0
        while (j < nRequired) {
          cols(j) = new SelectedColumnVector(batch.column(j), sel); j += 1
        }
        cur = new ColumnarBatch(cols, kept)
        return true
      }
      // every row dead: skip the batch entirely
    }
    false
  }
  override def get(): ColumnarBatch = cur
  override def close(): Unit = inner.close()
}

/** Zero-copy row-selection view over a [[ColumnVector]]: accessor calls
  * remap through the selection array; struct children wrap recursively
  * so nested access remaps too. Never closes the underlying vector —
  * its lifecycle belongs to the parquet reader that produced it. */
private final class SelectedColumnVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector,
    sel: Array[Int])
  extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType()) {

  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = {
    var n = 0; var i = 0
    while (i < sel.length) { if (inner.isNullAt(sel(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(i: Int): Boolean = inner.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(sel(i))
  override def getByte(i: Int): Byte = inner.getByte(sel(i))
  override def getShort(i: Int): Short = inner.getShort(sel(i))
  override def getInt(i: Int): Int = inner.getInt(sel(i))
  override def getLong(i: Int): Long = inner.getLong(sel(i))
  override def getFloat(i: Int): Float = inner.getFloat(sel(i))
  override def getDouble(i: Int): Double = inner.getDouble(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    inner.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    inner.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(sel(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    inner.getInterval(sel(i))
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    new SelectedColumnVector(inner.getChild(ordinal), sel)
}

/** Exposes a columnar parquet reader as rows — the vectorized reader is
  * still the fastest way to decode the DV'd split; only the anti-filter
  * needs row granularity. */
private final class ColumnarRowsReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch])
  extends PartitionReader[InternalRow] {
  private var it: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var cur: InternalRow = _
  override def next(): Boolean = {
    while (!it.hasNext) {
      if (!inner.next()) return false
      it = inner.get().rowIterator()
    }
    cur = it.next()
    true
  }
  override def get(): InternalRow = cur
  override def close(): Unit = inner.close()
}

/** Drops the rows whose generated row index (the appended last column)
  * is in the sorted DV position set, then projects the row-index column
  * back off — the position-delete read filter, applied before the row
  * ever leaves the scan. */
private final class DvFilteringReader(
    inner: PartitionReader[InternalRow],
    positions: Array[Long],
    required: StructType)
  extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  private val idxCol = required.length
  private val proj = UnsafeProjection.create(
    required.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) })
  private var cur: InternalRow = _
  override def next(): Boolean = {
    while (inner.next()) {
      val r = inner.get()
      if (java.util.Arrays.binarySearch(positions, r.getLong(idxCol)) < 0) {
        cur = proj(r)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = inner.close()
}
