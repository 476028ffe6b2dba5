package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Table configuration — mirrors the reference's Hudi write options
  * (`glue/HudiJarGlueJob.py:80-85`):
  *   keyCols      ≙ hoodie.datasource.write.recordkey.field
  *   precombineCol≙ hoodie.datasource.write.precombine.field
  *   partitionCols≙ hoodie.datasource.write.partitionpath.field — one or
  *                  several fields (MultiPartKeysValueExtractor's general
  *                  form, `:81`); empty ≙ NonpartitionedKeyGenerator (`:82`)
  */
final case class LakeTableConfig(
    root: String,
    keyCols: Seq[String],
    precombineCol: String,
    partitionCols: Seq[String] = Seq.empty,
    /** false ≙ Hudi's default partition-scoped index: a record key is
      * unique per partition, and upserting a key under a new partition
      * value leaves the old partition's row in place (what the reference's
      * CDC replay actually produces). true ≙ GLOBAL_SIMPLE-style index:
      * the key is unique table-wide; the winning row decides the
      * partition, and superseded rows in other partitions are dropped —
      * found via a column-pruned key+partition scan, not a full read.
      */
    globalIndex: Boolean = false,
    /** "cow" ≙ COPY_ON_WRITE (the reference's active mode,
      * HudiJarGlueJob.py:76): upsert merges at write time, reads are plain
      * scans. "mor" ≙ the declared-but-unused MERGE_ON_READ (`:77`):
      * upsert/delete append cheap delta files (tombstones for deletes),
      * snapshot reads merge base+delta on the fly, and `compact()`
      * rewrites deltas into base files (inline-compaction equivalent).
      */
    storageType: String = "cow",
    /** MoR inline compaction: auto-compact once this many delta commits
      * accumulate since the last base write (reference knob
      * `hoodie.compact.inline.max.delta.commits: 20`,
      * HudiJarGlueJob.py:77). 0 disables.
      */
    compactEvery: Int = 0,
    /** >0: a derived bucket `pmod(hash(keyCols), n)` becomes the LAST
      * partition-path level — a file-group index (Hudi's file-group /
      * bloom-index role). Any upsert/delete can then prune to the buckets
      * its keys hash into, so even an otherwise UNPARTITIONED table
      * rewrites ~|touched buckets|/n of its files instead of everything.
      */
    hashBuckets: Int = 0,
    /** Columns to record per-file min/max for in the commit log (Hudi's
      * column-stats index): `read(pruneBy)` then skips files — before
      * listing them into the scan — whose recorded range provably cannot
      * satisfy the predicate. Worth configuring for columns the data is
      * naturally clustered on (event time, ingest date, monotonic ids);
      * stats on a column that is uniform across files prune nothing —
      * pair with [[clusterCols]] to MAKE them clustered.
      */
    statsCols: Seq[String] = Seq.empty,
    /** Intra-partition file clustering for base writes (Hudi clustering /
      * space-filling-lite): when set, each partition's rows range-cluster
      * across files by THESE columns instead of the record key, giving
      * [[statsCols]] on the same columns disjoint per-file ranges — real
      * data skipping for read predicates. Tradeoff: the footer key-range
      * index then records overlapping key ranges and prunes index lookups
      * less (still conservative, never wrong) — pick clusterCols for
      * read-heavy tables queried by time/range predicates, default key
      * clustering for upsert-heavy tables.
      */
    clusterCols: Seq[String] = Seq.empty,
    /** With 2+ numeric [[clusterCols]]: cluster files by the bit-
      * interleaved Z-value of the columns instead of their lexicographic
      * order (Hudi/Delta Z-ORDER). Linear multi-column clustering skips
      * well only on the LEADING column; Z-ordering gives every clustered
      * dimension bounded per-file ranges, so [[statsCols]] predicates on
      * ANY of them prune files. Buckets are equal-width over the
      * column's observed min/max per commit (256 per dimension).
      */
    zOrder: Boolean = false,
    /** >0: per-file `_record_key` bloom filters (the probe half of Hudi's
      * BLOOM index; the footer key-range is the range half). At commit
      * time every written file gets a bloom over its keys, persisted as
      * a dot-prefixed sidecar NEXT to the data file (so clean / rollback
      * / vacuum retire it with its file, and parquet readers skip it as
      * a hidden file). Point lookups and upsert/delete probes then drop
      * candidate files the range check cannot: wherever per-file key
      * ranges OVERLAP — MoR delta stacks, hash-spread ingest, compacted
      * bucket bases — ranges prune nothing while blooms prune to the
      * files that actually saw the key (within fpp). The value sizes the
      * filter (expected keys per file at 1% fpp; ~1.2 MB per 1M keys);
      * overflow only degrades fpp, never correctness — a bloom has no
      * false negatives, so pruning stays conservative.
      */
    bloomKeys: Int = 0,
    /** Per-file VALUE bloom filters on arbitrary data columns (Delta's
      * bloom-filter-index role; [[bloomKeys]] generalized beyond the
      * record key). At commit time every written file gets one filter
      * per listed column — values cast to string, nulls skipped — all
      * persisted in ONE `.bfm` sidecar next to the data file (retired
      * with it by clean/rollback, skipped by parquet readers as
      * hidden). Equality / IN predicates on these columns then prune
      * the FILE LIST to the files that actually saw a probed value —
      * the point-lookup regime column min/max ranges cannot serve
      * (high-cardinality values spread across every file's range). The
      * columns are pinned against rename/drop like statsCols; safe
      * render types only (string/integral/boolean/date — enforced at
      * the first write), so the probe literal and the stored value
      * compare in one encoding. Filters size to [[bloomKeys]] when set,
      * else 100k expected values at 1% fpp; overflow degrades fpp,
      * never correctness.
      */
    bloomCols: Seq[String] = Seq.empty,
    /** Per-file EXACT column sums recorded at commit time (one extra
      * column-pruned aggregation pass per commit, collected at
      * metadata scale): a global `SUM(col)` — unfiltered, or filtered
      * by a provably-exact partition predicate — then answers from the
      * commit log alone, the same no-scan contract as `count(*)` and
      * MIN/MAX. At 100 TB a dashboard's running total must not scan
      * either. Integral columns only (exact decimal accumulation;
      * floats are order-sensitive); NULL semantics ride a per-file
      * non-null count (SUM of zero non-null rows is NULL). Columns are
      * pinned against rename/drop like statsCols; snapshots with
      * pending MoR deltas or pre-upgrade files fall back to the scan.
      */
    sumCols: Seq[String] = Seq.empty,
    /** CHECK constraints (Delta CHECK / Hudi pre-commit validator role):
      * name → SQL boolean expression over the row. Enforced INSIDE the
      * write pass of every commit (a codegen'd per-row guard fused into
      * the write scan — no second pass over the data): the first
      * violating row fails the commit with the constraint name and the
      * row's JSON; the files-then-log protocol leaves the table
      * unchanged (the partial write is invisible orphans).
      */
    checks: Map[String, String] = Map.empty,
    /** what a CHECK violation does to the write (DLT expectation modes):
      * "fail" (default) — the first violating row fails the whole commit
      * (codegen'd guard fused into the write scan, zero extra passes);
      * "drop" — violating rows are filtered OUT of the batch at the
      * ingest boundary (expect_or_drop) and per-check dropped counts
      * travel in the commit metadata as `check.dropped.<name>`. Drop
      * mode pins the batch with a localCheckpoint and pays one counting
      * aggregation over it — the price of counts that cannot lie;
      * "warn" — violating rows LAND (DLT's plain expect: the check is
      * an observability contract, not a gate) and per-check violation
      * counts travel in the commit metadata as `check.warned.<name>`
      * (same pinned-batch counting pass as drop). Counts cover the
      * INGEST boundary; rows produced by transformations (UPDATE/MERGE
      * assignments) land unscored in warn mode — gating them is what
      * fail/drop are for.
      */
    checkMode: String = "fail",
    /** Full Hudi meta-column read parity (MockCuratedGlueJob.py:23-24
      * observes the 5-column `_hoodie_*` surface). The always-on pair
      * `_commit_id`/`_record_key` is complemented, when this flag is set,
      * by:
      *  - `_commit_seqno`: materialized AT WRITE TIME as
      *    `<commitId>_<rowId>` (rowId = monotonically_increasing_id, the
      *    partition-prefixed row index — Hudi's
      *    `<commit>_<writerToken>_<rowIndex>` shape). Persisted, so it
      *    survives CoW rewrites and compaction like `_commit_id` does.
      *  - `_file_name`: the basename of the parquet file each row was
      *    READ from, captured at scan (`input_file_name`) on snapshot /
      *    time-travel reads — a read-surface column, never persisted
      *    (compaction rewrites would otherwise freeze a stale name).
      */
    metaColumns: Boolean = false,
    /** Hidden partitioning (Iceberg partition transforms): one spec per
      * [[partitionCols]] entry — `identity` (default), `years`, `months`,
      * `days`, `hours`, `bucket[N]`, `truncate[W]` (see [[PartTransform]]).
      * Empty ≙ all identity. A transformed level stores the TRANSFORM
      * value in the directory name while data files keep the source
      * column untouched, so a `days(ts)`-partitioned table prunes
      * directories for `WHERE ts >= …` without the query (or the 86 400
      * distinct-values-per-day explosion of identity partitioning)
      * ever seeing the layout. Exactness provers (filtered metadata
      * aggregates, grouped metadata aggs, storage-partitioned join
      * reporting) refuse on non-identity transforms — a level value is
      * not a row value — while directory pruning, upsert/delete
      * partition scoping, and dynamic overwrite all operate on the
      * transformed tuples.
      */
    partitionTransforms: Seq[String] = Seq.empty,
    /** Materialize a commit-log [[Checkpoint]] every N commits (Delta's
      * parquet-checkpoint cadence; 0 = never). A cold reader of a long
      * timeline then resolves snapshots from the newest checkpoint plus
      * the tail — O(N) metadata opens instead of O(timeline). Pure
      * accelerator: results are byte-identical with checkpoints deleted.
      */
    checkpointEvery: Int = LakeTableConfig.DefaultCheckpointEvery,
    /** Partition-spec EVOLUTION history (Iceberg spec-id role): the
      * transform specs this table's partitioning previously used, oldest
      * first, EXCLUDING the current one ([[partitionTransforms]]). Spec
      * id `i < priorPartitionSpecs.size` indexes into this seq; the
      * current spec's id is `priorPartitionSpecs.size` — so a table that
      * never evolved has one spec, id 0, matching [[FileAdd.spec]]'s
      * pre-upgrade default. Files keep the layout of the spec they were
      * written under; every partition-tuple comparison (pruning, upsert/
      * delete/overwrite scoping) dispatches per file. An empty inner seq
      * renders as all-identity. Evolve via
      * [[LakeTable.evolvePartitionSpec]], never by editing this directly.
      */
    priorPartitionSpecs: Seq[Seq[String]] = Seq.empty,
    /** Archive the non-travelable timeline prefix automatically after
      * every [[LakeTable.clean]] (Hudi pairs KEEP_LATEST_COMMITS with
      * timeline archival the same way). Off by default: archival turns
      * below-horizon time travel from a scan-time failure into a loud
      * refusal, which is a contract change an operator opts into. */
    archiveOnClean: Boolean = false,
    /** Same-partition OCC auto-retry (Delta commit-loop role, opt-in):
      * when a write loses the optimistic race and the disjoint-writer
      * rebase does not apply, re-run the WHOLE operation (resolve the
      * new head, re-merge, re-publish) up to this many extra attempts
      * with jittered backoff. 0 (default) keeps the established
      * contract: the loser throws [[CommitConflict]] and the caller
      * decides. Retries re-execute the full read-merge-write — the
      * serial-equivalent outcome, never a replay of stale plans. */
    occRetries: Int = 0,
    /** how predicate/SQL deletes execute on CoW: "rewrite" (default,
      * the keyed file-group rewrite) or "dv" (position-delete sidecars,
      * [[LakeTable.deleteDv]] — O(positions) written instead of
      * O(rewritten bytes); whole-partition predicates still take the
      * metadata-only drop either way). Ignored on MoR. */
    deleteMode: String = "rewrite",
    /** how SQL UPDATEs execute on CoW: "rewrite" (default — the
      * merge-backed keyed rewrite) or "dv" ([[LakeTable.updateDvWhere]]:
      * position sidecars + new version files, O(changed rows) written).
      * Ignored on MoR. */
    updateMode: String = "rewrite",
    /** VARIANT / JSON shredding (the Parquet variant-shredding and
      * Iceberg v3 role, re-expressed on the commit log): entries
      * `column:$.json.path:type` (e.g. `ev:$.user.id:bigint`). Every
      * data write MATERIALIZES each entry as a typed shadow column
      * (`_shred_<hash>`) in the physical files — invisible to readers,
      * whose explicit-schema scans never select it — and records its
      * per-file min/max in the commit log beside the statsCols. A
      * `read(pruneBy)` predicate over the SAME extraction expression
      * (`variant_get(col, path, type)` on a VARIANT column;
      * `get_json_object(col, path)` [cast] on a JSON string column)
      * then skips files before the scan is planned: at 100 TB, a
      * needle-in-the-JSON predicate must not decode every row's
      * variant. Entries are ALTER-able; files written before an entry
      * existed simply carry no stat and are conservatively kept. */
    shredPaths: Seq[String] = Seq.empty,
    /** identity columns (`GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY`):
      * col → "start:step:allowExplicit". The ENGINE assigns values at
      * the ingest boundary for rows whose column is NULL — races
      * between concurrent writers are settled by exclusive range claims
      * through the CommitStore conditional-put contract, so two writers
      * can never mint the same value. Values are unique and increase
      * with allocation order but MAY HAVE GAPS (Delta's identity
      * contract): ranges are claimed per batch, not per row. ALWAYS
      * (allowExplicit=false) additionally rejects UPDATE/MERGE
      * assignments to the column. */
    identityCols: Map[String, String] = Map.empty,
    /** generated columns (`GENERATED ALWAYS AS (expr)`): col → SQL
      * expression over the row's other columns. The engine RECOMPUTES
      * the expression on every logical write (the column is derived —
      * the engine owns it; explicit inserted values are ignored), and
      * rejects direct UPDATE/MERGE assignments. Expressions may not
      * reference other generated or identity columns. */
    generatedCols: Map[String, String] = Map.empty) {
  require(occRetries >= 0, s"occRetries must be >= 0, got $occRetries")
  /** parsed identity specs: col → (start, step, allowExplicitInsert) */
  val identitySpecs: Map[String, (Long, Long, Boolean)] =
    Option(identityCols).getOrElse(Map.empty).map { case (c, s) =>
      s.split(':') match {
        case Array(st, sp, ae) => c -> (st.toLong, sp.toLong, ae.toBoolean)
        case _ => throw new IllegalArgumentException(
          s"identityCols entry must be 'start:step:allowExplicit', got $c -> $s")
      }
    }
  require(identitySpecs.values.forall(_._2 != 0L),
    "identity step must be non-zero")
  /** columns whose values the engine derives (assignment-rejected) */
  def computedCols: Set[String] =
    Option(generatedCols).getOrElse(Map.empty).keySet ++
      identitySpecs.collect { case (c, (_, _, false)) => c }
  /** parsed shred entries; fails loud on a malformed entry */
  val shredSpecs: Seq[ShredSpec] = shredPaths.map(ShredSpec.parse)
  require(deleteMode == "rewrite" || deleteMode == "dv",
    s"deleteMode must be rewrite|dv, got $deleteMode")
  require(updateMode == "rewrite" || updateMode == "dv",
    s"updateMode must be rewrite|dv, got $updateMode")
  require(checkpointEvery >= 0,
    s"checkpointEvery must be >= 0, got $checkpointEvery")
  require(storageType == "cow" || storageType == "mor",
    s"storageType must be cow|mor, got $storageType")
  require(partitionTransforms.isEmpty ||
      partitionTransforms.size == partitionCols.size,
    s"partitionTransforms (${partitionTransforms.size}) must match " +
      s"partitionCols (${partitionCols.size}) or be empty")
  /** parsed transform per partition level (identity-filled when unset) */
  val transforms: Seq[PartTransform] =
    if (partitionTransforms.isEmpty) partitionCols.map(_ => PartTransform.Identity)
    else partitionTransforms.map(PartTransform.parse)
  require(priorPartitionSpecs.forall(s =>
      s.isEmpty || s.size == partitionCols.size),
    "every prior partition spec must match partitionCols arity or be empty")
  /** full parsed spec history, oldest first; the LAST entry is the
    * current spec ([[transforms]]) and its index is [[currentSpecId]] */
  val specHistory: Seq[Seq[PartTransform]] =
    priorPartitionSpecs.map { s =>
      if (s.isEmpty) partitionCols.map(_ => PartTransform.Identity)
      else s.map(PartTransform.parse)
    } :+ transforms
  def currentSpecId: Int = specHistory.size - 1
  def hasSpecHistory: Boolean = specHistory.size > 1
  def hasHiddenParts: Boolean =
    transforms.exists(_ != PartTransform.Identity)
  /** true when ANY spec in the history is non-identity — the guard the
    * exactness provers use: a file written under a transformed spec has
    * level values that are not row values, regardless of what the
    * CURRENT spec is (months → identity evolution must not un-refuse) */
  def anyHiddenSpec: Boolean =
    specHistory.exists(_.exists(_ != PartTransform.Identity))
  // A partition-scoped index keys uniqueness on the RAW partition value,
  // but a transformed level folds many raw values into one directory —
  // two versions of a key with different timestamps in the same day
  // would count as different records. Identity must therefore be the
  // key alone, table-wide (Hudi's GLOBAL index with a date partition
  // path; Iceberg/Delta have no per-partition identity at all).
  require(!anyHiddenSpec || globalIndex,
    "hidden partitioning (non-identity partitionTransforms, current or " +
      "prior spec) requires globalIndex=true: record identity cannot " +
      "depend on a transformed partition value")
  require(checkMode == "fail" || checkMode == "drop" || checkMode == "warn",
    s"checkMode must be fail|drop|warn, got $checkMode")
  require(bloomCols.forall(c => c.nonEmpty && !c.startsWith("_")),
    s"bloomCols must name user data columns, got ${bloomCols.mkString(",")}")
  require(sumCols.forall(c => c.nonEmpty && !c.startsWith("_")),
    s"sumCols must name user data columns, got ${sumCols.mkString(",")}")
  require(!zOrder || clusterCols.size >= 2,
    "zOrder requires at least two clusterCols")
  require(!zOrder || clusterCols.size <= 7,
    s"zOrder supports at most 7 columns (8 bits each in a 63-bit value), got ${clusterCols.size}")
  def isMor: Boolean = storageType == "mor"
}

object LakeTableConfig {
  /** default commit-log checkpoint cadence — one place, shared by the
    * config default and the SQL CREATE path (GraftCatalog) */
  val DefaultCheckpointEvery = 16
}

/** Copy-on-Write lake table: versioned parquet base files + JSON commit
  * timeline. Re-implements, Spark-first, the Hudi capabilities the
  * reference exercises (SURVEY.md §2.2 W2-W5, §1.1):
  *
  *   - bulkInsert  ≙ `hoodie...operation: bulk_insert` (HudiJarGlueJob.py:84)
  *   - upsert      ≙ `operation: upsert` + precombine latest-wins (`:80,:83`)
  *   - delete      ≙ EmptyHoodieRecordPayload delete-by-key (`:85`)
  *   - read/readAsOf ≙ snapshot / timeline reads (MockCuratedGlueJob.py:23)
  *   - clean       ≙ KEEP_LATEST_COMMITS cleaner (`:83`)
  *
  * 100 TB design:
  *   - Upsert reads and rewrites ONLY the partitions present in the incoming
  *     batch (partition pruning happens on commit-log metadata, no file
  *     listing, no full-snapshot shuffle). The merge shuffle is keyed on the
  *     record key, sized by `spark.sql.shuffle.partitions` / AQE.
  *   - Each commit writes to its own directory, so no rename/move of data
  *     files ever happens (S3-safe); the commit JSON is the only atomically
  *     renamed object.
  *   - Metadata columns `_commit_id` and `_record_key` are materialized at
  *     write time like Hudi's `_hoodie_commit_time`/`_hoodie_record_key`
  *     (observable in the reference via MockCuratedGlueJob.py:24).
  */
final class LakeTable(val spark: SparkSession, val config: LakeTableConfig) {
  import LakeTable._

  private val hconf = spark.sparkContext.hadoopConfiguration
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[LakeTable])
  val log = new CommitLog(config.root, hconf, config.checkpointEvery)

  /** physical partition-path LEVEL NAMES: the user columns (suffixed by
    * their transform when hidden-partitioned — `o_orderdate_months` —
    * so a catalog sync never claims the level string IS the source
    * column), then the derived hash bucket when configured */
  private def effParts: Seq[String] =
    config.partitionCols.indices.map(levelName) ++
      (if (config.hashBuckets > 0) Seq(BucketCol) else Nil)

  private def levelName(i: Int): String = {
    val t = config.transforms(i)
    if (t == PartTransform.Identity) config.partitionCols(i)
    else config.partitionCols(i) + "_" + t.levelSuffix
  }

  /** rendered string expression of user partition level `i` over a frame
    * typed like `df`: the transform value, cast to string, with null/''
    * folded to the sentinel. EVERY producer of partition tuples (the
    * shadow-column write, upsert/delete partition probes, dynamic
    * overwrite scoping) routes through this one function — a second
    * renderer would eventually disagree with the directories on disk. */
  private def levelExpr(df: DataFrame, i: Int,
      ts: Seq[PartTransform] = config.transforms): Column = {
    val pc = config.partitionCols(i)
    val t = ts(i)
    if (t == PartTransform.Identity) renderCol(pc)
    else {
      val dt = df.schema.fields.find(_.name == pc).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$pc' absent from frame: ${df.columns.mkString(",")}"))
      require(t.validFor(dt),
        s"partition transform '${t.spec}' is not valid for column $pc: $dt")
      val s = t.expr(col(pc), dt).cast("string")
      when(s.isNull || s === "", lit(NullPartition)).otherwise(s)
    }
  }

  private def userLevelExprs(df: DataFrame,
      ts: Seq[PartTransform] = config.transforms): Seq[Column] =
    config.partitionCols.indices.map(levelExpr(df, _, ts))

  private def effLevelExprs(df: DataFrame,
      ts: Seq[PartTransform] = config.transforms): Seq[Column] =
    userLevelExprs(df, ts) ++
      (if (config.hashBuckets > 0) Seq(renderCol(BucketCol)) else Nil)

  /** transforms of partition-spec `sid`; out-of-range ids (a file
    * written by a NEWER engine version than this reader) fall back to
    * the current spec */
  private def transformsOf(sid: Int): Seq[PartTransform] =
    config.specHistory.lift(sid).getOrElse(config.transforms)

  /** Live files whose partition tuple matches `df`'s rows — each file's
    * tuple compared under the file's OWN partition spec (spec
    * evolution: the same row renders "2024-03" under months and
    * "2024-03-07" under days; one render cannot match both layouts).
    * `userOnly` compares the user levels (overwrite scope); otherwise
    * the full effective tuple incl. the derived bucket. Single-spec
    * tables take the identical one-render path as before evolution
    * existed. */
  private def filesMatchingTuples(live: Seq[FileAdd], df: DataFrame,
      userOnly: Boolean = false): Seq[FileAdd] = {
    def select(ts: Seq[PartTransform], fs: Seq[FileAdd]): Seq[FileAdd] =
      if (userOnly) {
        val tuples = df.select(userLevelExprs(df, ts): _*).distinct()
          .collect().map(_.toSeq.map(String.valueOf)).toSet
        fs.filter(f => tuples.contains(userLevels(f.partition)))
      } else {
        val tuples = renderedTuples(df, ts)
        fs.filter(f => tuples.contains(f.partition))
      }
    if (!config.hasSpecHistory) select(config.transforms, live)
    else live.groupBy(_.spec).toSeq.sortBy(_._1).flatMap {
      case (sid, fs) => select(transformsOf(sid), fs)
    }
  }

  /** attach derived columns (the key-hash bucket) to a frame about to be
    * written or used for pruning; no-op when unconfigured */
  private def withDerived(df: DataFrame): DataFrame =
    if (config.hashBuckets > 0)
      df.withColumn(BucketCol,
        pmod(hash(config.keyCols.map(col): _*), lit(config.hashBuckets)))
    else df

  /** user partition levels of a stored tuple — a hash-bucketed table's
    * derived bucket rides as a trailing EXTRA level and must fold away
    * wherever user-partition identity is compared (limit -1 keeps
    * trailing empties so the arity is always the stored level count) */
  private def userLevels(t: String): Seq[String] =
    t.split(PartSep, -1).take(config.partitionCols.size).toSeq

  /** true when a stored user tuple cannot be mapped back to column
    * values: the hive-default level of a STRING partition column covers
    * both null and '' (an absent schema field is treated as string —
    * conservative) */
  private def ambiguousTuple(t: Seq[String], tbl: StructType): Boolean =
    t.zip(config.partitionCols).exists { case (v, p) =>
      v == LakeTable.NullPartition &&
        tbl.fields.find(_.name == p)
          .forall(_.dataType == org.apache.spark.sql.types.StringType)
    }

  // Spark's partition-path rendering sends BOTH null and empty-string
  // values to the hive default directory — mirror exactly, or pruning
  // misses those files (empty string found by review, round 1)
  private def renderCol(c: String) = {
    val s = col(c).cast("string")
    when(s.isNull || s === "", lit(NullPartition)).otherwise(s)
  }

  /** distinct raw (unescaped) partition tuples present in `df`, joined
    * with PartSep. Metadata-scale collect: bounded by touched partitions.
    */
  private def renderedTuples(df: DataFrame,
      ts: Seq[PartTransform] = config.transforms): Set[String] =
    df.select(effLevelExprs(df, ts): _*).distinct()
      .collect().map(_.toSeq.map(String.valueOf).mkString(PartSep)).toSet

  // unique per attempt: a crashed/retried write never collides with the
  // orphan directory of a previous attempt (orphans are invisible — only
  // files named in a commit JSON are live). NEW delta commits get a
  // distinct "d" prefix so the change-log directories are
  // glob-addressable — the foundation of [[tailStream]] (a layout
  // property of this version; tables written before it have no "d" dirs
  // and no tailable log). compactSmall's verbatim rewrites land under
  // "m" (maintenance): they are live delta files for snapshot reads but
  // NOT part of the change stream — emitting them would duplicate every
  // row the tail already delivered from the original directories.
  private def dataDir(commitId: Long, kind: String, op: String): Path = {
    val prefix =
      if (kind != "delta") "c"
      else if (op == "delta_compact") "m"
      else "d"
    new Path(config.root, f"data/$prefix$commitId%08d-${System.nanoTime()}%x")
  }

  def exists: Boolean = log.exists

  // ---- write paths ----------------------------------------------------

  /** Initial full load: no dedup, no index lookup (reference bulk_insert,
    * `glue/HudiJarGlueJob.py:118-126`). Refuses on a non-empty table.
    */
  def bulkInsert(df: DataFrame, meta: Map[String, String] = Map.empty): Long = {
    val base = log.snapshot()
    require(base.id.isEmpty, s"table ${config.root} already exists; use upsert")
    // stamp with the RESOLVED id, not 0: rollback-retired ids are never
    // reused, so a table emptied by rollbacks re-loads at id > 0 — a
    // hard-coded 0 stamp would hide the reload from incremental/CDC
    // readers filtering _commit_id > from
    val id = base.nextId
    val (adm, dropMeta) = admitBatch(df)
    writeCommit(withDerived(withMeta(adm, id)), "bulk_insert", base, id,
      Seq.empty, commitMeta = meta ++ dropMeta)
  }

  /** Merge a batch by record key; on key collision the row with the highest
    * (precombine, commit id) wins — stale/late batches lose to what the
    * table already holds (reference precombine, `glue/HudiJarGlueJob.py:80`).
    * Empty batches are skipped (reference guard `:96` — via cheap isEmpty,
    * not the reference's full count()).
    */
  /** Bounded same-partition OCC auto-retry (Delta's commit-loop role,
    * opt-in via [[LakeTableConfig.occRetries]]): when a write loses the
    * optimistic race and the disjoint-writer rebase could not absorb it,
    * the WHOLE operation re-executes — resolve the new head, re-merge,
    * re-publish — which is by construction the serial outcome. Jittered
    * linear backoff spreads rival writers; `occRetries = 0` (default)
    * keeps the established one-winner contract (loser throws
    * [[CommitConflict]]). */
  private def withOccRetry[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflict if attempt < config.occRetries =>
          attempt += 1
          val cap = 50L * attempt
          Thread.sleep(cap + scala.util.Random.nextLong(cap))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def upsert(batch0: DataFrame): Long = withOccRetry(upsertOnce(batch0))

  private def upsertOnce(batch0: DataFrame): Long = {
    val base = log.snapshot()
    if (batch0.isEmpty) return base.id.getOrElse(-1L)
    val (batch, dropMeta) = admitBatch(batch0)
    val id = base.nextId
    if (base.id.isEmpty) {
      // first write still precombines WITHIN the batch: only the explicit
      // bulkInsert() API skips dedup (the reference's connector job notes
      // bulk_insert performs no pre-combining, HudiConnectorGlueJob.py:85-86).
      // Stamp rows with the RESOLVED id and fix it for the commit: a
      // hard-coded 0 could diverge from the landed id under a racing
      // creator, and the rebase restamp (which matches on the resolved
      // id) would then fix nothing — rows would carry the rival's id.
      val incoming = withDerived(withMeta(batch, id))
        .withColumn("_seq", monotonically_increasing_id())
      return writeCommit(dedupWithinBatch(incoming), "upsert", base, id,
        Seq.empty, commitMeta = dropMeta,
        // read nothing (table was empty): rebase-safe against a racing
        // creator unless the global index demands table-wide key checks
        partitionScoped = !config.globalIndex)
    }
    if (config.isMor) {
      // MoR: append the batch as-is as delta files — no read, no merge,
      // no rewrite; collisions resolve at read time (morMerge). _seq
      // still pins intra-batch duplicate order.
      val incoming = withDerived(withMeta(batch, id))
        .withColumn("_seq", monotonically_increasing_id())
        .withColumn("_deleted", lit(false))
      val cid = writeCommit(incoming, "delta_commit", base, id, Seq.empty,
        kind = "delta", commitMeta = dropMeta,
        // a delta append reads nothing; collisions (even cross-partition
        // under a global index) resolve deterministically at read time by
        // (precombine, commit id) — identical to serial execution, so it
        // rebases over any intervener, a compaction of its partitions too
        partitionScoped = true, readFree = true)
      maybeInlineCompact()
      return cid
    }
    // _seq pins a total order for duplicate keys with equal precombine
    // WITHIN one batch (SURVEY.md §7.4 tie-break risk): later row wins.
    // persist: the batch is consumed 3× (partition probe, merge, write) —
    // without it the upstream plan would recompute each time.
    val incoming = withDerived(withMeta(batch, id))
      .withColumn("_seq", monotonically_increasing_id())
      .persist()
    try {
      val (oldFiles, current) = snapshotForUpsert(incoming, base)
      // winner-per-key via max_by hash aggregation, NOT a ranking window:
      // an aggregate gets map-side partial combine, so each shuffle
      // partition receives one candidate row per (task, key) instead of
      // every version — the difference between shuffling the batch and
      // shuffling the whole touched-partition union at 100 TB. (MoR's
      // read-merge keeps the window form: tombstone cutoffs need two
      // passes over the key group.)
      val union = current.unionByName(incoming, allowMissingColumns = true)
      val ord = struct(col(config.precombineCol), col("_commit_id"),
        coalesce(col("_seq"), lit(Long.MinValue)))
      val merged = union
        .groupBy(dedupCols.map(col): _*)
        .agg(max_by(struct(union.columns.map(col): _*), ord).as("_row"))
        .select(col("_row.*"))
        .drop("_seq")
      writeCommit(merged, "upsert", base, id, oldFiles.map(_.path),
        commitMeta = dropMeta,
        // non-global: the merge read exactly the touched partitions
        partitionScoped = !config.globalIndex)
    } finally incoming.unpersist()
  }

  /** Delete by key (reference's declared EmptyHoodieRecordPayload path,
    * `glue/HudiJarGlueJob.py:85`): rows of the snapshot whose record key
    * appears in `keys` are dropped; touched partitions only are rewritten
    * when `keys` carries the partition column.
    */
  def delete(keysIn: DataFrame): Long = {
    // persisted: consumed up to 3× (emptiness probe, partition-tuple
    // probe, anti-join) — same rationale as upsert's incoming persist
    val keys = keysIn.persist()
    try withOccRetry(deleteImpl(keys, log.snapshot())) finally keys.unpersist()
  }

  /** Delete every row matching `pred` (Hudi's delete-by-predicate /
    * `DELETE FROM` surface): resolves the doomed keys with a snapshot
    * read that itself engages column-stats file skipping and partition
    * pruning, then routes through the keyed delete — so a predicate on a
    * well-clustered column touches only the files and partitions that
    * can hold matches. One snapshot serves the metadata-only probe, the
    * predicate read and the keyed delete, so the doomed keys come from
    * the version the delete is validated against.
    */
  def deleteWhere(pred: org.apache.spark.sql.Column): Long =
    withOccRetry {
      val base = log.snapshot()
      dropPartitionsMetadataOnly(pred, base).getOrElse(
        withDoomedKeys(pred, base)(deleteImpl(_, base)))
    }

  /** the (partition, key) rows of `base` matching `pred`, persisted for
    * the keyed delete `body` (consumed up to 3×, like [[delete]]'s) */
  private def withDoomedKeys(pred: org.apache.spark.sql.Column,
      base: Snapshot)(body: DataFrame => Long): Long = {
    val cols = (config.partitionCols ++ config.keyCols).distinct
    val keys = readPruned(base, Some(pred)).select(cols.map(col): _*).persist()
    try body(keys) finally keys.unpersist()
  }

  /** Position-delete (deletion vectors — Iceberg v2 position deletes /
    * Delta DV role): delete by key WITHOUT rewriting the target files.
    * The matched rows' (file, row-index) pairs are written as one small
    * DV sidecar per touched file ([[DvCodec]]) and committed as
    * `kind="dv"` adds; reads drop those positions with a broadcast
    * anti-join fused into the scan. Write amplification is O(positions)
    * instead of O(rewritten file bytes) — the point-delete regime where
    * CoW's keyed rewrite pays a whole file per doomed row.
    *
    * Semantics are exactly [[delete]]'s: same key identity (null-safe,
    * partition-scoped when the keys frame pins partitions), snapshot /
    * time-travel / change-feed visibility unchanged (the DV commit is a
    * timeline commit; travel before it sees the rows). Already-deleted
    * positions never re-enter (the position scan itself reads through
    * live DVs), so repeated deletes are no-ops and metadata counts can
    * subtract DV position counts exactly. A later rewrite of a target
    * (upsert/compact) retires its DVs in the same commit
    * ([[writeCommit]]'s central rule); compaction therefore folds DVs
    * into plain base files. CoW only — MoR deletes are already O(keys)
    * tombstone deltas. */
  def deleteDv(keysIn: DataFrame): Long = {
    val keys = keysIn.persist()
    try withOccRetry(deleteDvImpl(keys, log.snapshot())) finally keys.unpersist()
  }

  /** [[deleteWhere]] on the DV path: resolves doomed keys with the same
    * stats-skipping snapshot read, then position-deletes them. */
  def deleteWhereDv(pred: org.apache.spark.sql.Column): Long =
    withOccRetry {
      val base = log.snapshot()
      // a provable whole-partition predicate is still better served by
      // the metadata-only drop (zero rows read OR written) than by positions
      dropPartitionsMetadataOnly(pred, base).getOrElse(
        withDoomedKeys(pred, base)(deleteDvImpl(_, base)))
    }

  /** Position-UPDATE (the row-level-update face of deletion vectors —
    * Iceberg v2 merge-on-read updates on a CoW table): matching rows'
    * positions become DV sidecars and their updated versions land as
    * NEW base files, in ONE commit — no target file is rewritten, so a
    * point UPDATE writes O(changed rows), not O(touched file bytes).
    * Assignment right-hand sides evaluate against the OLD row in a
    * single projection (ANSI UPDATE semantics, same as the merge-backed
    * path); key/partition columns are unassignable. Snapshot reads see
    * the new versions (old positions DV-hidden); metadata counts stay
    * exact (new file rows counted, DV positions subtracted); the typed
    * change feed emits update_preimage (the DV'd rows) and
    * update_postimage (the commit's adds). CoW only. */
  def updateDvWhere(pred: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Long = {
    require(!config.isMor,
      "position updates (deletion vectors) apply to CoW tables — " +
        "MoR updates are already O(rows) delta appends")
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    val identity = (config.keyCols ++ config.partitionCols).toSet
    val bad = sets.keySet & identity
    require(bad.isEmpty,
      s"UPDATE may not assign key/partition columns: ${bad.mkString(",")}")
    val badDerived = sets.keySet & config.computedCols
    require(badDerived.isEmpty,
      s"UPDATE may not assign engine-derived (generated/ALWAYS-identity) " +
        s"columns: ${badDerived.mkString(",")}")
    withOccRetry(updateDvOnce(pred, sets))
  }

  private def updateDvOnce(pred: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Long = {
    val snap = log.snapshot()
    require(snap.id.isDefined, s"table ${config.root} does not exist")
    val basedOn = snap.id.get
    val id = snap.nextId
    val target = tableSchema(snap)
    val unknown = sets.keySet -- target.fieldNames.toSet
    require(unknown.isEmpty, s"unknown column(s): ${unknown.mkString(",")}")
    val live = snap.files
    val resolved = resolvePredicate(pred, snap)
    val files = resolved.fold(live)(p => pruneFilesFor(live, p, snap))
    if (files.isEmpty) return basedOn
    val targetKey = SchemaEvo.adaptKey(target)
    val jsonOf = snap.pathSchemas
    val dvRows = dvRowsFor(files, snap)
    // candidate rows with positions, adapted to the CURRENT table schema
    // (pred and assignments resolve against current names), existing DVs
    // applied so already-superseded positions never re-match
    val matched = files.groupBy(f => jsonOf.getOrElse(f.path, target.json))
      .toSeq.map { case (j, fsG) =>
        val fileSchema = parseSchema(j)
        val raw0 = LogFileIndex.scan(spark, fsG, fileSchema)
          .select(col("*"),
            DvCodec.normPathCol(col("_metadata.file_path")).as("__dv_file"),
            col("_metadata.row_index").as("__dv_pos"))
        val raw = dvRows.fold(raw0)(dv => raw0.join(broadcast(dv),
          col("__dv_file") === col("_dv_target") &&
            col("__dv_pos") === col("_dv_tpos"), "left_anti"))
        if (SchemaEvo.adaptKey(fileSchema) == targetKey) raw
        else SchemaEvo.adapt(raw, fileSchema, target,
          carry = Seq("__dv_file", "__dv_pos"))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(pred)
      .persist()
    val fsys = LocalFs.of(new Path(config.root), hconf)
    try {
      val (dvDir, dvAdds) = writeDvSidecars(id, "dv_update",
        matched.select(col("__dv_file"), col("__dv_pos")), files)
      if (dvAdds.isEmpty) return basedOn // nothing matched: no commit
      // updated versions: one projection over the OLD rows, restamped
      val userCols = target.fields
        .filterNot(f => SchemaEvo.isInternal(f.name)).map(_.name).toSeq
      val updated = matched.select(userCols.map(c =>
        sets.get(c).map(_.as(c)).getOrElse(col("`" + c + "`"))): _*)
      val incoming = withDerived(withMeta(updated, id))
        .withColumn("_seq", monotonically_increasing_id())
      try writeCommit(incoming, "dv_update", snap, id, Seq.empty,
        // extraAdds cannot rebase (the rebase re-read would drop them);
        // conflicts abort clean and the outer occRetry re-runs wholesale
        partitionScoped = false, extraAdds = dvAdds)
      catch { case e: Throwable =>
        try { fsys.delete(dvDir, true); () }
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
      }
    } finally matched.unpersist()
  }

  private def deleteDvImpl(keys: DataFrame, snap: Snapshot): Long = {
    require(snap.id.isDefined, s"table ${config.root} does not exist")
    require(!config.isMor,
      "position deletes (deletion vectors) apply to CoW tables — " +
        "MoR deletes are already O(keys) tombstone deltas")
    val basedOn = snap.id.get
    if (keys.isEmpty) return basedOn
    val id = snap.nextId
    val live = snap.files
    val userPartsKnown = config.partitionCols.forall(keys.columns.contains)
    val oldFiles =
      if (effParts.isEmpty) pruneByKeyRange(keys, live)
      else if (!config.globalIndex && userPartsKnown)
        pruneByKeyRange(keys, filesMatchingTuples(live, withDerived(keys)))
      else pruneByKeyRange(keys, filesInKeyPartitions(keys, live, snap))
    if (oldFiles.isEmpty) return basedOn
    val joinCols =
      if (!config.globalIndex && config.partitionCols.nonEmpty && userPartsKnown)
        config.partitionCols ++ config.keyCols
      else config.keyCols
    // candidate rows WITH positions, existing DVs applied (an
    // already-deleted position can never re-enter a new DV, keeping
    // per-position counts exact)
    val jsonOf = snap.pathSchemas
    val dvRows = dvRowsFor(oldFiles, snap)
    val tableJson = tableSchema(snap).json
    val groups = oldFiles.groupBy(f => jsonOf.getOrElse(f.path, tableJson))
    val posCols = joinCols.map(c => col("`" + c + "`"))
    val candidates = groups.toSeq.map { case (j, fs) =>
      val fileSchema = parseSchema(j)
      val raw0 = LogFileIndex.scan(spark, fs, fileSchema)
      val raw = dvRows.fold(raw0)(dv => joinDvs(raw0, dv))
      raw.select(posCols :+
        DvCodec.normPathCol(col("_metadata.file_path")).as("__dv_file") :+
        col("_metadata.row_index").as("__dv_pos"): _*)
    }.reduce(_ unionByName _)
    val doomed = keys.select(joinCols.map(col): _*).distinct().as("k")
    val cond = joinCols.map(c => candidates(c) <=> doomed(c)).reduce(_ && _)
    val matches = candidates.join(doomed, cond, "left_semi")
      .select(col("__dv_file"), col("__dv_pos")).persist()
    val fs = LocalFs.of(new Path(config.root), hconf)
    try {
      val (dir, adds) = writeDvSidecars(id, "dv_delete", matches, oldFiles)
      if (adds.isEmpty) return basedOn // nothing matched
      try log.append(Commit(id, "dv_delete", System.currentTimeMillis(),
        tableJson, adds, Seq.empty), basedOnLatest = basedOn)
      catch { case e: Throwable =>
        try { fs.delete(dir, true); () }
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
      }
      resync()
      id
    } finally matches.unpersist()
  }

  /** write one position sidecar per touched target (executor-side — the
    * bloom sidecar lifecycle) into a fresh dv dir for commit `id`;
    * `matches` is a (`__dv_file` normalized-path, `__dv_pos`) frame.
    * Returns (dir, dv FileAdds) — adds empty (and the dir removed) when
    * nothing matched; the collect is touched-files scale. */
  private def writeDvSidecars(id: Long, op: String, matches: DataFrame,
      targets: Seq[FileAdd]): (Path, Seq[FileAdd]) = {
    val fs = LocalFs.of(new Path(config.root), hconf)
    val dir = dataDir(id, "dv", op)
    fs.mkdirs(dir)
    val confS = new SerializableHadoopConf(hconf)
    val dirStr = dir.toString
    import spark.implicits._
    val written = matches.as[(String, Long)]
      .repartition(col("__dv_file"))
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { case (f, p) =>
          byFile.getOrElseUpdate(f,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += p
        }
        byFile.iterator.map { case (f, poss) =>
          val name = "dv-" + java.security.MessageDigest.getInstance("MD5")
            .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val p = new Path(dirStr, name)
          val bytes = DvCodec.write(confS.value, p, poss.toArray)
          (f, p.toString, poss.size.toLong, bytes)
        }
      }.collect()
    if (written.isEmpty) { fs.delete(dir, true); return (dir, Seq.empty) }
    val byNorm = targets.map(f => DvCodec.normPath(f.path) -> f).toMap
    (dir, written.toSeq.map { case (normT, dvPath, n, bytes) =>
      val tf = byNorm(normT)
      FileAdd(dvPath, tf.partition, kind = "dv", bytes = bytes, rows = n,
        spec = tf.spec, target = tf.path)
    })
  }

  /** Metadata-only predicate delete — the retention-delete fast path
    * (Hive `DROP PARTITION` / Delta's metadata-only DELETE / Iceberg's
    * metadata-delete role). When `pred` references ONLY partition
    * columns, is deterministic and subquery-free, and every live file's
    * stored tuple provably parses back to its typed column value (the
    * [[partitionKeyRows]] prover — hidden-partition transforms,
    * timestamp renders, null-sentinel string levels and pre-arity
    * tuples all refuse), file membership IS row membership: the delete
    * commits the doomed files' removal alone — zero rows read, zero
    * rows written, O(live files) driver work. At 100 TB a retention
    * delete (`DELETE FROM t WHERE day < horizon`) must not scan the
    * doomed data, let alone rewrite the survivors. Semantics are exact,
    * not approximate: the predicate is evaluated per partition tuple by
    * a real (local) Spark plan — the engine's own cast/comparison
    * semantics, never a re-implementation — and a tuple where `pred` is
    * NULL is KEPT (SQL DELETE removes only TRUE rows). MoR deltas are
    * sound here because file tuples equal partition tuples
    * ([[groupLocalMergeSafe]]); a global index whose dedup groups can
    * span partitions refuses — a delta in a doomed partition could
    * shadow or tombstone a kept partition's key, so only the rewrite
    * path can resolve it. Returns None to route the caller to the
    * keyed-rewrite path; Some(commitId) on the fast path (no commit is
    * written when nothing matches, the keyed delete's own contract).
    */
  private def dropPartitionsMetadataOnly(
      pred: org.apache.spark.sql.Column, snap: Snapshot): Option[Long] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    if (config.partitionCols.isEmpty) return None
    val live = snap.files
    if (live.isEmpty) return None // read(pred) on empty is a cheap no-op
    if (live.exists(_.isDelta) && !groupLocalMergeSafe) return None
    val keys = partitionKeyRows(live, snap).getOrElse(return None)
    val tbl = tableSchema(snap)
    val partSchema = StructType(config.partitionCols.map(c =>
      tbl.fields.find(_.name == c).getOrElse(return None)))
    // one probe row per DISTINCT stored tuple, tagged with the tuple
    // string so matches map back to files; the tag name is shadow-style
    // (never a user column — writeCommit already reserves the prefix)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(partSchema)
    val rows = live.map(_.partition).zip(keys).distinctBy(_._1).map {
      case (p, ir) =>
        Row.fromSeq(conv(ir).asInstanceOf[Row].toSeq :+ p)
    }
    val probeSchema = StructType(partSchema.fields :+
      StructField("__gp_tuple", StringType, nullable = false))
    import scala.jdk.CollectionConverters._
    val probe = spark.createDataFrame(rows.asJava, probeSchema)
    // eager analysis enforces "partition columns only": a reference to
    // any other column fails to resolve against the probe frame
    val filtered = scala.util.Try(probe.filter(pred))
      .toOption.getOrElse(return None)
    val cond = filtered.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(return None)
    val refs = cond.references.map(_.name).toSet
    if (!cond.deterministic ||
        cond.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) ||
        !refs.subsetOf(config.partitionCols.toSet)) return None
    val doomedTuples = filtered.select("__gp_tuple")
      .collect().map(_.getString(0)).toSet
    val doomed = live.filter(f => doomedTuples.contains(f.partition))
    if (doomed.isEmpty) return snap.id
    // empty payload at the pinned table schema: SchemaEvo sees an
    // unchanged schema and the writer emits zero files — the commit is
    // the removals (the truncate/empty-region-overwrite precedent)
    Some(writeCommit(readOrEmpty(Seq.empty, snap), "delete", snap,
      snap.nextId, doomed.map(_.path),
      commitMeta = Map("delete.metadataOnly" -> "true"),
      partitionScoped = true))
  }

  /** Replace the partitions present in `df` wholesale (Hudi
    * INSERT_OVERWRITE): every live file of a touched partition is
    * superseded and `df`'s rows become those partitions' full content —
    * the standard backfill primitive. Unpartitioned tables (no partition
    * columns, no buckets) overwrite the whole table. No precombine merge
    * runs: the batch IS the new truth for its partitions (intra-batch
    * duplicates still collapse by precombine so the result is a valid
    * snapshot).
    */
  def insertOverwrite(batch0: DataFrame): Long =
    withOccRetry(insertOverwriteOnce(batch0))

  private def insertOverwriteOnce(batch0: DataFrame): Long = {
    val snap = log.snapshot()
    if (batch0.isEmpty) return snap.id.getOrElse(-1L)
    val (batch, dropMeta) = admitBatch(batch0)
    val id = snap.nextId
    val incoming = withDerived(withMeta(batch, id))
      .withColumn("_seq", monotonically_increasing_id())
      .persist()
    try {
      val deduped = dedupWithinBatch(incoming)
      val live = snap.files
      // overwrite scope is the USER partition: every live file whose user
      // partition levels match the batch is superseded, including buckets
      // the batch did not touch (the derived bucket is a file-group
      // index, not an overwrite boundary). No user partitions (plain or
      // bucketed-unpartitioned) = whole-table overwrite.
      val nUser = config.partitionCols.size
      val touched =
        if (nUser == 0) live
        else filesMatchingTuples(live, incoming, userOnly = true)
      // global index: batch keys must stay unique TABLE-WIDE, so rows of
      // those keys residing in partitions OUTSIDE the overwrite scope are
      // dropped in the same commit (their partitions rewrite minus the
      // keys — located via the footer-range-pruned key+partition probe,
      // exactly like a keyed delete)
      val (removes, payload) =
        if (!config.globalIndex) (touched, deduped)
        else {
          val others = live.filterNot(touched.toSet)
          val foreign = filesInKeyPartitions(incoming, others, snap)
          if (foreign.isEmpty) (touched, deduped)
          else {
            val doomed = incoming.select(config.keyCols.map(col): _*).distinct().as("k")
            val cur = readFiles(foreign, snap)
            val cond = config.keyCols.map(c => cur(c) <=> doomed(c)).reduce(_ && _)
            val keepers = cur.join(doomed, cond, "left_anti")
            (touched ++ foreign,
             deduped.unionByName(keepers, allowMissingColumns = true))
          }
        }
      writeCommit(payload, "insert_overwrite", snap, id, removes.map(_.path),
        // non-global: replaces (and read) only the touched partitions;
        // global probed foreign partitions for resident keys
        partitionScoped = !config.globalIndex)
    } finally incoming.unpersist()
  }

  /** Statically-filtered overwrite (Delta `replaceWhere` / SQL static
    * PARTITION-spec INSERT OVERWRITE) in ONE commit: delete every
    * current row where `pred` is TRUE and insert `batch` — whose rows
    * must ALL satisfy `pred` (an overwrite may only write into the
    * region it clears; violating rows fail before any file work,
    * Delta's constraint). Scope is partition-granular (the single-
    * directory-per-partition invariant): partitions the stats index
    * PROVES cannot hold a matching row are untouched; each touched
    * partition rewrites as its merged current rows not matching pred —
    * minus any row whose key the batch re-writes (the batch is the new
    * truth for its keys) — plus the batch. An EMPTY batch clears the
    * matching region. MoR deltas in touched partitions fold into the
    * rewritten base.
    */
  def overwriteWhere(pred: org.apache.spark.sql.Column, batch0: DataFrame): Long = {
    val snap = log.snapshot()
    val (batch, dropMeta) = admitBatch(batch0)
    val id = snap.nextId
    val incoming = withDerived(withMeta(batch, id))
      .withColumn("_seq", monotonically_increasing_id())
      .persist()
    try {
      // NULL-safe region test: a row where pred is NULL is NOT deleted
      // (SQL DELETE semantics), so a batch row where pred is not TRUE
      // would land OUTSIDE the cleared region — reject it
      val inRegion = coalesce(pred, lit(false))
      require(incoming.filter(!inRegion).isEmpty,
        "overwriteWhere: every batch row must satisfy the predicate — " +
          "rows outside the replaced region would silently widen the overwrite")
      val live = snap.files
      // same analyzed-probe route as read(pruneBy): the stats index
      // drops files (→ partitions) that provably hold no matching row
      val may = resolvePredicate(pred, snap)
        .fold(live)(p => pruneByColStats(live, p, snap))
      val nUser = config.partitionCols.size
      val batchEmpty = incoming.isEmpty
      // rewrite scope = partitions that MAY hold a pred-matching row
      // UNION the batch's own partitions: a batch key whose current row
      // sits outside the pred region (stats-pruned) must STILL be
      // superseded — "the batch is the new truth for its keys" holds
      // only for partitions the rewrite actually reads
      val touched =
        if (config.isMor && !groupLocalMergeSafe && live.exists(_.isDelta))
          // a global-index MoR delta can shadow/tombstone a key in ANY
          // partition (merge() applies the same rule): only a
          // table-wide merge is sound — a subset merge could resurrect
          // a row whose tombstone lives in an unread delta
          live
        else if (nUser == 0) { if (may.nonEmpty || !batchEmpty) live else Seq.empty }
        else {
          // partition closure of the stats-surviving files, same-spec
          // only (a tuple is only meaningful within its own spec's
          // directory structure), plus the batch's own partitions
          // matched per-file-spec
          val mayParts: Map[Int, Set[Seq[String]]] = may.groupBy(_.spec)
            .map { case (sid, fs) =>
              sid -> fs.map(f => userLevels(f.partition)).toSet }
          val predFiles = live.filter(f => mayParts.getOrElse(f.spec,
            Set.empty).contains(userLevels(f.partition)))
          val batchFiles =
            if (batchEmpty) Seq.empty
            else filesMatchingTuples(live, incoming, userOnly = true)
          (predFiles ++ batchFiles).distinct
        }
      // a GLOBAL-index batch key may reside in a partition outside the
      // scope — evict it there too, or table-wide uniqueness breaks
      // (the same foreign-partition rewrite insertOverwrite runs)
      val scope =
        if (!config.globalIndex || batchEmpty) touched
        else {
          val others = live.filterNot(touched.toSet)
          touched ++ filesInKeyPartitions(incoming, others, snap)
        }
      val payload =
        if (scope.isEmpty) dedupWithinBatch(incoming)
        else {
          val keep = mergeIfNeeded(scope, snap)
            .filter(!inRegion)
            .join(incoming.select(dedupCols.map(col): _*).distinct(),
              dedupCols, "left_anti")
          keep.unionByName(dedupWithinBatch(incoming),
            allowMissingColumns = true)
        }
      writeCommit(payload, "insert_overwrite", snap, id, scope.map(_.path),
        commitMeta = dropMeta,
        partitionScoped = !config.globalIndex)
    } finally incoming.unpersist()
  }

  /** Replace the WHOLE table content in one commit (SQL `INSERT
    * OVERWRITE` without a partition spec / TRUNCATE+INSERT): every live
    * file — all partitions, whether or not the batch touches them — is
    * superseded and the batch becomes the table. Contrast with
    * [[insertOverwrite]], which replaces only touched partitions
    * (dynamic-overwrite semantics). An empty batch truncates.
    */
  def overwriteAll(batch0: DataFrame, meta: Map[String, String] = Map.empty): Long = {
    val base = log.snapshot()
    val (batch, dropMeta) = admitBatch(batch0)
    val id = base.nextId
    val incoming = withDerived(withMeta(batch, id))
      .withColumn("_seq", monotonically_increasing_id())
    writeCommit(dedupWithinBatch(incoming), "insert_overwrite", base, id,
      base.files.map(_.path),
      commitMeta = dropMeta ++ meta,
      // no old file survives: the batch schema replaces the table schema
      schemaReset = true)
  }

  /** Bit-interleaved Z-value over the clusterCols (space-filling-curve
    * clustering): each column maps to a 256-bucket equal-width index
    * over its observed min/max in this commit (one map-side-combined
    * min/max agg over the already-persisted frame — a single cheap extra
    * pass per commit), and the bucket bits interleave so range-
    * clustering by the Z-value bounds EVERY dimension's per-file range.
    * Pure codegen'd arithmetic — no UDF. Null/non-numeric values bucket
    * to 0 (clustered together, stats-conservative).
    */
  private def zValueExpr(df: DataFrame): org.apache.spark.sql.Column = {
    val cols = config.clusterCols
    val bits = 8 // 256 buckets; bits * |cols| < 63 enforced by the config
    val bounds = df.agg(
      cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"_lo_$c"),
        max(col(c).cast("double")).as(s"_hi_$c"))).head,
      cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"_lo_$c"),
        max(col(c).cast("double")).as(s"_hi_$c"))).tail: _*).first()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val lo = Option(bounds.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
      val hi = Option(bounds.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double])
      if (hi <= lo) lit(0L)
      else coalesce(
        least(lit((1 << bits) - 1L), greatest(lit(0L),
          floor((col(c).cast("double") - lit(lo)) / lit((hi - lo) / (1 << bits)))
            .cast("long"))),
        lit(0L))
    }
    (0 until bits).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * cols.size + i)
      }
    }.reduce(_ + _)
  }

  /** CHECK-constraint guard, fused into the consuming scan (no extra
    * pass): every row must satisfy each configured predicate or the
    * plan raises with the constraint name + the row as JSON. ANSI CHECK
    * semantics: NULL passes — which also exempts MoR tombstones and
    * schema-evolution backfill rows, whose payload columns are null.
    */
  private def withChecks(df: DataFrame): DataFrame =
    // warn mode never gates: violations were already counted at the
    // ingest boundary (admitBatch) and the rows are meant to land
    if (config.checks.isEmpty || config.checkMode == "warn") df
    else {
      val ctx = to_json(struct(df.columns.map(col): _*))
      config.checks.foldLeft(df) { case (acc, (name, predSql)) =>
        acc.filter(assert_true(
          !LakeTable.checkViolates(predSql),
          concat(lit(s"check constraint '$name' violated: "), ctx)).isNull)
      }
    }

  /** checkMode=drop admission at the INGEST boundary (DLT's
    * expect_or_drop): violating batch rows are filtered BEFORE any
    * merge — so a violating UPDATE drops the update and the table
    * keeps its current row; it never deletes the key — and per-check
    * dropped counts return for the commit metadata
    * (`check.dropped.<name>`). Costs ONE extra aggregation pass over
    * the batch (the fail mode costs zero; an Observation-based
    * zero-pass variant was rejected: limit-probe actions like isEmpty
    * would deliver partial metrics). The raise_error guard inside
    * writeCommit stays active as the backstop for rows PRODUCED by
    * transformations (UPDATE/MERGE assignments), which fail loud in
    * both modes. NULL passes everywhere (ANSI). */
  /** GENERATED ... AS fill at the INGEST boundary — BEFORE intra-batch
    * key dedup, which would otherwise collapse every identity-omitted
    * row onto one NULL key. Identity columns: NULL values get engine-
    * assigned ids from an exclusively-claimed range (value = start +
    * step * unit; `monotonically_increasing_id` spreads the batch
    * inside it, so values are unique and allocation-ordered but may
    * have gaps — Delta's contract); explicit NON-NULL values are kept
    * on every path (they ARE the record key: merges and CDC replication
    * must be able to supply them — a documented deviation from Delta's
    * insert-time ALWAYS ban; ALWAYS still rejects UPDATE/MERGE
    * assignments). Generated columns: recomputed unconditionally (the
    * engine owns derived values; writeCommit re-applies them for
    * transformation-produced rows too). */
  private def fillComputed(df: DataFrame): DataFrame = {
    val withIdent = config.identitySpecs.foldLeft(df) {
      case (acc, (c, (start, step, _))) if acc.columns.contains(c) =>
        // limit-1 probe: claim a range only when the batch actually
        // needs assignment — an all-explicit batch must not burn one
        if (acc.filter(acc(c).isNull).isEmpty) acc
        else {
          val parts = acc.rdd.getNumPartitions
          val units = (parts.toLong + 1L) << 33
          val base = log.claimIdentityRange(c, units)
          val dt = acc.schema(acc.schema.fieldIndex(c)).dataType
          acc.withColumn(c, coalesce(acc(c),
            (lit(start) + lit(step) *
              (lit(base) + monotonically_increasing_id())).cast(dt)))
        }
      case (acc, _) => acc
    }
    recomputeGenerated(withIdent)
  }

  /** generated-column recompute — shared by the ingest fill and
    * writeCommit (rows PRODUCED by merges/updates must re-derive) */
  private def recomputeGenerated(df: DataFrame): DataFrame =
    Option(config.generatedCols).getOrElse(Map.empty).foldLeft(df) {
      case (acc, (c, ex)) if acc.columns.contains(c) =>
        val dt = acc.schema(acc.schema.fieldIndex(c)).dataType
        acc.withColumn(c, expr(ex).cast(dt))
      case (acc, _) => acc
    }

  private def admitBatch(batch0raw: DataFrame): (DataFrame, Map[String, String]) = {
    val batch0 = fillComputed(batch0raw)
    if (config.checks.isEmpty ||
        (config.checkMode != "drop" && config.checkMode != "warn"))
      (batch0, Map.empty)
    else {
      // pin the batch ONCE: the count job and the write pass must see
      // the same rows, or a non-deterministic source (rand-derived
      // columns, a moving source directory) makes the committed count
      // lie about what was actually quarantined. localCheckpoint
      // materializes and truncates the lineage; the blocks free when
      // the frame is GC'd.
      val batch = batch0.localCheckpoint()
      val viol = config.checks.toSeq.map { case (n, p) =>
        n -> LakeTable.checkViolates(p)
      }
      val sums = viol.map { case (n, c) => sum(c.cast("long")).as(n) }
      val counts = batch.agg(sums.head, sums.tail: _*).first()
      val metaKey =
        if (config.checkMode == "drop") "check.dropped." else "check.warned."
      val meta = viol.indices.collect {
        case i if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
          s"$metaKey${viol(i)._1}" -> counts.getLong(i).toString
      }.toMap
      // warn observes; only drop gates
      if (config.checkMode == "warn") (batch, meta)
      else (viol.foldLeft(batch) { case (acc, (_, c)) => acc.filter(!c) }, meta)
    }
  }

  /** intra-batch precombine: collapse duplicate dedup keys to the row
    * with the highest (precombine, arrival order) — shared by the
    * first-write upsert path and insertOverwrite */
  private def dedupWithinBatch(incoming: DataFrame): DataFrame = {
    val ord = struct(col(config.precombineCol), col("_seq"))
    incoming
      .groupBy(dedupCols.map(col): _*)
      .agg(max_by(struct(incoming.columns.map(col): _*), ord).as("_row"))
      .select(col("_row.*"))
      .drop("_seq")
  }

  private def deleteImpl(keys: DataFrame, snap: Snapshot): Long = {
    if (keys.isEmpty) return snap.id.getOrElse(-1L)
    require(snap.id.isDefined, s"table ${config.root} does not exist")
    if (config.isMor) return morDelete(keys, snap)
    // prune to the partition tuples that can hold the doomed keys: from
    // the keys frame itself when it carries every user partition column
    // (the key-hash bucket level is always derivable), otherwise from the
    // key+partition index scan — a footer-range-pruned, column-pruned
    // probe (filesInKeyPartitions). A bare-key delete on a non-global
    // table thus rewrites only the partitions actually holding the keys,
    // never the whole table; semantics are unchanged because partitions
    // the probe skips cannot contain a matching key.
    val live = snap.files
    val userPartsKnown = config.partitionCols.forall(keys.columns.contains)
    val oldFiles =
      if (effParts.isEmpty) live
      else if (!config.globalIndex && userPartsKnown)
        filesMatchingTuples(live, withDerived(keys))
      else filesInKeyPartitions(keys, live, snap)
    val current = readOrEmpty(oldFiles, snap)
    // identity for the anti-join: when the keys frame pins the partition
    // (non-global index), match on (partition..., key) so the same key
    // value in a co-touched partition survives — mirrors MoR tombstones
    val joinCols =
      if (!config.globalIndex && config.partitionCols.nonEmpty && userPartsKnown)
        config.partitionCols ++ config.keyCols
      else config.keyCols
    // null-safe equality: a plain column-name join drops no row whose
    // partition value is null (null = null is null), silently un-deleting
    val doomed = keys.select(joinCols.map(col): _*).distinct().as("k")
    val cond = joinCols.map(c => current(c) <=> doomed(c)).reduce(_ && _)
    val remaining = current.join(doomed, cond, "left_anti")
    writeCommit(remaining, "delete", snap, snap.nextId, oldFiles.map(_.path),
      // scoped only when the keys frame pinned the partitions outright;
      // the bare-key probe read key ranges table-wide
      partitionScoped = !config.globalIndex && userPartsKnown)
  }

  /** Multi-clause MERGE INTO (see [[MergeBuilder]] for semantics). */
  def merge(source: DataFrame): MergeBuilder =
    new MergeBuilder(this, source, Seq.empty)

  /** Executes a merge as ONE commit. Plan shape: the deduped source
    * full-outer-joins the CURRENT rows of only the partitions the merge
    * can touch (source partitions, plus key-holding partitions under a
    * global index — the same metadata-pruned scope as upsert), then a
    * single case-discriminated projection applies the first matching
    * clause per row. One key shuffle for the join; untouched partitions
    * are never read or rewritten — unless a by-source clause is present,
    * which by definition must see every target row. On MoR the touched
    * scope is read through the delta merge and written back as base
    * files, i.e. a merge doubles as targeted compaction.
    */
  private[lake] def mergeImpl(source0: DataFrame, clauses: Seq[MergeClause],
      commitMeta: Map[String, String] = Map.empty): Long =
    withOccRetry(mergeOnce(source0, clauses, commitMeta))

  private def mergeOnce(source0: DataFrame, clauses: Seq[MergeClause],
      commitMeta: Map[String, String]): Long = {
    import MergeClause._
    val snap = log.snapshot()
    require(snap.id.isDefined, s"table ${config.root} does not exist")
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    val identityCols = (config.keyCols ++ config.partitionCols).toSet
    // an insert assignment for an identity column must be the SOURCE's
    // own column written as `s.<name>`: match detection runs on the
    // source's identity, so an arbitrary expression could assign a key
    // that already exists in the target (the source key being absent)
    // and silently create a duplicate record key — the invariant every
    // other write enforces. A BARE name is rejected too: the t/s
    // full-outer join exposes it on both sides, so it could only ever
    // fail later as an ambiguous reference.
    def isSourceAttr(c: org.apache.spark.sql.Column, name: String): Boolean =
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(c) match {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.map(_.toLowerCase) == Seq("s", name.toLowerCase)
        case _ => false
      }
    clauses.foreach { cl =>
      val bad = cl.set.keySet & identityCols
      cl.kind match {
        case NotMatchedInsert =>
          bad.foreach(n => require(isSourceAttr(cl.set(n), n),
            s"insert clauses may assign identity column '$n' only from " +
              s"the source's own column (s.$n) — computed keys could " +
              "collide with existing record keys; re-key via upsert instead"))
        case _ =>
          // updates may not move a row's identity (Hudi's rule)
          require(bad.isEmpty,
            s"merge may not assign key/partition columns: ${bad.mkString(",")}")
      }
      // engine-derived columns are not assignable: generated columns
      // re-derive from their expression on every write; ALWAYS identity
      // columns only ever take engine-minted values
      val badGen = cl.set.keySet &
        Option(config.generatedCols).getOrElse(Map.empty).keySet
      require(badGen.isEmpty,
        s"merge may not assign generated columns (engine-derived): ${badGen.mkString(",")}")
      if (cl.kind == MatchedUpdate || cl.kind == BySourceUpdate) {
        val badIdent = cl.set.keySet &
          config.identitySpecs.collect { case (c, (_, _, false)) => c }.toSet
        require(badIdent.isEmpty,
          s"GENERATED ALWAYS AS IDENTITY columns cannot be updated: ${badIdent.mkString(",")}")
      }
    }
    // partition columns are required even when the identity is key-only
    // (global index): the scope probe and inserted-row placement both
    // dereference them — failing fast beats an AnalysisException mid-plan
    val needed =
      (dedupCols ++ config.partitionCols).distinct :+ config.precombineCol
    needed.foreach(c => require(source0.columns.contains(c),
      s"merge source must carry identity+partition+precombine column '$c'"))
    val hasBySource = clauses.exists(cl =>
      cl.kind == BySourceUpdate || cl.kind == BySourceDelete)
    if (!hasBySource && source0.isEmpty) return snap.id.get
    val id = snap.nextId
    val src = dedupWithinBatch(
      withDerived(source0).withColumn("_seq", monotonically_increasing_id()))
      .persist()
    try {
      val live = snap.files
      val oldFiles =
        if (hasBySource || effParts.isEmpty) live
        // a subset MoR delta-merge is only sound when dedup groups are
        // partition-local; otherwise a key's rows may span partitions
        else if (config.isMor && !groupLocalMergeSafe) live
        else (filesMatchingTuples(live, src) ++
          (if (config.globalIndex) filesInKeyPartitions(src, live, snap)
           else Seq.empty)).distinct
      val current =
        if (oldFiles.isEmpty) readOrEmpty(oldFiles, snap)
        else mergeIfNeeded(oldFiles, snap)
      val userCols = current.columns
        .filterNot(c => c == "_commit_id" || c == "_record_key" ||
          c == "_commit_seqno" || c == BucketCol)
      clauses.foreach { cl =>
        val unknown = cl.set.keySet -- userCols.toSet
        require(unknown.isEmpty,
          s"merge assigns columns absent from the table: ${unknown.mkString(",")}")
      }
      val srcCols = src.columns.toSet
      val t = current.withColumn("_t_in", lit(true)).alias("t")
      val s = src.withColumn("_s_in", lit(true)).alias("s")
      val joinCond = dedupCols.map(c => col(s"t.$c") <=> col(s"s.$c")).reduce(_ && _)
      val joined = t.join(s, joinCond, "full_outer")
      val isT = coalesce(col("_t_in"), lit(false))
      val isS = coalesce(col("_s_in"), lit(false))
      val matched = isT && isS
      // every clause becomes a guarded case, IN ORDER, in three aligned
      // chains (row-survives, per-column value, commit id) — alignment
      // guarantees "first matching clause wins" consistently
      def guard(cl: MergeClause): Column = {
        val base = cl.kind match {
          case MatchedUpdate | MatchedDelete => matched
          case NotMatchedInsert              => isS && !isT
          case BySourceUpdate | BySourceDelete => isT && !isS
        }
        cl.cond.fold(base)(base && _)
      }
      def chain(cases: Seq[(Column, Column)], default: Column): Column =
        cases.foldRight(default) { case ((c, v), acc) => when(c, v).otherwise(acc) }
      val keep = chain(clauses.map { cl =>
        guard(cl) -> lit(cl.kind != MatchedDelete && cl.kind != BySourceDelete)
      }, isT) // no clause fires: target rows survive, source-only rows drop
      def valueFor(c: String): Column = {
        val dt = current.schema(c).dataType
        chain(clauses.map { cl =>
          val v = cl.kind match {
            case MatchedUpdate | BySourceUpdate =>
              cl.set.getOrElse(c, col(s"t.$c"))
            case NotMatchedInsert =>
              cl.set.getOrElse(c,
                if (srcCols.contains(c)) col(s"s.$c") else lit(null).cast(dt))
            case _ => col(s"t.$c")
          }
          guard(cl) -> v
        }, col(s"t.$c")).as(c)
      }
      // rows this commit changed get its id; pass-throughs keep their
      // provenance so the incremental/CDC readers stay truthful
      val newCid = chain(clauses.map { cl =>
        guard(cl) -> (cl.kind match {
          case MatchedDelete | BySourceDelete => col("t._commit_id")
          case _                              => lit(id)
        })
      }, col("t._commit_id"))
      // seqno mirrors _commit_id provenance: rows this merge wrote get a
      // fresh <id>_<rowId> seqno, pass-through/delete-provenance rows keep
      // the one their ingesting commit assigned
      val newSeqno =
        if (!config.metaColumns) None
        else Some(when(newCid === lit(id),
            format_string("%d_%d", lit(id), monotonically_increasing_id()))
          .otherwise(col("t._commit_seqno")).as("_commit_seqno"))
      val result = withDerived(
        joined.filter(keep)
          .select(userCols.map(valueFor) ++ Seq(newCid.as("_commit_id")) ++
            newSeqno: _*)
          .withColumn("_record_key", keyStrExpr))
      writeCommit(result, "merge", snap, id, oldFiles.map(_.path),
        commitMeta = commitMeta,
        // scoped iff oldFiles took the pruned branch above
        partitionScoped = !hasBySource && effParts.nonEmpty &&
          !(config.isMor && !groupLocalMergeSafe) && !config.globalIndex)
    } finally src.unpersist()
  }

  // ---- read paths -----------------------------------------------------

  /** Latest committed snapshot (reference S4, MockCuratedGlueJob.py:23). */
  def read(): DataFrame = readPruned(log.snapshot(), None)

  /** Snapshot filtered by `pruneBy`, with DATA SKIPPING on the commit
    * log's per-file column stats (Hudi's column-stats index): files whose
    * recorded [min, max] for a `statsCols` column provably cannot satisfy
    * the predicate are dropped BEFORE the scan is even planned — at
    * 100 TB a selective predicate on a well-clustered column shrinks the
    * file LIST, not just the row-group reads parquet's own footer stats
    * already skip after listing. The predicate is then still applied
    * row-level, so over-kept files (no stats, unsupported predicate
    * shape) never change the result — pruning is conservative.
    *
    * MoR: a delta-touched table prunes at file-GROUP granularity (a
    * partition's files are kept if ANY of them may match) so the
    * read-time merge still sees every version of a surviving key; when
    * dedup groups can span partitions (global index with user partition
    * columns) pruning is skipped entirely.
    */
  def read(pruneBy: org.apache.spark.sql.Column): DataFrame =
    readPruned(log.snapshot(), Some(pruneBy))

  /** [[read(pruneBy*]] pinned to a commit: the stats-skipping path over
    * a SPECIFIC snapshot. */
  def read(pruneBy: org.apache.spark.sql.Column, asOf: Option[Long]): DataFrame = {
    asOf.foreach(requireReadable)
    readPruned(log.snapshot(asOf), Some(pruneBy))
  }

  /** [[read(pruneBy*]] over the [[Snapshot]] a scan surface (DSv2
    * table, DSv1 relation) pinned, so one query never mixes versions. */
  private[graft] def read(snap: Snapshot,
      pruneBy: Option[org.apache.spark.sql.Column]): DataFrame = {
    snap.id.foreach(requireReadable)
    readPruned(snap, pruneBy)
  }

  /** Time travel: snapshot as of a commit id on the timeline. A commit
    * below the cleaner horizon stays readable while pinned (savepoint
    * or tag). */
  def readAsOf(commitId: Long): DataFrame = {
    requireReadable(commitId)
    readPruned(log.snapshot(Some(commitId)), None)
  }

  /** the commit's files may already be physically cleaned: refuse to
    * read below the cleaner horizon unless a savepoint or tag pins it */
  private def requireReadable(id: Long): Unit =
    require(id >= log.cleanedUpTo || log.pins.contains(id),
      s"commit $id was cleaned (retained from ${log.cleanedUpTo})")

  /** The snapshot read behind the public surfaces: every metadata
    * pruning channel ([[pruneFilesFor]]), the merge of what survives,
    * then the predicate re-applied row-level. */
  private def readPruned(snap: Snapshot,
      pruneBy: Option[org.apache.spark.sql.Column]): DataFrame = {
    val files = pruneBy.flatMap(resolvePredicate(_, snap))
      .fold(snap.files)(p => pruneFilesFor(snap.files, p, snap))
    lastReadFiles = files.size // spec observability, like lastLookupFiles
    val out = scanOrEmpty(snap, files)
    pruneBy.fold(out)(out.filter)
  }

  /** The one result rule of the snapshot read surfaces: the merged scan
    * of `files` (`_file_name`-tagged on metaColumns tables), or, with no
    * file left to scan, an empty frame with the same columns — the table
    * schema minus the MoR internals the merge drops. `keys` (dedup
    * columns) restricts the scan to those keys before any merge. */
  private def scanOrEmpty(snap: Snapshot, files: Seq[FileAdd],
      keys: Option[DataFrame] = None): DataFrame =
    if (files.nonEmpty)
      mergeIfNeeded(files, snap, tagFileName = config.metaColumns, keys = keys)
    else {
      val empty = readOrEmpty(Seq.empty, snap).drop("_seq", "_deleted")
      if (!config.metaColumns) empty
      else empty.withColumn("_file_name", lit(null).cast("string"))
    }

  /** Incremental query (Hudi's third read type, beside snapshot and
    * read-optimized): current row versions ingested AFTER `fromCommit`.
    * Row versions keep the `_commit_id` of the commit that ingested them
    * across CoW rewrites, so this is a metadata-column filter on the
    * snapshot — at scale the filter prunes via parquet min/max stats on
    * `_commit_id` since commit directories are written per commit.
    */
  def readIncremental(fromCommit: Long): DataFrame =
    read().filter(col("_commit_id") > fromCommit)

  /** Change-data-feed between two commits (Hudi/Delta CDC read): one row
    * per key whose current version changed in `(from, to]`, tagged
    * `_change_type` = insert | update | delete. Update/insert rows carry
    * the NEW values; delete rows carry the LAST values the key had at
    * `from`. A rewrite that re-ingests identical values still reports
    * an update (same contract as Hudi's incremental CDC on CoW).
    *
    * Plan shape — the cost is the window, not the table:
    *  1. the window's touched keys K ([[changeKeys]]): the dedup
    *     columns of rows its logical commits stamped, plus keys its
    *     removals or deletion vectors may have deleted;
    *  2. each side (the `from` and the `to` snapshot) scans only its
    *     files in K's partitions, semi-joined (null-safe) to K BEFORE the
    *     MoR merge — exact, because the merge partitions by the dedup
    *     columns. K is broadcast only when the log's row counts bound it
    *     under the broadcast threshold; a window that rewrote much of
    *     the table semi-joins by shuffle;
    *  3. ONE null-safe full-outer join of the two sides on the dedup
    *     columns; every change type is a filter over it (new side
    *     stamped `_commit_id > from`: insert or update; old side only:
    *     delete).
    * A window whose `from` snapshot lies below the cleaner horizon, or
    * with a schema-changing commit, joins the two snapshots whole (the
    * same reader with no K), and logs why.
    */
  def changesBetween(from: Long, to: Long): DataFrame =
    changesBetween(from, to, preImages = false)

  /** [[changesBetween]] with the full Delta change-data-feed type set:
    * `preImages = true` splits every update into an `update_preimage`
    * row (the values the key had at `from` — found by a key semi-join
    * of the old snapshot against the updated keys, the same probe the
    * materialized-aggregate refresh already runs for its retractions)
    * and an `update_postimage` row (the new values). Downstream
    * consumers that need to RETRACT an old contribution (incremental
    * aggregate maintenance, audit diffs, replication into systems
    * without upsert semantics) get both sides in one frame; the
    * two-type form stays the default because tails that only apply
    * last-writer-wins state never need the pre-image. Same plan bounds:
    * the pre-image side adds ONE key semi-join against the `from`
    * snapshot — O(changed keys), never a second table scan.
    */
  def changesBetween(from: Long, to: Long, preImages: Boolean): DataFrame = {
    require(from < to, s"need from < to, got [$from, $to]")
    // same horizon guard as readAsOf: the commit JSONs survive cleaning,
    // but a from-snapshot below the horizon references deleted files
    Seq(from, to).foreach(requireReadable)
    // an undecided transaction commit inside the window would later
    // materialize at an id this feed already emitted around — a CDF
    // consumer applying the changes in served order would misorder it.
    // Refuse loud; the consumer retries after the transaction decides.
    log.stagedFloor.filter(_ <= to).foreach(f => require(f > to,
      s"commit $f is an undecided transaction commit inside [$from, $to] " +
        "— retry after the transaction decides"))
    val snapTo = log.snapshot(Some(to))
    val snapFrom = log.snapshot(Some(from))
    val window = log.commitsInRange(from, to)
    val (newSnap, oldSnap) = changeFeedUnbounded(from, window, snapFrom) match {
      case Some(reason) =>
        logger.info(s"changesBetween($from, $to) diffs both snapshots whole: $reason")
        (scanOrEmpty(snapTo, snapTo.files), scanOrEmpty(snapFrom, snapFrom.files))
      case None =>
        val (keys, parts) = changeKeys(from, window, snapFrom, snapTo)
        def side(snap: Snapshot) = keys match {
          case None => scanOrEmpty(snap, Seq.empty)
          case Some(k) => scanOrEmpty(snap,
            parts.fold(snap.files)(ps => snap.files.filter(f => ps(f.partition))),
            Some(k))
        }
        (side(snapTo), side(snapFrom))
    }
    val keyed = dedupCols
    // ONE null-safe full-outer join of the two snapshots (r18): the
    // previous shape derived inserts/updates (changed ⟕ old keys),
    // deletes (old ▷ new keys) and pre-images (old ⋉ updated keys) as
    // three separate joins over FIVE snapshot scans — Catalyst shares no
    // subtree across them. Every change type is now a FILTER over the
    // same joined frame: the two snapshot exchanges plan once and are
    // reused across the branches (ReusedExchange), so the scan + shuffle
    // cost is paid once however many types the caller asks for. Each
    // snapshot holds at most one live row per key, so the join is
    // key-to-key. Side presence tests use `_commit_id`, which is
    // non-null on every materialized row.
    val o = oldSnap.alias("_gco")
    val n = newSnap.alias("_gcn")
    def oc(c: String) = col("_gco.`" + c + "`")
    def nc(c: String) = col("_gcn.`" + c + "`")
    val joined = o.join(n, keyed.map(c => oc(c) <=> nc(c)).reduce(_ && _),
      "full_outer")
    val oldPresent = oc("_commit_id").isNotNull
    val newPresent = nc("_commit_id").isNotNull
    val updateTag = if (preImages) "update_postimage" else "update"
    // current versions ingested inside the window = inserts + updates
    val upserts = joined.filter(newPresent && nc("_commit_id") > from)
      .select(newSnap.columns.map(c => nc(c).as(c)) :+
        when(oldPresent, lit(updateTag)).otherwise(lit("insert"))
          .as("_change_type"): _*)
    // keys present at `from` and gone at `to`
    val deletes = joined.filter(oldPresent && !newPresent)
      .select(oldSnap.columns.map(c => oc(c).as(c)) :+
        lit("delete").as("_change_type"): _*)
    val base = upserts.unionByName(deletes, allowMissingColumns = true)
    if (!preImages) base
    else {
      // pre-images: the `from` snapshot's rows for exactly the UPDATED
      // keys (inserts had no prior row; deletes already carry theirs)
      val pres = joined.filter(
          oldPresent && newPresent && nc("_commit_id") > from)
        .select(oldSnap.columns.map(c => oc(c).as(c)) :+
          lit("update_preimage").as("_change_type"): _*)
      base.unionByName(pres, allowMissingColumns = true)
    }
  }

  /** Why [[changesBetween]] must diff its two snapshots whole, or None
    * when the window bounds it: a `from` below the cleaner horizon (a
    * pinned version — files the window removed may be gone), or a window
    * commit whose schema differs from `from`'s. */
  private[graft] def changeFeedUnbounded(from: Long, window: Seq[Commit],
      snapFrom: Snapshot): Option[String] = {
    val horizon = log.cleanedUpTo
    if (from < horizon)
      Some(s"window starts at commit $from, below the cleaner horizon $horizon")
    else {
      // MoR internals (`_seq`, `_deleted`) join the schema with the first
      // delta commit: user columns only
      def user(s: StructType) = s.fields.filterNot(f => SchemaEvo.isInternal(f.name)).toSeq
      val schema = user(tableSchema(snapFrom))
      window.find(c => user(parseSchema(c.schemaJson)) != schema)
        .map(c => s"commit ${c.id} changes the schema")
    }
  }

  /** The keys a change window `(from, to]` may have changed, as dedup
    * columns, and the partitions holding every row of them (None = any
    * partition) — None for keys when the window changed nothing:
    *  - rows stamped `_commit_id > from` in the files the window's
    *    logical commits added (tombstones included; each file read with
    *    its own commit's schema). Physical ops ([[LakeTable.PhysicalOps]])
    *    add nothing: every row they write carries an older stamp;
    *  - when a logical commit removed files: keys of the window's removed
    *    files live at `from` that no window add live at `to` still holds
    *    (partition drops, overwrites, CoW deletes), as in
    *    [[MaterializedAgg]]'s bounded refresh;
    *  - rows the window's deletion vectors deleted.
    * Partitions bound the scan only when every dedup group lives in one
    * partition ([[groupLocalMergeSafe]]) of one partition spec. */
  private def changeKeys(from: Long, window: Seq[Commit], snapFrom: Snapshot,
      snapTo: Snapshot): (Option[DataFrame], Option[Set[String]]) = {
    def keysOf(df: DataFrame) = df.select(dedupCols.map(c => col("`" + c + "`")): _*)
    val logical = window.filterNot(c => LakeTable.PhysicalOps.contains(c.op))
    val stamped = logical.flatMap(c => c.adds.filterNot(_.isDv).map(_ -> c.schemaJson))
    val stampedKeys = stamped.groupBy(_._2).toSeq.map { case (j, fs) =>
      keysOf(LogFileIndex.scan(spark, fs.map(_._1), parseSchema(j))
        .filter(col("_commit_id") > from))
    }
    val liveFrom = snapFrom.files.map(f => f.path -> f).toMap
    val removedOld =
      if (!logical.exists(_.removes.nonEmpty)) Seq.empty
      else window.flatMap(_.removes).distinct.flatMap(liveFrom.get)
    val goneKeys = if (removedOld.isEmpty) None else {
      val liveTo = snapTo.files.map(_.path).toSet
      val removedParts = removedOld.map(_.partition).toSet
      val kept = window.flatMap(_.adds).filter(a => !a.isDv &&
          liveTo.contains(a.path) &&
          (!groupLocalMergeSafe || removedParts(a.partition))).distinct
      Some(joinDedup(keysOf(readOrEmpty(removedOld, snapFrom)),
        keysOf(readOrEmpty(kept, snapTo)), "left_anti"))
    }
    val dvs = logical.flatMap(_.adds.filter(_.isDv))
    val dvKeys = if (dvs.isEmpty) None else {
      val addOf = (snapFrom.files ++ snapTo.files ++ window.flatMap(_.adds))
        .map(f => f.path -> f).toMap
      val schemaOf = snapFrom.pathSchemas ++ snapTo.pathSchemas
      Some(keysOf(dvDeletedRows(dvs, tableSchema(snapTo), schemaOf.get,
        p => addOf.getOrElse(p, FileAdd(p, "")))))
    }
    val touched = stamped.map(_._1) ++ removedOld ++ dvs
    val keys = (stampedKeys ++ goneKeys ++ dvKeys).reduceOption(_ union _)
      .map { k =>
        val once = k.distinct()
        if (keysFitBroadcast(touched, snapTo)) broadcast(once) else once
      }
    val oneSpec = (snapFrom.files ++ snapTo.files ++ touched).map(_.spec).distinct.size <= 1
    (keys, if (groupLocalMergeSafe && oneSpec) Some(touched.map(_.partition).toSet) else None)
  }

  /** True when a key set drawn from `sources` — at most one key per row,
    * by the row counts the log recorded — fits under
    * `spark.sql.autoBroadcastJoinThreshold`, sized as Spark sizes a row
    * (8 bytes plus each dedup column's default size). A disabled
    * threshold or an unrecorded count (0) declines: the semi-join is then
    * Spark's own choice, shuffled for a key set it cannot bound. */
  private def keysFitBroadcast(sources: Seq[FileAdd], snap: Snapshot): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val schema = tableSchema(snap)
    val rowBytes = 8L + dedupCols.map(c =>
      schema.find(_.name == c).fold(20)(_.dataType.defaultSize)).sum
    threshold > 0 && sources.forall(_.rows > 0) &&
      sources.map(_.rows).sum <= threshold / rowBytes
  }

  /** Read-optimized query (Hudi's MoR `_ro` view): base files only, no
    * delta merge — stale by up to the un-compacted deltas but as cheap as
    * a CoW scan. For CoW tables this equals read().
    */
  def readOptimized(): DataFrame = readOptimized(None, log.snapshot())

  /** [[readOptimized]] with the snapshot read's predicate file pruning
    * (stats/partition/key skipping over the BASE files) over a pinned
    * snapshot — the SQL `db.t.ro` surface. Base files are disjoint row
    * sets (only deltas overlap), so this is a plain pruned union scan
    * with no merge, which is the entire point of the `_ro` view. */
  private[graft] def readOptimized(pruneBy: Option[org.apache.spark.sql.Column],
      snap: Snapshot): DataFrame = {
    val base = snap.files.filter(!_.isDelta)
    val files = pruneBy.flatMap(c => resolvePredicate(c, snap))
      .map(p => pruneFilesFor(base, p, snap)).getOrElse(base)
    readOrEmpty(files, snap)
  }

  /** Partition-pruned snapshot: only the named partition values' live
    * files are listed and scanned (pruning on commit-log metadata — the
    * scan cost is the touched partitions, not the table).
    */
  def readPartitions(values: Set[String]): DataFrame = {
    val snap = log.snapshot()
    scanOrEmpty(snap, snap.files.filter(f => values.contains(f.partition)))
  }

  /** Point lookup by record key — the footer key-range index as a
    * user-facing read (Hudi record-level-index role): only files whose
    * recorded `_record_key` [min, max] may hold a probe key are scanned,
    * so on a key-clustered table a point read touches a handful of files
    * regardless of table size. Range bounds are true bounds, so every
    * version of a probed key lives in a candidate file — the MoR merge
    * over candidates is exact, and deleted keys return nothing. The
    * final semi-join filters the merged candidates to the probe keys.
    */
  /** observability: files scanned by the last [[lookup]] vs files live at
    * that moment — callers assert point reads stay key-range pruned (the
    * pruning inside lookup is eager, so these are valid right after the
    * call returns)
    */
  @volatile private[graft] var lastLookupFiles: Int = -1
  /** file count the last read(pruneBy) actually planned (post-pruning) */
  @volatile private[graft] var lastReadFiles: Int = -1
  @volatile private[graft] var lastLookupLive: Int = -1

  def lookup(keys: DataFrame): DataFrame = {
    // the probe plan is consumed up to three times (bucket probe, the
    // range/bloom pruning join, the final semi join) — deliberately NOT
    // materialized: the repeated consumers share the same plan instance,
    // so Spark reuses its shuffle outputs across the jobs (re-evaluation
    // skips the expensive stages); an explicit localCheckpoint was
    // A/B-measured slower (block-write overhead, no stage saved)
    val snap = log.snapshot()
    val live = snap.files
    // hash-bucketed tables prune by file group FIRST: a probe key can
    // only live in the bucket it hashes into, which holds even when
    // per-file key RANGES span the whole key space (hash-spread ingest
    // order, or compacted bucket bases). Probe key columns must carry
    // the table's key column types — the bucket hash is type-sensitive
    // (same contract as upsert's partition probe).
    val bucketed =
      if (config.hashBuckets == 0) live
      else {
        val hit = keys.select(
            pmod(hash(config.keyCols.map(col): _*), lit(config.hashBuckets))
              .cast("string").as("_b"))
          .distinct().collect().map(_.getString(0)).toSet // ≤ hashBuckets
        live.filter(f => hit.contains(f.partition.split(PartSep(0)).last))
      }
    val candidates = pruneByKeyRange(keys, bucketed)
    lastLookupFiles = candidates.size
    lastLookupLive = live.size
    val probe = keys.select(keyStrExpr.as("_record_key")).distinct()
    scanOrEmpty(snap, candidates).join(probe, Seq("_record_key"), "left_semi")
  }

  /** Widest schema across the WHOLE timeline, not just base commits:
    * delta commits write their batch schema as-is, so a widened upsert's
    * new columns must be part of the stream schema or the parquet source
    * would silently drop them. MoR internals (`_seq`, `_deleted`) are
    * pinned to the tail so the column order is stable across evolutions.
    */
  private[graft] def tailSchema: StructType = {
    // fold by COLUMN ID, later commits winning name/type: a renamed or
    // widened column surfaces once, under its final form, instead of as
    // two name-matched fields (the tail source aliases each batch's
    // files to this schema by id — SchemaEvo.adaptToStream)
    val merged = SchemaEvo.foldTimeline(
      log.commitsAll.map(_.schemaJson).distinct.map(parseSchema))
    val extra = Seq(
      org.apache.spark.sql.types.StructField("_seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_deleted",
        org.apache.spark.sql.types.BooleanType))
    // every field nullable: tombstones null their payload columns, and
    // pre-evolution files null the columns they predate (the file stream
    // source relaxed nullability implicitly; declared here explicitly)
    StructType((merged.fields.filterNot(f =>
      f.name == "_seq" || f.name == "_deleted") ++ extra)
      .map(_.copy(nullable = true)))
  }

  /** [[tailSchema]] + `_change_type` — the typed change-feed tail's
    * shape (`tailStream(changeTypes = true)`) */
  private[graft] def changeFeedSchema: StructType = {
    val base = tailSchema
    StructType(base.fields.filterNot(_.name == "_change_type") :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true))
  }

  /** Structured-streaming tail of the table's change log (the streaming
    * counterpart of Hudi's incremental read): on a MoR table every write
    * is a delta commit whose directory holds EXACTLY the batch's rows —
    * upserts plus `_deleted` tombstones — an append-only change stream.
    * Consumers filter `_deleted` / apply precombine as their sink
    * semantics require.
    *
    * Driven by the COMMIT LOG, not a directory glob
    * ([[graft.sources.GraftTailSource]]): offsets are commit ids and each
    * micro-batch reads exactly the files the new commits name, so
    * per-trigger metadata cost is O(new commits) — a glob-based file
    * stream source re-lists the entire delta tree every trigger, which
    * grows with table AGE (the problem that made Delta read its log as
    * the stream source).
    *
    * CoW tables stream too: their commits rewrite files, so the source
    * derives each commit's changes from its adds/removes — added rows
    * stamped with the commit's `_commit_id` (rewrites preserve untouched
    * rows' provenance stamps, so the filter is exact) plus `_deleted`
    * tombstones for keys the commit removed (the reference's own table
    * type is CoW, glue/HudiJarGlueJob.py:77). A crashed write's orphan
    * delta directory is NEVER emitted (only committed files are named by
    * the log — tightened from the glob design, which could leak one).
    */
  def tailStream(
      maxCommitsPerTrigger: Option[Int] = None,
      startingCommit: Option[Long] = None,
      /** Delta CDF-style typed change rows (`_change_type` = insert |
        * update_preimage | update_postimage | delete). CoW commits
        * classify from their own adds/removes (one bounded key join per
        * commit); MoR delta commits classify from two bounded MERGED
        * probes of the touched keys — pre/post state, key-range-pruned
        * to the touched file groups ([[mergedPrePostRows]]). Zero
        * write-path overhead either way: the types are derived at READ
        * time from the commit log, where Delta pays a change-file write
        * per commit. */
      changeTypes: Boolean = false): DataFrame = {
    val base = spark.readStream.format("graft")
      .schema(if (changeTypes) changeFeedSchema else tailSchema)
      .option("changeTypes", changeTypes.toString)
      .option("storageType", config.storageType)
      .option("keyCols", config.keyCols.mkString(","))
      .option("precombineCol", config.precombineCol)
      .option("partitionCols", config.partitionCols.mkString(","))
      .option("globalIndex", config.globalIndex.toString)
      .option("hashBuckets", config.hashBuckets.toString)
    val opts = Seq(
      maxCommitsPerTrigger.map("maxCommitsPerTrigger" -> _.toString),
      startingCommit.map("startingCommit" -> _.toString)).flatten
    opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
      .load(config.root)
  }

  /** Zero-copy clone at a snapshot (Delta SHALLOW CLONE role): the new
    * table's first commit REFERENCES the source's live files — no data
    * is copied, so cloning a 100 TB table is a metadata write. Writes to
    * either table diverge normally: the clone's upserts supersede the
    * borrowed references with its own files; maintenance on the clone
    * (clean/rollback/restore/vacuum) never deletes borrowed files (the
    * commit log's ownership guard). Contract, same as Delta: cleaning
    * the SOURCE can drop files the clone still references — savepoint
    * the cloned commit on the source to pin them.
    */
  def shallowClone(targetRoot: String, asOf: Option[Long] = None): LakeTable = {
    // borrow the FULL live set — deletion-vector sidecars included, or a
    // clone of a DV'd table would resurrect the deleted rows
    val snap = log.snapshot(asOf)
    val files = snap.all
    val schemaJson = snap.schemaJson.getOrElse(new StructType().json)
    val clone = new LakeTable(spark, config.copy(root = targetRoot))
    require(!clone.exists, s"clone target $targetRoot already exists")
    // provenance for write-audit-publish: publishFrom validates the
    // fast-forward precondition (source unchanged since this snapshot)
    // against these, so they must travel atomically with the clone
    val srcCommit = snap.id.getOrElse(log.EmptyTable)
    val provenance = Map(
      "clone.sourceRoot" -> config.root,
      "clone.sourceCommit" -> srcCommit.toString)
    // borrowed files keep the FILE schema their source commit recorded
    // (schema evolution: a pre-rename/pre-widen file must stay readable
    // through id adaptation) — one clone commit per distinct source
    // schema, then a final schema commit pinning the table schema so
    // schemaJsonAsOf(latest) is the evolved schema, not the last group's
    val jsonOf = snap.pathSchemas
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[FileAdd]]
    files.foreach(f => groups.getOrElseUpdate(jsonOf.getOrElse(f.path, schemaJson),
      new scala.collection.mutable.ArrayBuffer[FileAdd]) += f)
    // the clone's timeline CONTINUES the source's id space (first clone
    // commit = source commit + 1): every row stamp a borrowed file
    // carries is then < every commit the clone itself lands, and every
    // write audited ON the clone stamps ABOVE the source head — the
    // invariant publishFrom's commit-id discipline rests on (published
    // rows must read as "after the pre-publish head" to incremental/CDC
    // readers). clone.readAsOf(srcCommit) is the cloned snapshot.
    var next = srcCommit + 1
    val first = next
    groups.foreach { case (j, fs) =>
      clone.log.append(
        Commit(next, "clone", System.currentTimeMillis(), j,
          adds = fs.toSeq, removes = Seq.empty,
          meta = if (next == first) provenance else Map.empty),
        basedOnLatest = if (next == first) clone.log.EmptyTable else next - 1)
      next += 1
    }
    if (groups.isEmpty || groups.keys.last != schemaJson) {
      clone.log.append(
        Commit(next, "schema", System.currentTimeMillis(), schemaJson,
          adds = Seq.empty, removes = Seq.empty,
          meta = if (next == first) provenance else Map.empty),
        basedOnLatest = if (next == first) clone.log.EmptyTable else next - 1)
    }
    clone
  }

  /** Physical (DEEP) clone at a snapshot (None = latest): the clone
    * OWNS independent copies of the data, so the two tables share no
    * storage fate — the Delta `DEEP CLONE` counterpart to
    * [[shallowClone]]'s zero-copy borrow.
    *
    * Fast path: a clean all-base snapshot (no pending MoR deltas, no
    * live DVs, uniform recorded schemas — the same strict proof behind
    * the native scan) BYTE-COPIES each data file and its bloom
    * sidecars into the clone's own data dir — no decode, no shuffle,
    * and the commit metadata (partition tuples, key ranges, column
    * stats, footer counts, bloom flags) carries over verbatim, so the
    * clone prunes exactly like its source from commit one. Anything
    * else — pending deltas, live DVs — takes the REWRITE path: one
    * distributed read of the merged snapshot bulk-inserted into the
    * clone (the merge is precisely what makes that copy independent).
    * No history travels either way: a deep clone is a NEW table whose
    * first commit IS the snapshot.
    */
  def deepClone(targetRoot: String, asOf: Option[Long] = None): LakeTable = {
    val clone = new LakeTable(spark, config.copy(root = targetRoot))
    val cloneBase = clone.log.snapshot()
    require(cloneBase.id.isEmpty, s"clone target $targetRoot already exists")
    val snap = log.snapshot(asOf)
    val clean = nativeScanFiles(snap).filter(_ => snap.dvs.isEmpty)
    clean match {
      case Some(files) =>
        val schemaJson = snap.schemaJson.getOrElse(new StructType().json)
        val srcFs = LocalFs.of(new Path(config.root), hconf)
        val dstDir = new Path(targetRoot, "data/c00000000-deepclone")
        val dstFs = LocalFs.of(dstDir, hconf)
        dstFs.mkdirs(dstDir)
        val copied = files.zipWithIndex.map { case (f, i) =>
          val sp = new Path(f.path)
          // index prefix: basenames are unique per commit dir, not
          // necessarily across the whole borrowed set
          val dp = new Path(dstDir, f"$i%05d-${sp.getName}")
          require(org.apache.hadoop.fs.FileUtil.copy(
            srcFs, sp, dstFs, dp, false, hconf),
            s"deep clone failed to copy $sp")
          Seq(".bf", ".bfm").foreach { ext =>
            val side = new Path(sp.getParent, "." + sp.getName + ext)
            if (srcFs.exists(side)) {
              org.apache.hadoop.fs.FileUtil.copy(srcFs, side, dstFs,
                new Path(dstDir, "." + dp.getName + ext), false, hconf)
              ()
            }
          }
          f.copy(path = dstFs.makeQualified(dp).toString)
        }
        val jsonOf = snap.pathSchemas
        // one commit per distinct source FILE schema (same discipline as
        // shallowClone: pre-evolution files stay readable through id
        // adaptation), then a schema commit pinning the table schema
        val groups = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[FileAdd]]
        files.zip(copied).foreach { case (orig, c) =>
          groups.getOrElseUpdate(jsonOf.getOrElse(orig.path, schemaJson),
            new scala.collection.mutable.ArrayBuffer[FileAdd]) += c
        }
        val first = cloneBase.nextId
        var next = first
        groups.foreach { case (j, fs) =>
          clone.log.append(
            Commit(next, "deep_clone", System.currentTimeMillis(), j,
              adds = fs.toSeq, removes = Seq.empty),
            basedOnLatest = if (next == first) clone.log.EmptyTable else next - 1)
          next += 1
        }
        if (groups.isEmpty || groups.keys.last != schemaJson)
          clone.log.append(
            Commit(next, "schema", System.currentTimeMillis(), schemaJson,
              adds = Seq.empty, removes = Seq.empty),
            basedOnLatest = if (next == first) clone.log.EmptyTable else next - 1)

        clone
      case None =>
        // merged-snapshot rewrite: user columns only (engine stamps are
        // re-minted by the clone's own commit)
        val snap0 = read(snap, None)
        val user = snap0.schema.fieldNames
          .filterNot(SchemaEvo.isInternal).toSeq
        clone.bulkInsert(snap0.select(user.map(col): _*))
        clone
    }
  }

  /** Write-audit-publish, publish step (Iceberg WAP fast-forward /
    * Delta-style branch promote, expressed on the commit log): `audit`
    * was [[shallowClone]]d from THIS table, audited writes landed on it,
    * and this call lands the audit's NET effect here as ONE atomic
    * commit — zero-copy both ways (unchanged files stay borrowed,
    * audit-written files are referenced in place; the ownership guard
    * means this table's maintenance never deletes them).
    *
    * Preconditions, all checked:
    *  - `audit`'s first commit carries this table's root + the source
    *    commit it cloned (provenance recorded by [[shallowClone]]);
    *  - this table's head still equals that source commit — the
    *    FAST-FORWARD condition. A source that advanced since the clone
    *    aborts with [[CommitConflict]] semantics (re-clone and re-audit;
    *    merging divergent timelines is a semantic decision, not a
    *    metadata one);
    *  - every file the audit added carries the audit's HEAD schema
    *    (mid-audit schema evolution: compact the audit first) — the one
    *    publish commit records one schema, so per-file adaptation info
    *    must not be needed.
    *
    * Commit-id discipline: rows written on the audit are stamped with
    * AUDIT commit ids, all > this table's head because the clone's
    * timeline CONTINUES the source's id space (shallowClone starts at
    * source commit + 1). The publish commit takes id
    * `max(nextId, audit head)` — ids may skip (the rollback-retirement
    * precedent), never collide — so incremental/CDC readers see every
    * published row as "after the pre-publish head" and no future commit
    * of this table reuses a stamped id.
    */
  def publishFrom(audit: LakeTable): Long = {
    // FULL live sets (DV sidecars included): an audit whose changes are
    // position deletes must publish its sidecars with it, and a fold on
    // the audit must retire the source's borrowed sidecars
    val src = log.snapshot()
    require(src.id.isDefined, s"table ${config.root} does not exist")
    val auditSnap = audit.log.snapshot()
    require(auditSnap.id.isDefined,
      s"audit table ${audit.config.root} does not exist")
    val firstMeta = audit.log.commitsAll.headOption
      .map(_.metadata).getOrElse(Map.empty[String, String])
    require(firstMeta.get("clone.sourceRoot").contains(config.root),
      s"${audit.config.root} is not a clone of ${config.root} " +
        s"(provenance: ${firstMeta.getOrElse("clone.sourceRoot", "none")})")
    val sourceCommit = firstMeta("clone.sourceCommit").toLong
    val head = src.id.get
    val srcLive = src.all.map(f => f.path -> f).toMap
    val auditLive = auditSnap.all
    val adds = auditLive.filterNot(f => srcLive.contains(f.path))
    val removes = {
      val keep = auditLive.map(_.path).toSet
      srcLive.keys.filterNot(keep.contains).toSeq
    }
    // nothing to publish (incl. re-publishing an already-published
    // audit — the live sets agree, so publish is idempotent) — checked
    // BEFORE the fast-forward condition, which only gates real changes
    if (adds.isEmpty && removes.isEmpty) return head
    if (head != sourceCommit)
      throw new CommitConflict(
        s"cannot fast-forward publish: ${config.root} advanced to commit " +
          s"$head since the audit cloned commit $sourceCommit — re-clone " +
          "and re-audit against the current snapshot")
    val schemaJson = auditSnap.schemaJson.getOrElse(tableSchema(src).json)
    // one commit = one schema: every audit-added file must already be
    // at the audit head schema (field order differences are fine — the
    // adaptation KEY is order-insensitive)
    val jsonOf = auditSnap.pathSchemas
    val headKey = SchemaEvo.adaptKey(parseSchema(schemaJson))
    adds.filterNot(_.isDv).foreach(f => require(
      jsonOf.get(f.path).exists(j => SchemaEvo.adaptKey(parseSchema(j)) == headKey),
      s"audit file ${f.path} predates the audit's schema evolution — " +
        "compact the audit table before publishing"))
    // retained borrowed files must stay readable under the published
    // schema (they are also live on the audit, so its own evolution
    // invariant proved this — re-prove here, fail before the append)
    val retainedSchemas = {
      val gone = removes.toSet
      src.files.filterNot(f => gone.contains(f.path))
        .flatMap(f => src.pathSchemas.get(f.path)).distinct.map(parseSchema)
    }
    SchemaEvo.validateAgainstLiveFiles(parseSchema(schemaJson), retainedSchemas)
    val auditHead = auditSnap.id.get
    val id = math.max(src.nextId, auditHead)
    log.append(
      Commit(id, "publish", System.currentTimeMillis(), schemaJson,
        adds = adds, removes = removes,
        meta = Map("publish.auditRoot" -> audit.config.root,
          "publish.auditCommit" -> auditHead.toString)),
      basedOnLatest = head)
    id
  }

  // ---- schema evolution: rename / drop (SchemaEvo column identity) ----

  /** columns whose name the table's own configuration depends on —
    * renaming or dropping one would desync layout, dedup identity, or
    * the stats index from the config */
  private def pinnedCols: Set[String] =
    (config.keyCols ++ config.partitionCols ++ config.statsCols ++
      config.clusterCols ++ config.bloomCols ++ config.sumCols :+
      config.precombineCol).toSet

  /** Rename a column (metadata-only commit — no data file is touched;
    * Delta column-mapping semantics): old files keep the old physical
    * name and reads alias them by column id. Key/partition/precombine/
    * stats/cluster columns are pinned — their names are load-bearing in
    * the table config. Plain-engine catalog reads (which match by
    * physical name) see renamed columns as null for pre-rename files —
    * the same contract as Delta's column mapping; re-sync via compaction.
    */
  def renameColumn(oldName: String, newName: String): Long = {
    val base = schemaBase()
    val s = tableSchema(base)
    require(s.fieldNames.contains(oldName), s"no column '$oldName'")
    require(!s.fieldNames.contains(newName), s"column '$newName' already exists")
    require(!SchemaEvo.isInternal(oldName) && !pinnedCols.contains(oldName),
      s"column '$oldName' is pinned by the table configuration")
    require(newName.nonEmpty && !SchemaEvo.isInternal(newName),
      s"invalid new column name '$newName'")
    schemaCommit(base, StructType(s.fields.map(f =>
      if (f.name == oldName) SchemaEvo.renameField(f, newName) else f)))
  }

  /** Drop a column (metadata-only commit): the field leaves the table
    * schema; old files keep the bytes but no reader selects them.
    * Re-adding the same name later mints a FRESH column id, so the
    * dropped data never resurrects. */
  def dropColumn(name: String): Long = {
    val base = schemaBase()
    val s = tableSchema(base)
    require(s.fieldNames.contains(name), s"no column '$name'")
    require(!SchemaEvo.isInternal(name) && !pinnedCols.contains(name),
      s"column '$name' is pinned by the table configuration")
    schemaCommit(base, StructType(s.fields.filterNot(_.name == name)))
  }

  /** Add a nullable column (metadata-only commit): existing rows read
    * as null. A FRESH column id is minted, so a name reused after a
    * drop never resurrects the dropped column's data. */
  def addColumn(name: String, dt: DataType,
      defaultSql: Option[String] = None): Long = {
    val base = schemaBase()
    val s = tableSchema(base)
    require(!s.fieldNames.contains(name), s"column '$name' already exists")
    require(name.nonEmpty && !SchemaEvo.isInternal(name),
      s"invalid column name '$name'")
    val minted0 = SchemaEvo.mintField(name, dt)
    // ADD COLUMN ... DEFAULT <sql>: the constant lands in field metadata
    // (Spark's own CURRENT/EXISTS_DEFAULT keys). EXISTS_DEFAULT makes
    // reads backfill the value for every file that predates the column
    // (SchemaEvo.adapt); CURRENT_DEFAULT makes INSERT analysis fill
    // omitted columns. Evolution preserves kept fields' metadata, so the
    // declaration survives later commits. Validate NOW, loudly — a bad
    // default must not first surface at some future read.
    val minted = defaultSql.fold(minted0) { sql =>
      validateDefault(name, dt, sql)
      minted0.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(minted0.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", sql).build())
    }
    val (user, internal) = s.fields.partition(x => !SchemaEvo.isInternal(x.name))
    schemaCommit(base, StructType(user ++ Array(minted) ++ internal))
  }

  /** The "validated now, loudly" gate for DEFAULT expressions, shared
    * by ADD COLUMN and SET DEFAULT. Two layers:
    *   1. Spark's own default-column analyzer ([[org.apache.spark.sql.
    *      catalyst.util.ResolveDefaultColumns]].analyze) — the SAME code
    *      INSERT analysis later runs: parses, analyzes, constant-folds
    *      and requires a literal of the column type, rejecting
    *      nondeterministic expressions (rand()) and scalar subqueries.
    *   2. A per-statement-context deny check: Catalyst marks
    *      current_timestamp/current_date/current_user & co FOLDABLE (a
    *      per-query substitution folds them), so layer 1 accepts them —
    *      but as a stored default they would mint a DIFFERENT value on
    *      every insert. The declared-constant contract refuses them at
    *      ALTER time instead of varying silently later.
    */
  private[graft] def validateDefault(colName: String, dt: DataType,
      sql: String): Unit = {
    val probe = scala.util.Try(
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .analyze(colName, dt, sql, "ALTER TABLE ... DEFAULT"))
    require(probe.isSuccess,
      s"DEFAULT ($sql) is not a constant ${dt.sql} expression: " +
        probe.failed.map(_.getMessage).getOrElse(""))
    val perStatement = Set("current_timestamp", "now", "localtimestamp",
      "current_date", "curdate", "current_timezone", "current_user",
      "user", "session_user", "current_database", "current_schema",
      "current_catalog")
    val parsed = scala.util.Try(
      spark.sessionState.sqlParser.parseExpression(sql)).getOrElse(
      throw new IllegalArgumentException(s"DEFAULT ($sql) does not parse"))
    val hit = parsed.collectFirst {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if perStatement.contains(f.nameParts.last.toLowerCase) =>
        f.nameParts.last
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 &&
            perStatement.contains(a.nameParts.head.toLowerCase) =>
        a.nameParts.head
    }
    require(hit.isEmpty,
      s"DEFAULT ($sql) references the per-statement value '${hit.getOrElse("")}'" +
        " — it would mint a different value on every insert; store a" +
        " constant instead")
  }

  /** `ALTER COLUMN c SET DEFAULT <sql>` / `DROP DEFAULT` (metadata-only
    * commit): changes what FUTURE inserts fill when the column is
    * omitted. Existing rows are untouched, and EXISTS_DEFAULT — the
    * backfill constant for files that PREDATE an added column — is
    * deliberately preserved: repointing it would rewrite the history
    * those files read as. Validated now, loudly, like ADD COLUMN. */
  def setColumnDefault(name: String, defaultSql: Option[String]): Long = {
    val base = schemaBase()
    val s = tableSchema(base)
    val f = s.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column '$name'"))
    require(!SchemaEvo.isInternal(name), s"invalid column name '$name'")
    val md = defaultSql match {
      case Some(sql) =>
        validateDefault(name, f.dataType, sql)
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString("CURRENT_DEFAULT", sql).build()
      case None =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("CURRENT_DEFAULT").build()
    }
    schemaCommit(base, StructType(s.fields.map(x =>
      if (x.name == name) x.copy(metadata = md) else x)))
  }

  /** Widen a column's type without touching data (int→long,
    * float→double, ... — [[SchemaEvo.canWiden]]): old files keep the
    * narrow physical type; reads cast up by column id. */
  def widenColumn(name: String, dt: DataType): Long = {
    val base = schemaBase()
    val s = tableSchema(base)
    val f = s.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column '$name'"))
    require(!SchemaEvo.isInternal(name) && !pinnedCols.contains(name),
      s"column '$name' is pinned by the table configuration")
    require(SchemaEvo.canWiden(f.dataType, dt),
      s"cannot widen ${f.dataType.simpleString} to ${dt.simpleString}")
    schemaCommit(base, StructType(s.fields.map(x =>
      if (x.name == name) x.copy(dataType = dt) else x)))
  }

  /** Nested-path variants (ALTER TABLE ... s.f ...): add / rename /
    * drop / widen a field INSIDE a struct column, any depth (structs
    * and arrays-of-struct). Identity and minting rules are the
    * top-level ones applied at the nested level
    * ([[SchemaEvo.addAt]]/renameAt/dropAt/widenAt): a renamed nested
    * field keeps its id and old files alias by it; a re-added nested
    * name mints fresh, so dropped nested data never resurrects. The
    * TOP-LEVEL column of a nested edit must not be pinned or internal
    * (partition/key/precombine names are load-bearing whole). */
  def renameColumn(path: Seq[String], newName: String): Long =
    if (path.lengthCompare(1) == 0) renameColumn(path.head, newName)
    else nestedSchemaChange(path)(s => SchemaEvo.renameAt(s, path, newName))

  def dropColumn(path: Seq[String]): Long =
    if (path.lengthCompare(1) == 0) dropColumn(path.head)
    else nestedSchemaChange(path)(s => SchemaEvo.dropAt(s, path))

  def addColumn(path: Seq[String], dt: DataType): Long =
    addColumn(path, dt, None)

  def addColumn(path: Seq[String], dt: DataType,
      defaultSql: Option[String]): Long =
    if (path.lengthCompare(1) == 0) addColumn(path.head, dt, defaultSql)
    else {
      // nested ADD COLUMN ... DEFAULT: the exists-default backfills the
      // field for every pre-existing row (SchemaEvo.adapt's nested
      // rebuild), same contract as a top-level add. Post-add writers
      // always supply the field — a struct literal's shape is enforced
      // by analysis — so there is no insert-fill consumer to repoint,
      // which is also why SET DEFAULT on a nested field stays refused.
      defaultSql.foreach(validateDefault(path.mkString("."), dt, _))
      nestedSchemaChange(path)(s => SchemaEvo.addAt(s, path, dt, defaultSql))
    }

  def widenColumn(path: Seq[String], dt: DataType): Long =
    if (path.lengthCompare(1) == 0) widenColumn(path.head, dt)
    else nestedSchemaChange(path)(s => SchemaEvo.widenAt(s, path, dt))

  private def nestedSchemaChange(path: Seq[String])
      (op: StructType => StructType): Long = {
    val base = schemaBase()
    require(!SchemaEvo.isInternal(path.head) &&
        !pinnedCols.contains(path.head),
      s"column '${path.head}' is pinned by the table configuration")
    schemaCommit(base, op(tableSchema(base)))
  }

  /** the one snapshot a schema change derives its next schema from and
    * is validated against */
  private def schemaBase(): Snapshot = {
    val base = log.snapshot()
    require(base.id.isDefined, s"table ${config.root} does not exist")
    base
  }

  /** publish a metadata-only schema commit (op "schema") derived from
    * `base`: adds/removes empty, optimistic-concurrency checked against
    * `base` like any write */
  private def schemaCommit(base: Snapshot, next: StructType): Long = {
    val id = base.nextId
    // stamp ids on any legacy field so identity survives the change —
    // at EVERY nesting level (nested fields default to name identity)
    val stamped = StructType(next.fields.map(f =>
      if (SchemaEvo.isInternal(f.name)) f
      else SchemaEvo.renameField(
        f.copy(dataType = SchemaEvo.stampIds(f.dataType)), f.name)))
    SchemaEvo.validateAgainstLiveFiles(stamped,
      base.files.flatMap(f => base.pathSchemas.get(f.path)).distinct.map(parseSchema))
    log.append(Commit(id, "schema", System.currentTimeMillis(), stamped.json,
      Seq.empty, Seq.empty), basedOnLatest = base.id.get)
    resync()
    id
  }

  /** The commit timeline as a DataFrame (Delta DESCRIBE HISTORY role):
    * one row per commit with operation, wall-clock, and file/byte/
    * partition deltas. Metadata-scale: built from the commit log, no
    * data files touched.
    */
  def history(): DataFrame = {
    val rows = log.commitsAll.map(c => (c.id, c.op, c.tsMillis,
      c.adds.size.toLong, c.removes.size.toLong,
      c.adds.map(_.bytes).sum,
      c.adds.map(_.partition).distinct.size.toLong))
    spark.createDataFrame(rows).toDF("commit_id", "op", "ts_millis",
      "n_files_added", "n_files_removed", "bytes_added",
      "n_partitions_touched")
  }

  /** Live file inventory as a DataFrame (Iceberg `.files` metadata-table
    * role): one row per live file with its partition tuple, kind, size,
    * footer row count, key range and bloom flag. Metadata-scale: the
    * commit log already materializes this driver-side — no data file or
    * directory listing is touched. The partition column is named `part`
    * so the SQL face needs no reserved-word quoting.
    */
  def filesDf(asOf: Option[Long] = None): DataFrame = {
    val rows = log.liveFiles(asOf).map(f => (f.path, f.partition, f.kind,
      f.bytes, f.rows, Option(f.kmin), Option(f.kmax), f.bloom))
    spark.createDataFrame(rows).toDF("path", "part", "kind",
      "bytes", "rows", "kmin", "kmax", "bloom")
  }

  /** Per-partition file statistics (Iceberg `.partitions` role): file/
    * byte totals and the FOOTER row sum per stored partition tuple.
    * `rows_written` is the metadata-only sum of live files' footer
    * counts — equal to live rows on CoW/compacted state, an overcount
    * where un-compacted MoR deltas shadow base rows ([[partitionRowCounts]]
    * is the always-exact hybrid; this surface deliberately never scans).
    */
  def partitionsDf(asOf: Option[Long] = None): DataFrame = {
    val rows = log.liveFiles(asOf).groupBy(_.partition).toSeq
      .map { case (p, fs) =>
        (p, fs.size.toLong, fs.count(!_.isDelta).toLong,
          fs.count(_.isDelta).toLong, fs.map(_.bytes).sum,
          fs.map(_.rows).sum)
      }
    spark.createDataFrame(rows).toDF("part", "n_files", "n_base_files",
      "n_delta_files", "bytes", "rows_written")
  }

  /** Named tags as a DataFrame (Iceberg `.refs` role). */
  def tagsDf(): DataFrame =
    spark.createDataFrame(log.tags.toSeq.sortBy(_._1))
      .toDF("name", "commit_id")

  /** the `db.t.branches` metadata-table frame: name → branch head */
  def branchesDf(): DataFrame =
    spark.createDataFrame(branches.toSeq.sortBy(_._1))
      .toDF("name", "head_commit_id")

  /** Exact snapshot row count answered from the commit log where
    * provable (Delta `numRecords` / Hudi commit-metadata-count role):
    * a base file's footer row count was recorded at commit time, and
    * CoW base files are disjoint live-row sets, so their counts simply
    * sum — no data file is opened. At 100 TB a `count(*)` must be a
    * metadata read, not a scan. The non-summable remainder — partitions
    * with pending MoR deltas (where the read-time merge shadows and
    * tombstones base rows) and pre-upgrade files without a recorded
    * count — falls back to counting the merged read of JUST those file
    * groups, so the scan is bounded by recent write activity exactly
    * like the MoR snapshot read itself. Correct in every state,
    * metadata-only in the steady (CoW / compacted) state.
    */
  def countRows(asOf: Option[Long] = None): Long = countRowsOf(log.snapshot(asOf))

  private def countRowsOf(snap: Snapshot): Long = {
    val files = snap.files
    // a global-index MoR delta can shadow a key in ANY partition — no
    // per-partition reasoning survives; merge (and count) table-wide
    if (files.exists(_.isDelta) && !groupLocalMergeSafe)
      return mergeIfNeeded(files, snap).count()
    var metaSum = 0L
    val scan = Seq.newBuilder[FileAdd]
    files.groupBy(_.partition).foreach { case (_, fs) =>
      if (fs.exists(_.isDelta)) scan ++= fs // merge shadows rows: whole group counts merged
      else {
        val (rec, unrec) = fs.partition(_.rows > 0L)
        metaSum += rec.map(_.rows).sum
        scan ++= unrec // disjoint base files: scan only the unrecorded
      }
    }
    val rest = scan.result()
    // deletion vectors: metadata-counted files may carry DV'd positions;
    // subtract those (exact — one live DV entry per position). Scanned
    // files need no adjustment: readFiles applies their DVs row-level.
    val restPaths = rest.map(_.path).toSet
    val dvAdj = snap.dvs
      .filterNot(d => restPaths.contains(d.target)).map(_.rows).sum
    metaSum -= dvAdj
    if (rest.isEmpty) metaSum else metaSum + mergeIfNeeded(rest, snap).count()
  }

  /** Strict prover behind the SQL aggregate pushdown: the snapshot row
    * count, but ONLY when every live file at the pin is a base file with
    * a recorded footer count — i.e. when the answer is a pure metadata
    * sum. None whenever any scan would be needed ([[countRows]] is the
    * always-answers hybrid).
    */
  def metadataRowCount(asOf: Option[Long] = None): Option[Long] = {
    val snap = log.snapshot(asOf)
    metadataRowCountOf(snap.files, snap)
  }

  /** [[metadataRowCount]] over an explicit file subset (the filtered
    * aggregate pushdown's shape: the subset is an EXACT partition
    * selection, so its footer counts ARE the filtered count). */
  private[graft] def metadataRowCountOf(files: Seq[FileAdd],
      snap: Snapshot): Option[Long] =
    // live DVs subtract exactly — every live DV names one live target
    // file, and each position was admitted once (the DV write reads
    // through existing DVs), so the positions of targets IN the subset
    // are precisely the deleted rows of the subset's footprint (a point
    // delete must not cost a 100 TB table its metadata counts). Targets
    // outside the subset are irrelevant to it.
    metadataRowCountOfData(files).map { base =>
      val paths = files.map(_.path).toSet
      base - snap.dvs
        .filter(d => paths.contains(d.target)).map(_.rows).sum
    }

  private def metadataRowCountOfData(files: Seq[FileAdd]): Option[Long] =
    if (files.forall(f => !f.isDelta && f.rows > 0L)) Some(files.map(_.rows).sum)
    else None

  /** EXACT file subset for a conjunction of partition-column constraints
    * (`col -> accepted literal values`; a null value means "accept null
    * rows") — Some ONLY when file membership provably equals row
    * membership, i.e. every row of a kept file satisfies the predicate
    * and every row of a dropped file violates it:
    *
    *  - the column's render (the cast that names the directory) is
    *    INJECTIVE on its type and timezone-free: timestamps refuse;
    *  - string columns refuse ''-accepting and null-accepting
    *    constraints (the null-sentinel directory holds both and cannot
    *    be split without a scan) — a non-empty string equality is exact;
    *  - every stored tuple carries the declared arity (pre-upgrade
    *    tuples refuse);
    *  - delta-touched snapshots need the group-local merge guarantee
    *    (file tuples equal partition tuples, so pruning keeps whole
    *    file groups); a global index spanning partitions refuses.
    *
    * This is what lets a pushed partition-equality filter be claimed
    * FULLY HANDLED by the scan (file pruning = row filtering) and an
    * aggregate over it answer from the commit log alone.
    */
  private[graft] def exactPartitionFiles(
      constraints: Map[String, Seq[Any]],
      asOf: Option[Long],
      /** columns constrained only by IS NOT NULL (Spark pushes one next
        * to every equality): exact on NON-string claim types — their
        * sentinel dir holds only nulls; a string sentinel also holds ''
        * (which IS NOT NULL accepts) and refuses */
      notNull: Set[String] = Set.empty,
      /** range bounds per column (`">=" | ">" | "<" | "<=" -> literal`):
        * provable ONLY on temporal-transformed levels whose bound sits
        * exactly on a level boundary — see the transform branch below */
      ranges: Map[String, Seq[(String, Any)]] = Map.empty): Option[Seq[FileAdd]] =
    exactPartitionFiles(constraints, log.snapshot(asOf), notNull, ranges)

  /** [[exactPartitionFiles]] over an already-resolved snapshot (the
    * pinned DSv2 scan's filter claims and aggregate pushdown) */
  private[graft] def exactPartitionFiles(
      constraints: Map[String, Seq[Any]], snap: Snapshot,
      notNull: Set[String],
      ranges: Map[String, Seq[(String, Any)]]): Option[Seq[FileAdd]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, StringType, TimestampType}
    if (snap.id.isEmpty ||
        (constraints.isEmpty && notNull.isEmpty && ranges.isEmpty)) return None
    val tbl = tableSchema(snap)
    val levelOf = config.partitionCols.zipWithIndex.toMap
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    // types whose IDENTITY render is provably injective and whose
    // pushed-filter literal provably renders like the stored value:
    // strings (modulo the sentinel), integrals, booleans, dates.
    // Floats/decimals refuse (scale/shortest-repr divergence between a
    // literal's inferred type and the column type could drop a matching
    // file), timestamps refuse (session-timezone-sensitive render).
    def claimType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType |
           LongType | DateType => true
      case _ => false
    }
    /** temporal transforms partition the domain into CONTIGUOUS,
      * ORDER-PRESERVING level intervals with timezone-free fixed-width
      * renders — the precondition for aligned-range exactness. Fixed
      * width per level keeps string order = source order. */
    def temporalWidth(t: PartTransform): Option[Int] = t match {
      case PartTransform.Years => Some(4)
      case PartTransform.Months => Some(7)
      case PartTransform.Days => Some(10)
      case PartTransform.Hours => Some(13)
      case _ => None
    }
    // bound-literal types whose transform render and ±ε shift are both
    // expressible timezone-free (NTZ is excluded: its ±ε arithmetic
    // would need NTZ-typed micros plumbing — conservative refusal)
    def temporalLitType(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt == DateType || dt == TimestampType
    def renderThrough(t: PartTransform, c: Column,
        dt: org.apache.spark.sql.types.DataType): Option[String] =
      foldToString(t.expr(c, dt).cast("string")).flatten
    /** the instant one unit before/after `v` in its type's granularity */
    def shifted(v: Any, dt: org.apache.spark.sql.types.DataType,
        forward: Boolean): Column = dt match {
      case DateType =>
        if (forward) date_add(lit(v), 1) else date_sub(lit(v), 1)
      case _ => // TimestampType
        timestamp_micros(unix_micros(lit(v)) + (if (forward) 1L else -1L))
    }
    /** the whole claim evaluated under ONE spec's transforms over that
      * spec's files (evolution: each spec group proves independently —
      * a constraint exact under `days` may be unprovable under the
      * `months` the older files were written with) */
    def claimFor(ts: Seq[PartTransform],
        specFiles: Seq[FileAdd]): Option[Seq[FileAdd]] = {
    def transformAt(idx: Int): PartTransform = ts(idx)
    val accepted: Map[Int, Set[String]] = constraints.map { case (c, vals) =>
      val idx = levelOf.getOrElse(c, return None)
      val dt = tbl.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      transformAt(idx) match {
        case PartTransform.Identity =>
          if (!claimType(dt)) return None
          val renders = vals.map {
            case null =>
              // null rows live in the sentinel dir; on a string column
              // that dir also holds '' rows — not splittable sans scan
              if (dt == StringType) return None else LakeTable.NullPartition
            case v =>
              val r = scala.util.Try(Cast(Literal(v), StringType, tz).eval(null))
                .toOption.flatMap(Option(_)).map(_.toString).getOrElse(return None)
              if (r.isEmpty) return None // '' folds into the sentinel
              else r
          }
          idx -> renders.toSet
        case PartTransform.Days if dt == DateType =>
          // days over DATE is INJECTIVE overall: one date = one level,
          // so equality/IN is exactly a level-membership test
          val renders = vals.map {
            case null => LakeTable.NullPartition // date sentinel: nulls only
            case v =>
              renderThrough(PartTransform.Days, lit(v), dt).getOrElse(return None)
          }
          idx -> renders.toSet
        case _ =>
          // years/months/hours equality folds many source values into
          // one level; bucket/truncate re-parse ambiguously — refuse
          return None
      }
    }
    /** per level: aligned range bounds rendered to level space —
      * (op, rendered, expected width) */
    val rangeBounds: Map[Int, Seq[(String, String)]] = ranges.map { case (c, bs) =>
      val idx = levelOf.getOrElse(c, return None)
      val dt = tbl.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      val t = transformAt(idx)
      val width = temporalWidth(t).getOrElse(return None)
      if (!temporalLitType(dt) || !t.validFor(dt)) return None
      val rendered = bs.map { case (op, v) =>
        if (v == null) return None
        val r = renderThrough(t, lit(v), dt).getOrElse(return None)
        if (r.length != width) return None // out-of-width years etc.
        // alignment: `src >= B` equals `level >= T(B)` ONLY when B is
        // the first instant of its level (else rows below B share the
        // kept boundary level); `src > B` needs B to be the LAST
        // instant (else rows above B share the dropped boundary level)
        val neighbor = op match {
          case ">=" | "<" => shifted(v, dt, forward = false)
          case ">" | "<=" => shifted(v, dt, forward = true)
          case _ => return None
        }
        val nr = renderThrough(t, neighbor, dt).getOrElse(return None)
        if (nr == r) return None // bound is interior to its level
        (op, r)
      }
      idx -> rendered
    }
    val notNullIdx: Set[Int] = notNull.map { c =>
      val idx = levelOf.getOrElse(c, return None)
      val dt = tbl.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      transformAt(idx) match {
        case PartTransform.Identity =>
          // a value constraint on the same column whose accepted renders
          // exclude the sentinel already implies IS NOT NULL (every kept
          // row equals a non-null literal) — the string-sentinel hazard
          // only bites a BARE IS NOT NULL
          val implied = accepted.get(idx)
            .exists(set => !set.contains(LakeTable.NullPartition))
          if (!implied && (!claimType(dt) || dt == StringType)) return None
        case t if temporalWidth(t).isDefined =>
          // temporal source types are never strings: the sentinel level
          // holds ONLY nulls, so IS NOT NULL is exactly its exclusion
          ()
        case _ => return None // bucket/truncate
      }
      idx
    }
    val kept = specFiles.filter { f =>
      val levels = userLevels(f.partition)
      if (levels.size < config.partitionCols.size) return None // arity unknown
      accepted.forall { case (i, set) => set.contains(levels(i)) } &&
        notNullIdx.forall(i => levels(i) != LakeTable.NullPartition) &&
        rangeBounds.forall { case (i, bs) =>
          val lv = levels(i)
          if (lv == LakeTable.NullPartition) false // null satisfies no range
          else bs.forall { case (op, r) =>
            // widths were pinned at render time; a stored level of a
            // DIFFERENT width cannot be ordered against the bound and
            // breaks the whole claim, not just this file
            if (lv.length != r.length) return None
            op match {
              case ">=" => lv >= r
              case ">"  => lv > r
              case "<"  => lv < r
              case "<=" => lv <= r
            }
          }
        }
    }
    Some(kept)
    } // claimFor

    val files = snap.files
    if (files.exists(_.isDelta) && !groupLocalMergeSafe) return None
    if (!config.hasSpecHistory) claimFor(config.transforms, files)
    else {
      // spec evolution: each spec group present among the live files
      // proves the claim under its OWN transforms; one refusal refuses
      // the whole claim (partial exactness is not exactness)
      val per = files.groupBy(_.spec).toSeq.sortBy(_._1)
        .map { case (sid, fs) => claimFor(transformsOf(sid), fs) }
      if (per.exists(_.isEmpty)) None else Some(per.flatMap(_.get))
    }
  }

  /** Strict prover for a global MIN/MAX of a stats column, in the
    * integer-comparable stats domain (int family raw, DateType days,
    * timestamps normalized to micros by the footer lift): Some((min,
    * max)) ONLY when every live file at the pin is a base file with
    * recorded bounds for the column — absent stats also cover the
    * all-null-file case, where the file contributes nothing to MIN/MAX
    * but the log cannot tell that apart from "not recorded", so the
    * prover refuses. The caller restricts types: float stats are
    * NaN-hazardous and binary stats may be truncated, so neither is
    * ever answered from metadata.
    */
  def metadataMinMax(colName: String, asOf: Option[Long] = None)
      : Option[(Long, Long)] = {
    val snap = log.snapshot(asOf)
    metadataMinMaxOf(colName, snap.files, snap)
  }

  /** [[metadataMinMax]] over an explicit (exact-partition) file subset of
    * `snap`. */
  private[graft] def metadataMinMaxOf(colName: String, files: Seq[FileAdd],
      snap: Snapshot): Option[(Long, Long)] = {
    if (snap.dvs.nonEmpty) return None // a DV may hold the min/max row
    if (files.isEmpty ||
        !files.forall(f => !f.isDelta &&
          f.colMin.contains(colName) && f.colMax.contains(colName))) None
    else scala.util.Try((
      files.map(_.colMin(colName).toLong).min,
      files.map(_.colMax(colName).toLong).max)).toOption
  }

  /** Exact SUM of a [[LakeTableConfig.sumCols]] column answered from the
    * commit log's per-file sums — Some((total, nonNullCount)) ONLY when
    * every file in the subset is a base file with the column's sum and
    * non-null count recorded. SQL NULL semantics ride the count: SUM
    * over zero non-null rows is NULL, and the caller decides that from
    * the returned count. Decimal accumulation — the caller is
    * responsible for refusing totals outside its result type's range.
    */
  private[graft] def metadataSumOf(colName: String, files: Seq[FileAdd],
      snap: Snapshot): Option[(java.math.BigDecimal, Long)] = {
    if (!config.sumCols.contains(colName)) return None
    if (files.exists(_.isDelta)) return None
    if (snap.dvs.nonEmpty) return None // deleted positions are in the sums
    var total = java.math.BigDecimal.ZERO
    var nonNull = 0L
    files.foreach { f =>
      val nn = f.colNonNull.getOrElse(colName, return None)
      f.colSum.get(colName) match {
        case Some(s) =>
          total = total.add(new java.math.BigDecimal(s)); nonNull += nn
        case None =>
          // no recorded sum: sound only if the file provably holds no
          // non-null value of the column
          if (nn != 0L) return None
      }
    }
    Some((total, nonNull))
  }

  /** Strict per-partition metadata-aggregate prover: partition columns,
    * `n_rows`, and raw integer-domain bounds `_min_<c>`/`_max_<c>` for
    * each requested stats column — Some ONLY when every live file at
    * the pin is a base file with a recorded row count and recorded
    * bounds for every requested column ([[metadataMinMax]] explains why
    * absent stats must refuse). An empty snapshot yields the empty
    * frame: zero groups IS the metadata answer. */
  def metadataPartitionAggs(boundCols: Seq[String], asOf: Option[Long] = None)
      : Option[DataFrame] = {
    val snap = log.snapshot(asOf)
    metadataPartitionAggsOf(boundCols, Seq.empty, snap.files, snap)
  }

  /** [[metadataPartitionAggs]] over an explicit (exact-partition) file
    * subset — the grouped form of the filtered aggregate pushdown.
    * `sumColsReq` adds `_sum_<c>` columns from the per-file exact sums
    * ([[LakeTableConfig.sumCols]]); a group whose non-null count is zero
    * emits NULL (SQL SUM semantics), and any group total outside long
    * range refuses the whole answer (the scan's own overflow semantics
    * then apply). */
  private[graft] def metadataPartitionAggsOf(
      boundCols: Seq[String], sumColsReq: Seq[String],
      files: Seq[FileAdd], snap: Snapshot)
      : Option[DataFrame] = {
    import org.apache.spark.sql.Row
    if (config.partitionCols.isEmpty) return None
    // transformed levels cannot re-parse to source-column group values
    // (any spec in the history — old files keep their layout)
    if (config.anyHiddenSpec) return None
    // deletion vectors: bounds/sums may include deleted positions —
    // refuse outright; pure row counts subtract the per-partition DV
    // position totals exactly (each position admitted once)
    val dvs = snap.dvs
    if (dvs.nonEmpty && (boundCols.nonEmpty || sumColsReq.nonEmpty)) return None
    val dvByPart = dvs.groupBy(d => userLevels(d.partition))
      .map { case (t, ds) => t -> ds.map(_.rows).sum }
    val tbl = tableSchema(snap)
    val ok = files.forall(f => !f.isDelta && f.rows > 0L &&
      boundCols.forall(c => f.colMin.contains(c) && f.colMax.contains(c)) &&
      sumColsReq.forall(c => config.sumCols.contains(c) &&
        f.colNonNull.contains(c) &&
        (f.colNonNull(c) == 0L || f.colSum.contains(c))))
    // the hive-default directory holds BOTH null and '' values of a
    // STRING partition column (renderCol folds them) — the stored tuple
    // cannot tell them apart, while a real scan reads the true column
    // values from the files. Refuse rather than answer a grouped count
    // that merges two distinct groups.
    if (!ok || files.exists(f => ambiguousTuple(userLevels(f.partition), tbl)))
      None
    else scala.util.Try {
      metaAggDf(
        // group by the USER partition levels: a hash-bucketed table's
        // tuples carry the derived bucket as an extra trailing level,
        // which must fold into its user partition here
        files.groupBy(f => userLevels(f.partition))
          .toSeq.map { case (t, fs) =>
            Row.fromSeq(t ++
              ((fs.map(_.rows).sum - dvByPart.getOrElse(t, 0L)) +:
                boundCols.flatMap(c => Seq(
                  fs.map(_.colMin(c).toLong).min,
                  fs.map(_.colMax(c).toLong).max))) ++
              sumColsReq.map { c =>
                if (fs.map(f => f.colNonNull(c)).sum == 0L) null
                else fs.map(f => f.colSum.get(c)
                    .map(new java.math.BigDecimal(_))
                    .getOrElse(java.math.BigDecimal.ZERO))
                  .reduce(_ add _)
                  .longValueExact(): java.lang.Long // overflow → Try → None
              })
          },
        boundCols, sumColsReq, tbl)
    }.toOption
  }

  /** typed (partition cols..., n_rows[, _min_c, _max_c...]) frame from
    * rendered tuples — partition values re-parse through the same cast
    * that rendered them; counts and bounds stay raw longs */
  private def metaAggDf(
      rows: Seq[org.apache.spark.sql.Row], boundCols: Seq[String],
      sumColsReq: Seq[String], tbl: StructType): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parts = config.partitionCols
    val strSchema = StructType(
      parts.map(p => StructField(p + "_s", org.apache.spark.sql.types.StringType)) ++
        (StructField("n_rows", LongType) +:
          boundCols.flatMap(c => Seq(
            StructField("_min_" + c, LongType),
            StructField("_max_" + c, LongType)))) ++
        sumColsReq.map(c => StructField("_sum_" + c, LongType)))
    val typedCols = parts.map { p =>
      val dt = tbl.fields.find(_.name == p).map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
      when(col(p + "_s") === LakeTable.NullPartition, lit(null))
        .otherwise(col(p + "_s")).cast(dt).as(p)
    }
    spark
      .createDataFrame(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava, strSchema)
      .select(typedCols ++
        strSchema.fields.drop(parts.size).map(f => col(f.name)): _*)
  }

  /** Per-partition row counts under the same rules as [[countRows]]:
    * metadata sums for clean partitions, a merged scan for the rest.
    * Output columns: the table's partition columns (typed per the table
    * schema — metadata tuples are re-parsed through the same cast that
    * rendered them) followed by `n_rows`. Unpartitioned tables return a
    * single `n_rows` row.
    */
  def partitionRowCounts(asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parts = config.partitionCols
    val snap = log.snapshot(asOf)
    if (parts.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.singletonList(Row(countRowsOf(snap))),
        StructType(Seq(StructField("n_rows", LongType, nullable = false))))
    val files = snap.files
    val tbl = tableSchema(snap)
    val wholeTableMerge = files.exists(_.isDelta) && !groupLocalMergeSafe
    // dirtiness is decided per USER partition (not per bucket tuple): a
    // user partition with one dirty bucket scans whole, or its clean
    // buckets' metadata row would duplicate the scanned row in the union.
    // Ambiguous tuples (hive-default level of a string column: null and
    // '' fold together on disk) also scan — only the files know which.
    val (dirty, clean) =
      // hidden partitioning: the output groups by SOURCE column values,
      // which a transformed level cannot re-parse to — scan everything
      if (wholeTableMerge || config.anyHiddenSpec) (files, Seq.empty[FileAdd])
      else {
        val bad = files.groupBy(f => userLevels(f.partition)).collect {
          case (t, fs) if ambiguousTuple(t, tbl) ||
            fs.exists(f => f.isDelta || f.rows <= 0L) => t
        }.toSet
        files.partition(f => bad.contains(userLevels(f.partition)))
      }
    // group by the USER partition levels (hash-bucketed tables carry the
    // derived bucket as an extra trailing tuple level — fold it in)
    val cleanPaths = clean.map(_.path).toSet
    val dvByPart = snap.dvs
      .filter(d => cleanPaths.contains(d.target))
      .groupBy(d => userLevels(d.partition))
      .map { case (t, ds) => t -> ds.map(_.rows).sum }
    val metaDf = metaAggDf(
      clean.groupBy(f => userLevels(f.partition))
        .toSeq.map { case (t, fs) =>
          Row.fromSeq(t :+ (fs.map(_.rows).sum - dvByPart.getOrElse(t, 0L)))
        },
      Seq.empty, Seq.empty, tbl)
    if (dirty.isEmpty) metaDf
    else metaDf.unionByName(
      mergeIfNeeded(dirty, snap)
        .groupBy(parts.map(col): _*)
        .agg(count(lit(1)).as("n_rows")))
  }

  /** Retain only the last `retain` commits' history (cleaner, `:83`).
    * With [[LakeTableConfig.archiveOnClean]] the timeline prefix the
    * clean just made non-travelable is archived in the same call — the
    * Hudi lifecycle pairing. */
  /** returns the number of data files physically deleted */
  def clean(retain: Int): Int = {
    val deleted = log.clean(retain)
    if (config.archiveOnClean) { log.archive(); () }
    // exported manifests are point-in-time file lists; the clean may
    // have physically deleted files they reference — drop them all
    dropManifests()
    deleted
  }

  // ---- external-engine manifest export (Delta _symlink_format_manifest
  // role; the reference's S6 capability — a second engine reads the live
  // TABLE through shared metadata, not a copy of query output:
  // mq-tran/hudi-glue Redshift/spectrum_setup.sql:2-11 attaches the
  // catalog and scans the Hudi table from Redshift Spectrum)

  private def manifestsDir = new Path(config.root, "_manifests")

  private def dropManifests(): Unit = {
    val fs = LocalFs.of(manifestsDir, hconf)
    if (fs.exists(manifestsDir)) { fs.delete(manifestsDir, true); () }
  }

  /** Export the snapshot's live-file list for external engines.
    *
    * Two artifacts per export, both under `_manifests/`:
    *  - `manifest-<id>.txt` — one absolute file path per line, the
    *    portable symlink-manifest format (Delta's
    *    `_symlink_format_manifest`, Hive SymlinkTextInputFormat lineage)
    *    that object-store engines consume as a file list;
    *  - on local filesystems, `v<id>/` — a directory of symlinks to the
    *    same files, so glob-only readers (DuckDB read_parquet over a
    *    `v<id>` parquet glob) resolve the snapshot with no list-file
    *    support. Exporting the HEAD also refreshes the stable
    *    `latest.txt` / `latest/` aliases;
    *  - `deletes-<id>.parquet` (+ head alias `latest_deletes.parquet`)
    *    — the snapshot's live deletion-vector positions as plain
    *    (file_path, link_name, row_index) rows (empty when none), so a
    *    second engine anti-joins them away with its own row-number
    *    machinery ([[writeManifestDeletes]] shows the DuckDB form) —
    *    live DVs do NOT block the export.
    *
    * MoR snapshots export the read-optimized view (base files only —
    * an external engine cannot run our log-merge), the same contract as
    * the `.ro` SQL view; CoW exports are full-fidelity. Partition values
    * are materialized IN the data files (the `__gpN` shadow layout keeps
    * the real columns), so a flattened file list loses nothing.
    *
    * Manifests are facts about a travelable snapshot: [[clean]],
    * [[rollback]] and [[restoreTo]] delete the whole `_manifests/` tree
    * because the lists they leave behind may reference physically
    * deleted files. Returns the exported commit id.
    */
  def exportManifest(asOf: Option[Long] = None): Long = {
    val id = asOf.orElse(log.latestId).getOrElse(
      throw new IllegalArgumentException(
        "cannot export a manifest of an empty table"))
    // an exported list must never be born dangling: refuse snapshots
    // whose superseded files the cleaner already deleted (liveFiles
    // itself only guards the archive boundary — commit JSONs survive a
    // clean, so the resolution would "succeed" and list dead paths)
    require(id >= log.cleanedUpTo,
      s"commit $id's snapshot is below the clean horizon " +
        s"(${log.cleanedUpTo}) — its files were physically deleted")
    val files = log.liveFiles(Some(id)).filterNot(_.isDelta)
    val fs = LocalFs.of(manifestsDir, hconf)
    fs.mkdirs(manifestsDir)
    val qualified = files.map(f => fs.makeQualified(new Path(f.path)).toString)
    val isHead = log.latestId.contains(id)
    def writeList(name: String): Unit = {
      val dst = new Path(manifestsDir, name)
      val tmp = new Path(manifestsDir, s".tmp-$name-${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(qualified.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // same id ⇒ same content, so losing a rename race is benign;
      // the mutable `latest` alias is replace-then-rename
      if (fs.exists(dst) && !name.startsWith("manifest-")) fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); () }
    }
    def writeLinks(name: String): Unit = {
      val dirPath = new Path(manifestsDir, name)
      val stage = java.nio.file.Paths.get(
        new Path(manifestsDir, s".tmpv-$name-${System.nanoTime()}").toUri.getPath)
      java.nio.file.Files.createDirectories(stage)
      qualified.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.createSymbolicLink(
          stage.resolve(f"part-$i%05d.parquet"),
          java.nio.file.Paths.get(new Path(p).toUri.getPath))
      }
      val dst = java.nio.file.Paths.get(dirPath.toUri.getPath)
      if (fs.exists(dirPath)) fs.delete(dirPath, true)
      if (!stage.toFile.renameTo(dst.toFile))
        org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
    }
    writeList(f"manifest-$id%08d.txt")
    if (isHead) writeList("latest.txt")
    val local = Option(new Path(config.root).toUri.getScheme)
      .forall(_ == "file")
    if (local) {
      writeLinks(f"v$id%08d")
      if (isHead) writeLinks("latest")
    }
    writeManifestDeletes(id, files, qualified, isHead, fs)
    id
  }

  /** The manifest's position-delete companion: `deletes-<id>.parquet`
    * (+ the head alias `latest_deletes.parquet`) holding one
    * (file_path, link_name, row_index) row per live DV'd position of
    * the exported snapshot — ALWAYS written, empty when no DV is live,
    * so external readers have one uniform contract. A second engine
    * reproduces the snapshot exactly without understanding our DV
    * sidecar format: e.g. DuckDB reads the `_manifests/latest` glob
    * with `filename=true, file_row_number=true` and keeps the rows
    * with NO deletes match on
    * `(link_name = basename(filename), row_index = file_row_number)`
    * — the oracle query `lake_manifest_dv_read` is exactly that SQL.
    * (`file_path` serves list-based readers that consume
    * `manifest-<id>.txt`; `link_name` serves glob readers over the
    * `v<id>/` symlink dir, whose visible filename is the link's.)
    * Positions decode in executors — the sidecar flatMap, never a
    * driver loop. */
  private def writeManifestDeletes(id: Long, files: Seq[FileAdd],
      qualified: Seq[String], isHead: Boolean,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    import spark.implicits._
    val dvs = log.liveDvs(Some(id))
    val qualOf = files.map(f => DvCodec.normPath(f.path)).zip(qualified).toMap
    val linkOf = qualified.zipWithIndex.map { case (p, i) =>
      DvCodec.normPath(p) -> f"part-$i%05d.parquet" }.toMap
    val meta = dvs.map { dv =>
      val norm = DvCodec.normPath(dv.target)
      (dv.path, qualOf(norm), linkOf(norm))
    }
    val conf = new SerializableHadoopConf(hconf)
    val deletes = spark.createDataset(meta)
      .flatMap { case (p, fp, ln) =>
        DvCodec.read(conf.value, p).iterator.map(pos => (fp, ln, pos)) }
      .toDF("file_path", "link_name", "row_index")
    val tmpDir = new Path(manifestsDir, s".tmpd-$id-${System.nanoTime()}")
    deletes.coalesce(1).write.options(LocalFs.writeOptions(tmpDir, hconf))
      .mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"deletes export wrote no parquet part under $tmpDir"))
    def publish(name: String, src: Path): Unit = {
      val dst = new Path(manifestsDir, name)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst)) { fs.delete(src, false); () }
    }
    if (isHead) {
      val copy = new Path(tmpDir, "alias.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, copy, false, hconf)
      publish("latest_deletes.parquet", copy)
    }
    publish(f"deletes-$id%08d.parquet", part)
    fs.delete(tmpDir, true)
    ()
  }

  /** Archive the non-travelable timeline prefix into compacted segment
    * files (Hudi timeline archival, the companion of the reference's
    * `KEEP_LATEST_COMMITS` cleaner — `glue/HudiJarGlueJob.py:83`):
    * `_log/` listing cost stays O(travel horizon) on a table of any
    * age, history/change-tails still read the archived commits, and
    * snapshot travel below the boundary refuses loud. Returns the
    * number of commits archived (0 = nothing eligible — run [[clean]]
    * first, the horizon follows it). */
  def archiveTimeline(segmentSize: Int = 100): Int = log.archive(segmentSize)

  /** Partition-spec EVOLUTION (Iceberg's headline advantage over Hive
    * layouts): change the partition TRANSFORMS for FUTURE writes —
    * `months(ts)` → `days(ts)` as the table grows — without rewriting a
    * byte. Existing files keep the layout of the spec they were written
    * under (their [[FileAdd.spec]] id); every tuple comparison (pruning,
    * upsert/delete/overwrite scoping) dispatches per file, and
    * compaction/recluster rewrites naturally migrate rows to the new
    * spec. Partition COLUMNS are still immutable — only the transforms
    * over them evolve.
    *
    * Persists the descriptor and returns a FRESH LakeTable on the new
    * spec; the receiver keeps the old config and should be discarded
    * (a write through it is still CORRECT — its files carry the old
    * spec id and layout — just not evolved).
    */
  def evolvePartitionSpec(newTransforms: Seq[String]): LakeTable = {
    require(config.partitionCols.nonEmpty,
      "cannot evolve the partition spec of an unpartitioned table")
    require(newTransforms.size == config.partitionCols.size,
      s"new spec arity ${newTransforms.size} != partitionCols " +
        s"(${config.partitionCols.mkString(",")})")
    val parsedNew = newTransforms.map(PartTransform.parse)
    require(parsedNew != config.transforms,
      s"new spec (${newTransforms.mkString(",")}) equals the current one")
    val schema = if (exists) tableSchema() else
      Option(config.root).flatMap(_ =>
        TableDescriptor.load(config.root, hconf)
          .map(_.schemaJson).filter(_.nonEmpty)
          .map(j => DataType.fromJson(j).asInstanceOf[StructType]))
        .getOrElse(new StructType())
    config.partitionCols.zip(parsedNew).foreach { case (c, t) =>
      schema.fields.find(_.name == c).map(_.dataType).foreach(dt =>
        require(t.validFor(dt),
          s"transform '${t.spec}' is not valid for column $c: $dt"))
    }
    val desc = TableDescriptor.load(config.root, hconf)
      .getOrElse(TableDescriptor.fromConfig(config))
    val currentExplicit = // identity-filled so spec ids stay stable
      if (Option(desc.partitionTransforms).exists(_.nonEmpty))
        desc.partitionTransforms
      else config.partitionCols.map(_ => "identity")
    val next = desc.copy(
      partitionTransforms = newTransforms,
      priorPartitionSpecs =
        Option(desc.priorPartitionSpecs).getOrElse(Seq.empty) :+ currentExplicit)
    next.config(config.root) // validate (globalIndex requirement etc.)
    TableDescriptor.save(config.root, next, hconf)
    LakeTable(spark, next.config(config.root))
  }

  /** Time-based retention (Hudi KEEP_LATEST_BY_HOURS / Delta's
    * retention-period role): clean so that every commit stamped within
    * the last `olderThanMs` stays time-travelable (the latest always
    * does). The equivalent retain COUNT is computed from commit
    * timestamps and routed through [[clean]] — one cleaning engine, two
    * policies. Conservative under writer clock skew: retention keeps
    * everything from the FIRST in-window commit onward, so an
    * old-stamped straggler BETWEEN young commits is kept, never
    * cleaned early.
    */
  /** returns the number of data files physically deleted */
  def cleanOlderThan(olderThanMs: Long): Int =
    retainOf(olderThanMs).map(clean).getOrElse(0)

  /** the data files [[cleanOlderThan]] WOULD delete — the VACUUM DRY
    * RUN surface; pure metadata compute, nothing touched */
  def cleanOlderThanPlan(olderThanMs: Long): Seq[String] =
    retainOf(olderThanMs).map(r => log.cleanPlan(r)._2).getOrElse(Seq.empty)

  /** the retain COUNT equivalent to the time window (None = timeline
    * too short to clean anything) */
  private def retainOf(olderThanMs: Long): Option[Int] = {
    require(olderThanMs >= 0, s"need a non-negative window, got $olderThanMs")
    val cs = log.commits
    if (cs.size <= 1) return None
    val horizon = System.currentTimeMillis() - olderThanMs
    val firstYoung = cs.indexWhere(_.tsMillis >= horizon)
    Some(math.max(1, if (firstYoung < 0) 1 else cs.size - firstYoung))
  }

  /** Delete data directories no commit references (Delta VACUUM / Hudi
    * orphan-clean role): a crashed write leaves its directory on disk —
    * invisible to every reader, but paid for in storage — and [[clean]]
    * only deletes files the timeline explicitly superseded. Only
    * directories older than `olderThanMs` are touched, so an IN-FLIGHT
    * writer (files on disk, commit JSON not yet published) is never
    * swept; keep the threshold above the longest plausible write.
    * Returns the deleted directory paths.
    */
  /** ANALYZE: one distributed pass collecting per-column NDV / null
    * counts / ranges / lengths into `_log/_colstats.json`, served to
    * Spark's cost-based optimizer through the native scan
    * ([[ColStats]]). Returns the analyzed commit id. */
  def analyzeColumns(columns: Seq[String] = Seq.empty): Option[Long] =
    ColStats.analyze(this, columns)

  /** with `dryRun` the doomed directories are only LISTED (the VACUUM
    * DRY RUN surface) — nothing is deleted */
  def vacuumOrphans(olderThanMs: Long = 60L * 60 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val dataRoot = new Path(config.root, "data")
    val fs = LocalFs.of(dataRoot, hconf)
    if (!fs.exists(dataRoot)) return Seq.empty
    // every directory any commit's files live in, keyed by the segment
    // directly under data/ (one directory per commit attempt)
    // compare FULLY-QUALIFIED scheme-free URI paths on both sides:
    // FileAdd paths are qualified ("file:/abs/...") while config.root
    // may be plain OR RELATIVE — an unqualified prefix match would
    // reference NOTHING and sweep live directories
    val rootPath = fs.makeQualified(new Path(config.root)).toUri.getPath
    def commitDirOf(p: String): Option[String] = {
      val rel = fs.makeQualified(new Path(p)).toUri.getPath
        .stripPrefix(rootPath).dropWhile(_ == '/')
      val segs = rel.split('/')
      if (segs.length >= 2 && segs(0) == "data") Some(segs(1)) else None
    }
    val referenced = log.commitsAll.flatMap(_.adds)
      .flatMap(a => commitDirOf(a.path)).toSet ++
      // staged (undecided) transaction commits reference their dirs too:
      // vacuum must not destroy a transaction that may still commit
      log.stagedCommits.flatMap(_.adds).flatMap(a => commitDirOf(a.path)) ++
      // the catalog-sync stub and empty-table placeholder are not commit
      // dirs but live under data/ — never sweep them
      Seq("_empty")
    // belt and braces: a timeline with file adds that resolves ZERO
    // referenced directories means the path comparison is broken —
    // refuse to sweep rather than destroy live data
    require(log.commitsAll.forall(_.adds.isEmpty) ||
      referenced.exists(_ != "_empty"),
      "could not resolve any referenced data directory — refusing to vacuum")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val doomed = fs.listStatus(dataRoot).toSeq
      .filter(_.isDirectory)
      .filter(s => !referenced.contains(s.getPath.getName) &&
        !s.getPath.getName.startsWith("_") &&
        // object-store "directories" report mtime 0 — treat unknown age
        // as NOT old so an in-flight writer is never swept there either
        s.getModificationTime > 0 &&
        s.getModificationTime < cutoff)
    if (dryRun) return doomed.map(_.getPath.toString)
    // only report what was actually deleted (fs may signal failure via
    // the return value rather than an exception)
    doomed.filter(s => fs.delete(s.getPath, true)).map(_.getPath.toString)
  }

  /** Roll back the newest commit (Hudi rollback): the previous snapshot
    * becomes current again — superseded files spring back to live (only
    * the cleaner deletes them physically, and rollback refuses to cross
    * its horizon). The retracted commit id is retired, never reused, so
    * commit JSONs stay immutable per id for every reader. A registered
    * catalog table is fully re-synced (its schema may have narrowed
    * back); rolling back the only commit drops it.
    */
  def rollback(): Option[Long] = {
    require(log.stagedFloor.isEmpty,
      "an undecided transaction has staged commits on this table — " +
        "commit or abort it before rolling back")
    val r = log.rollbackLatest()
    r.foreach { _ => registeredSchema = ""; resync(); dropManifests() }
    r
  }

  /** Pin commit `id`'s snapshot against the cleaner (Hudi savepoint): it
    * stays exactly reproducible via [[readAsOf]] until released. */
  def savepoint(id: Long): Unit = log.savepoint(id)

  def releaseSavepoint(id: Long): Unit = log.releaseSavepoint(id)

  /** Named immutable ref to a commit (Iceberg tag): resolves by name in
    * time travel (SQL `VERSION AS OF 'v1.0'`, [[readTag]]) and pins the
    * commit against the cleaner like a savepoint. */
  def createTag(name: String, id: Long): Unit = log.createTag(name, id)

  def dropTag(name: String): Unit = log.dropTag(name)

  def tags: Map[String, Long] = log.tags

  /** snapshot at a tag — [[readAsOf]] through the name */
  def readTag(name: String): DataFrame = readAsOf(resolveTag(name))

  def resolveTag(name: String): Long = log.tags.getOrElse(name,
    throw new IllegalArgumentException(
      s"no tag '$name' on table ${config.root} " +
        s"(tags: ${log.tags.keys.toSeq.sorted.mkString(", ")})"))

  // ---- branches (Iceberg writable branch refs) -------------------------

  /** Branches live INSIDE the table root (`_refs/<name>`), deliberately:
    * [[CommitLog]]'s ownership guard treats any path under the root as
    * this table's own, so files a published (fast-forwarded) branch
    * contributed are retired by the SOURCE's clean when later commits
    * supersede them — the same lifecycle as natively-written files.
    * vacuumOrphans never enters `_refs` (it sweeps `data/` only). */
  private def branchRoot(name: String): String =
    s"${config.root}/_refs/$name"

  /** Create writable branch `name` at the current head (or `asOf`) — a
    * [[shallowClone]] whose location and lifecycle this table manages
    * (Iceberg branch ref / the WAP audit table with a managed home).
    * Zero-copy: the branch borrows this table's live files; its own
    * writes land under its root. Same name rules as tags. Fails if the
    * branch already exists (refs move by drop + re-create, like tags).
    * Cleaning contract, inherited from [[shallowClone]]: cleaning this
    * table can drop borrowed files an UNPUBLISHED branch still
    * references — savepoint the branched commit to pin them.
    */
  def createBranch(name: String, asOf: Option[Long] = None): LakeTable = {
    require(exists, s"table ${config.root} does not exist")
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}") &&
        !name.matches("\\d+"),
      s"illegal branch name '$name' (alphanumeric/._- and not a bare number)")
    shallowClone(branchRoot(name), asOf)
  }

  /** The branch's table handle — full read/write surface (upsert,
    * delete, merge, time travel) on an isolated timeline. */
  def branch(name: String): LakeTable = {
    val t = new LakeTable(spark, config.copy(root = branchRoot(name)))
    require(t.exists,
      s"no branch '$name' on ${config.root} " +
        s"(branches: ${branches.keys.toSeq.sorted.mkString(", ")})")
    t
  }

  /** branch name → its head commit id */
  def branches: Map[String, Long] = {
    val dir = new Path(config.root, "_refs")
    val fs = LocalFs.of(dir, hconf)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
      new LakeTable(spark, config.copy(root = st.getPath.toString))
        .log.latestId.map(st.getPath.getName -> _)
    }.toMap
  }

  /** Fast-forward this table to branch `name`'s net effect as ONE atomic
    * commit ([[publishFrom]] — zero-copy, OCC against a source that
    * advanced since the branch was created). After a fast-forward the
    * branch is SPENT: further writes on it cannot fast-forward again
    * (the source advanced), and a published branch's own clean could
    * retire files the source now borrows — drop it and re-branch.
    */
  def fastForward(name: String): Long = publishFrom(branch(name))

  /** Drop branch `name`. Refused while the source still references any
    * file under the branch root — live at the head, pinned by a
    * savepoint/tag, or reachable by time travel above the clean
    * horizon — because deleting the branch directory would destroy
    * published data; `clean(retain)` past the publishing commits first.
    */
  def dropBranch(name: String): Unit = {
    val dir = new Path(branchRoot(name))
    val fs = LocalFs.of(dir, hconf)
    if (!fs.exists(dir)) return
    // compare FULLY-QUALIFIED scheme-free paths: FileAdd paths are
    // qualified ("file:/abs/...") while config.root may be plain or
    // relative (the vacuumOrphans rule — an unqualified prefix match
    // would reference NOTHING and let a published branch drop)
    def qp(p: String): String = fs.makeQualified(new Path(p)).toUri.getPath
    val prefix = qp(branchRoot(name)) + "/"
    val published = log.commitsAll.flatMap(_.adds.map(_.path))
      .filter(p => qp(p).startsWith(prefix)).toSet
    if (published.nonEmpty) {
      // mirror clean's own delete-eligibility: a published file is
      // unreachable only once some commit at or below the horizon
      // superseded it AND no pin resurrects it
      val retired = log.commitsAll.filter(_.id <= log.cleanedUpTo)
        .flatMap(_.removes).filter(p => qp(p).startsWith(prefix)).toSet
      val pinnedLive = log.pins.toSeq
        .flatMap(s => log.snapshot(Some(s)).all.map(_.path))
        .filter(p => qp(p).startsWith(prefix)).toSet
      val blocking = (published -- retired) ++ pinnedLive
      require(blocking.isEmpty,
        s"cannot drop branch '$name': ${blocking.size} of its files were " +
          s"published into ${config.root} and are still reachable (live, " +
          "pinned, or time-travelable) — clean(retain) past the publishing " +
          "commits first")
    }
    fs.delete(dir, true)
    ()
  }

  /** Restore the table to commit `id` (Hudi restore): retract every later
    * commit, newest first, with the same retired-id discipline as a
    * single rollback — ids are never reused and each step physically
    * drops the retracted commit's files. The target must still be
    * travelable (above the clean horizon or savepointed — but note
    * restore also needs every INTERMEDIATE commit above the horizon,
    * which holds whenever the target itself is). A synced catalog table
    * is re-registered once at the end.
    */
  def restoreTo(id: Long): Unit = {
    require(log.stagedFloor.isEmpty,
      "an undecided transaction has staged commits on this table — " +
        "commit or abort it before restoring")
    require(log.commits.exists(_.id == id), s"no commit $id on the timeline")
    // pre-validate EVERY step before deleting anything: a failure mid-loop
    // would strand the table between the original head and the target,
    // with the already-rolled commits' files physically gone
    val doomed = log.commits.map(_.id).filter(_ > id)
    require(doomed.forall(_ > log.cleanedUpTo),
      s"restore to $id would cross the clean horizon (${log.cleanedUpTo})")
    val pinned = doomed.toSet & log.pins.toSet
    require(pinned.isEmpty,
      s"commits ${pinned.toSeq.sorted.mkString(",")} are pinned " +
        "(savepoint or tag) — release them before restoring past them")
    while (log.latestId.exists(_ > id)) {
      val rolled = log.rollbackLatest()
      require(rolled.isDefined, s"restore to $id stalled")
    }
    registeredSchema = ""
    resync()
    dropManifests()
  }

  /** Catalog sync (reference W7, `glue/HudiJarGlueJob.py:80-81` hive_sync
    * database/table + partition_fields/MultiPartKeysValueExtractor):
    * register the snapshot as a REAL session-catalog table — an external
    * parquet table whose partitions are registered with per-partition
    * LOCATIONs pointing at the live commit directories — so any SQL
    * consumer resolves `db.tbl` with partition pruning, independent of
    * this object or any temp-view state. (Session catalog here ≙ the
    * reference's Glue metastore.)
    *
    * No data is copied: a CoW commit rewrites each touched partition
    * wholly into its own commit directory, so every partition's live
    * files sit under exactly one directory — that directory IS the
    * registered partition location. For MoR tables this syncs the
    * read-optimized view (base files only — Hudi's `_ro` table, the
    * form hive_sync exposes to plain-parquet engines): base files are
    * only written by the initial load or a full compaction, so the
    * single-directory property holds there too.
    *
    * After the first sync, every subsequent commit re-syncs
    * automatically (Hudi's post-write sync loop) with O(touched
    * partitions) DDL: only partitions whose registered location changed
    * are re-ADDed/DROPped; the table is dropped and recreated only when
    * the schema itself changed.
    *
    * Caveat (shared with Hive/Glue sync): a null OR empty-string
    * partition value registers as `__HIVE_DEFAULT_PARTITION__` and reads
    * back as NULL through the catalog table — the standard Hive default-
    * partition semantics; `read()` (which takes the value from the data
    * files) still distinguishes the two.
    */
  def syncToCatalog(table: String, database: String = "default"): Unit = {
    synced = Some((database, table))
    registeredSchema = "" // force full (re)registration
    resync()
  }

  @volatile private var synced: Option[(String, String)] = None
  // what the catalog currently shows for the synced table: schema JSON +
  // (partition tuple -> registered location; key "" when unpartitioned).
  // Lets resync issue O(touched-partitions) DDL per commit.
  private var registeredSchema: String = ""
  private var registered: Map[String, String] = Map.empty
  private var tableCreated: Boolean = false

  private def sqlEsc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** backtick-quoted identifier (backticks doubled) */
  private def qid(s: String): String = "`" + s.replace("`", "``") + "`"

  private def partSpecSql(tuple: String): String = {
    val values = tuple.split(PartSep(0))
    require(values.length == effParts.length,
      s"partition tuple '$tuple' does not match ${effParts.mkString(",")}")
    effParts.zip(values)
      .map { case (p, v) => s"${qid(p)}='${sqlEsc(v)}'" }.mkString(", ")
  }

  private def resync(): Unit = synced.foreach { case (db, tbl) =>
    if (log.commits.isEmpty) {
      // nothing to expose: either registered-before-first-commit (the
      // first commit will sync) or the only commit was rolled back (drop
      // the now-dangling table rather than leave stale registrations)
      if (tableCreated) {
        spark.sql(s"DROP TABLE IF EXISTS ${qid(db)}.${qid(tbl)}")
        tableCreated = false
        registeredSchema = ""
        registered = Map.empty
      }
      return
    }
    val fq = s"${qid(db)}.${qid(tbl)}"
    // base files only: the plain-parquet-readable view (≡ snapshot on CoW)
    val files = log.liveFiles().filter(!_.isDelta)
    val schema = baseSchema
    // desired registration: partition tuple -> single live directory
    val desired: Map[String, String] =
      if (effParts.isEmpty) {
        // same single-directory invariant the partitioned branch enforces:
        // serving only files.head's dir would silently drop rows if live
        // base files ever spanned several commit dirs
        val dirs = files.map(f => new Path(f.path).getParent.toString).distinct
        require(dirs.size <= 1,
          s"live base files span ${dirs.size} directories — " +
            "single-directory invariant broken")
        Map("" -> dirs.headOption.getOrElse {
          val d = new Path(config.root, "data/_empty")
          LocalFs.of(d, hconf).mkdirs(d); d.toString
        })
      }
      else files.groupBy(_.partition).map { case (tuple, fAdds) =>
        val dirs = fAdds.map(f => new Path(f.path).getParent.toString).distinct
        require(dirs.size == 1,
          s"live files of partition $tuple span ${dirs.size} directories — " +
            "single-directory invariant broken")
        tuple -> dirs.head
      }
    def colDdl(f: org.apache.spark.sql.types.StructField) =
      s"${qid(f.name)} ${f.dataType.sql}"
    if (registeredSchema != schema.json) {
      // full registration: first sync, or the schema evolved
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${qid(db)}")
      spark.sql(s"DROP TABLE IF EXISTS $fq")
      if (effParts.isEmpty)
        spark.sql(s"CREATE TABLE $fq (${schema.fields.map(colDdl).mkString(", ")}) " +
          s"USING parquet LOCATION '${sqlEsc(desired(""))}'")
      else {
        // table root is a dedicated empty dir; real data is attached
        // per-partition (partition locations outside the table root are
        // legal, and this keeps CREATE from scanning commit dirs)
        val stub = new Path(config.root,
          s"_catalog/${tbl.replaceAll("[^A-Za-z0-9._-]", "_")}")
        LocalFs.of(stub, hconf).mkdirs(stub)
        val partSet = effParts.toSet
        val dataCols = schema.fields.filterNot(f => partSet.contains(f.name))
        val partCols = effParts.map(p =>
          schema.fields.find(_.name == p)
            .getOrElse(org.apache.spark.sql.types.StructField(p,
              org.apache.spark.sql.types.StringType)))
        spark.sql(s"CREATE TABLE $fq (${(dataCols ++ partCols).map(colDdl).mkString(", ")}) " +
          s"USING parquet PARTITIONED BY (${effParts.map(qid).mkString(", ")}) " +
          s"LOCATION '${sqlEsc(stub.toString)}'")
        addPartitions(fq, desired)
      }
      registeredSchema = schema.json
      tableCreated = true
    } else if (effParts.isEmpty) {
      // unpartitioned incremental: the rewrite moved the live directory
      if (registered.get("") != desired.get(""))
        spark.sql(s"ALTER TABLE $fq SET LOCATION '${sqlEsc(desired(""))}'")
    } else {
      // incremental: DDL only for partitions whose location changed in
      // this commit — at scale a small commit syncs a few partitions,
      // never the table
      val gone = registered.keySet -- desired.keySet
      val changed = desired.filter { case (t, loc) => !registered.get(t).contains(loc) }
      dropPartitions(fq, gone ++ (changed.keySet & registered.keySet))
      addPartitions(fq, changed)
    }
    registered = desired
  }

  private def addPartitions(fq: String, m: Map[String, String]): Unit =
    if (m.nonEmpty)
      spark.sql(s"ALTER TABLE $fq ADD " + m.toSeq.sortBy(_._1)
        .map { case (t, loc) =>
          s"PARTITION (${partSpecSql(t)}) LOCATION '${sqlEsc(loc)}'"
        }.mkString(" "))

  private def dropPartitions(fq: String, ts: Iterable[String]): Unit =
    if (ts.nonEmpty)
      spark.sql(s"ALTER TABLE $fq DROP IF EXISTS " + ts.toSeq.sorted
        .map(t => s"PARTITION (${partSpecSql(t)})").mkString(", "))

  /** schema of the base (plain-parquet-readable) files: the last commit
    * that wrote base files; falls back to the latest schema on an
    * all-delta timeline (cannot happen — the first commit is a base one).
    */
  private def baseSchema: StructType =
    log.commits.reverse
      .find(c => !DeltaOps.contains(c.op))
      // an all-delta LIVE tail can follow archival (the last base commit
      // fell below the boundary) — the archived prefix still has it
      .orElse(log.commitsAll.reverse.find(c => !DeltaOps.contains(c.op)))
      .map(_.schemaJson).orElse(log.schemaJsonAsOf(None))
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(new StructType())

  /** True when every MoR dedup group is confined to a single partition
    * tuple, so base+delta merging can run file-group-local. Non-global
    * tables always qualify: the dedup identity carries every user
    * partition column, and the bucket level is a pure function of the
    * key. A global-index table qualifies only when the derived bucket is
    * the sole partition level — with user partition columns a key's rows
    * may span tuples (the winning row decides the partition), and only a
    * table-wide merge can resolve them.
    */
  private def groupLocalMergeSafe: Boolean =
    effParts.nonEmpty && (!config.globalIndex || config.partitionCols.isEmpty)

  /** Snapshot assembly with the merge scoped to the file groups that
    * actually have deltas (Hudi merges per file slice, never globally —
    * the read-side counterpart of the declared MoR config,
    * glue/HudiJarGlueJob.py:77). Partitions without deltas stream
    * straight from their base files with NO exchange; only the
    * delta-touched partitions enter the key-shuffle merge, so the
    * shuffle is bounded by recent write activity, not table size — at
    * 100 TB an uncompacted snapshot read shuffles the hot partitions
    * only. Falls back to a table-wide merge when dedup groups can span
    * partitions (see [[groupLocalMergeSafe]]).
    */
  private def mergeIfNeeded(files: Seq[FileAdd], snap: Snapshot,
      tagFileName: Boolean = false, keys: Option[DataFrame] = None): DataFrame = {
    // the key restriction runs on the raw rows, BEFORE the merge: exact,
    // because the merge partitions by exactly these columns
    def scan(fs: Seq[FileAdd]): DataFrame = {
      val raw = readFiles(fs, snap, tagFileName)
      keys.fold(raw)(k => joinDedup(raw, k, "left_semi"))
    }
    if (!files.exists(_.isDelta)) scan(files)
    else if (!groupLocalMergeSafe) morMerge(scan(files))
    else {
      val touched = files.filter(_.isDelta).map(_.partition).toSet
      val (dirty, clean) = files.partition(f => touched.contains(f.partition))
      val merged = morMerge(scan(dirty))
      if (clean.isEmpty) merged
      else
        // allowMissingColumns: delta commits may have widened the schema,
        // so the merged side can carry columns the clean base files lack
        merged.unionByName(scan(clean), allowMissingColumns = true)
    }
  }

  /** `df` semi- or anti-joined to `keys` on the dedup columns,
    * null-safe (a null partition value is one partition, not none) */
  private def joinDedup(df: DataFrame, keys: DataFrame, how: String): DataFrame = {
    val kc = dedupCols.indices.map(i => s"__ck_$i")
    val k = keys.select(dedupCols.zip(kc).map { case (c, n) =>
      col("`" + c + "`").as(n) }: _*)
    df.join(k, dedupCols.zip(kc).map { case (c, n) =>
      col("`" + c + "`") <=> col(n) }.reduce(_ && _), how)
  }

  /** MoR read-time merge over base ∪ delta rows. Per dedup key:
    *  1. rows at or before the latest tombstone commit are gone (delete
    *     wins over any earlier write regardless of precombine — the CoW
    *     anti-join semantics, expressed on the timeline);
    *  2. among survivors, precombine-latest wins (ties: commit, then
    *     intra-batch _seq).
    * One shuffle: both windows share the dedup-key partitioning.
    */
  private def morMerge(df: DataFrame): DataFrame = {
    val keyW = Window.partitionBy(dedupCols.map(col): _*)
    val deleted = coalesce(col("_deleted"), lit(false)) // base files lack the column
    val withDel = df.withColumn("_del_cid",
      max(when(deleted, col("_commit_id"))).over(keyW))
    val w = keyW.orderBy(col(config.precombineCol).desc, col("_commit_id").desc,
      col("_seq").desc_nulls_last)
    withDel
      .filter(!deleted && col("_commit_id") > coalesce(col("_del_cid"), lit(-1L)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_seq", "_deleted", "_del_cid")
  }

  /** MoR delete: append per-key tombstone rows as a delta commit; the
    * actual row removal happens in morMerge / compact. The tombstone needs
    * the partition value so it lands in (and prunes to) the right
    * directory — attached from the key+partition index when absent.
    */
  private def morDelete(keys: DataFrame, snap: Snapshot): Long = {
    val id = snap.nextId
    val present = config.partitionCols.filter(keys.columns.contains)
    val keyed = keys.select((config.keyCols ++ present).distinct.map(col): _*).distinct()
    val placed =
      if (present.size == config.partitionCols.size) withDerived(keyed)
      else
        // column-pruned index scan (footer-range-pruned first):
        // key -> current partition tuple(s)
        withDerived(
          readOrEmpty(pruneByKeyRange(keyed, snap.files), snap)
            .select((config.keyCols ++ config.partitionCols).distinct.map(col): _*)
            .distinct()
            .join(keyed, config.keyCols, "left_semi"))
    val precombineType = tableSchema(snap).fields
      .find(_.name == config.precombineCol).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)
    val tombstones = withMeta(placed, id)
      .withColumn(config.precombineCol, lit(null).cast(precombineType))
      .withColumn("_seq", monotonically_increasing_id())
      .withColumn("_deleted", lit(true))
    val cid = writeCommit(tombstones, "delete_delta", snap, id, Seq.empty,
      kind = "delta",
      // scoped when placement needed no table-wide index probe
      partitionScoped = present.size == config.partitionCols.size)
    maybeInlineCompact()
    cid
  }

  /** Compaction (the reference's declared inline-compaction knobs,
    * `glue/HudiJarGlueJob.py:77`): materialize the merged snapshot and
    * rewrite it as base files, superseding every live base+delta file.
    * Reads after compaction are plain scans again.
    */
  def compact(): Long = {
    require(config.isMor, "compact() applies to merge-on-read tables")
    val snap = log.snapshot()
    val live = snap.files
    if (!live.exists(_.isDelta)) return snap.id.getOrElse(-1L)
    // Hudi compaction scope: only file groups that accumulated deltas are
    // rewritten; partitions that saw no writes since the last compaction
    // keep their base files live (at 100 TB compaction cost follows write
    // activity, not table size)
    val dirty =
      if (groupLocalMergeSafe) {
        val touched = live.filter(_.isDelta).map(_.partition).toSet
        live.filter(f => touched.contains(f.partition))
      } else live
    val merged = morMerge(readFiles(dirty, snap))
    writeCommit(merged, "compact", snap, snap.nextId, dirty.map(_.path),
      // reads exactly the dirty partitions; rows keep their provenance
      // stamps, so a rebase moves nothing
      partitionScoped = groupLocalMergeSafe, stampsId = false)
  }

  /** Fold deletion vectors back into plain base files — but ONLY where
    * they have grown heavy: every live target whose DV'd-position
    * fraction is at least `minRatio` is rewritten through its DVs (the
    * read applies them, so the new file simply lacks the deleted rows)
    * and the commit supersedes the target + its sidecars (the central
    * DV rule). Lightly-DV'd files keep their cheap sidecars — the whole
    * point of DVs is NOT rewriting a 1 GB file over 3 dead rows; this
    * is the bounded convergence path for files where the read-time
    * anti-join stopped being cheaper than a rewrite. Physical
    * reorganization only: rows keep their provenance stamps, change
    * tails skip the commit (PhysicalOps), the snapshot is unchanged.
    */
  def foldDvs(minRatio: Double = 0.1): Long = {
    require(!config.isMor, "foldDvs() applies to CoW tables (MoR folds DVs via compact)")
    require(minRatio > 0 && minRatio <= 1, s"minRatio in (0,1], got $minRatio")
    val snap = log.snapshot()
    val basedOn = snap.id.getOrElse(log.EmptyTable)
    val dvs = snap.dvs
    if (dvs.isEmpty) return basedOn
    val dvByTarget = dvs.groupBy(_.target)
      .map { case (t, ds) => t -> ds.map(_.rows).sum }
    val victims = snap.files.filter(f =>
      f.rows > 0L && dvByTarget.getOrElse(f.path, 0L).toDouble / f.rows >= minRatio)
    if (victims.isEmpty) return basedOn
    // readFiles applies the victims' DVs; rows keep their stamps
    writeCommit(readFiles(victims, snap), "dv_fold", snap, snap.nextId,
      victims.map(_.path), partitionScoped = true, stampsId = false)
  }

  /** Rewrite live data into the configured cluster order (Hudi
    * clustering's replacecommit; Delta `OPTIMIZE ZORDER BY`). New base
    * writes already cluster on the way in — what accumulates UNclustered
    * is MoR delta activity (deltas skip the clustering shuffle by
    * design) and data written before `clusterCols` were configured. The
    * rewrite re-sorts those so per-file `statsCols` ranges turn disjoint
    * and stats skipping prunes again. The SNAPSHOT is unchanged: rows
    * keep their provenance stamps (`stampsId = false`), only physical
    * layout moves; on MoR the rewrite folds a partition's deltas into
    * clustered base files (a compaction and a clustering in one pass).
    *
    * `pruneBy` confines the rewrite to the file groups a partition/stats
    * predicate selects — at 100 TB clustering runs incrementally over
    * hot partitions, never as one table-wide rewrite.
    */
  def recluster(pruneBy: Option[org.apache.spark.sql.Column] = None,
      /** bound each commit to at most N partitions' worth of rewrites
        * when the rewrite is partition-scoped (0 = one commit; MoR
        * tables whose dedup groups span partitions always rewrite as
        * one unit — batching would split a merge group). Same partial-
        * progress contract as [[compactSmall]]. */
      maxPartitionsPerCommit: Int = 0): Long = {
    require(config.clusterCols.nonEmpty,
      "recluster() needs clusterCols configured")
    val snap = log.snapshot()
    val basedOn = snap.id.getOrElse(log.EmptyTable)
    // the files of `s` the rewrite covers, within `parts` when given
    def scopeOf(s: Snapshot, parts: Option[Set[String]]): Seq[FileAdd] = {
      val live = parts.fold(s.files)(ps => s.files.filter(f => ps.contains(f.partition)))
      val selected = pruneBy.flatMap(resolvePredicate(_, s))
        .fold(live)(c => pruneByColStats(live, c, s))
      // MoR dedup groups must never straddle the rewrite boundary:
      // expand the scope to whole partitions, and to the whole table
      // when groups can span partitions (same discipline as compact)
      if (!config.isMor) selected
      else if (groupLocalMergeSafe) {
        val ps = selected.map(_.partition).toSet
        live.filter(f => ps.contains(f.partition))
      } else live
    }
    if (snap.files.isEmpty) return basedOn
    val scoped = scopeOf(snap, None)
    if (scoped.isEmpty) return basedOn
    // no-op guard (compact's !deltas return, adapted): when the scope
    // has no deltas and every selected file already came out of a
    // recluster commit, a repeat maintenance call must not rewrite the
    // table again — resolve each path's producing op by walking the
    // timeline backwards with early exit
    if (!scoped.exists(_.isDelta)) {
      val need = scala.collection.mutable.Set(scoped.map(_.path): _*)
      var allReclustered = true
      var cursor = basedOn
      while (need.nonEmpty && cursor >= 0L) {
        log.commitIfExists(cursor).foreach(c => c.adds.foreach { a =>
          if (need.remove(a.path) && c.op != "recluster")
            allReclustered = false
        })
        cursor -= 1
      }
      if (allReclustered) return basedOn
    }
    val partScoped = !config.isMor || groupLocalMergeSafe
    val batched = maxPartitionsPerCommit > 0 && partScoped
    inBatches(snap, scoped.map(_.partition),
        if (batched) maxPartitionsPerCommit else 0) { (b, parts) =>
      val vs = if (parts.isEmpty) scoped else scopeOf(b, Some(parts))
      if (vs.isEmpty) None
      else {
        val mat =
          if (vs.exists(_.isDelta)) morMerge(readFiles(vs, b))
          else readFiles(vs, b)
        Some(writeCommit(mat, "recluster", b, b.nextId, vs.map(_.path),
          partitionScoped = partScoped, stampsId = false))
      }
    }.getOrElse(basedOn)
  }

  /** Run a maintenance rewrite over the partitions `plan` named, at most
    * `perCommit` of them per commit (0 = all in one). The first batch
    * rewrites from `planned`, the snapshot the plan came from (`parts`
    * empty: the whole plan); every later batch resolves its OWN snapshot
    * and re-selects its files from it, so each commit is based on the
    * version it read even when writers land between batches — one small
    * OCC window per batch, partial progress survives a crash or a lost
    * race mid-backlog. Returns the last commit id, None if none. */
  private def inBatches(planned: Snapshot, plan: Seq[String], perCommit: Int)
      (rewrite: (Snapshot, Set[String]) => Option[Long]): Option[Long] =
    if (perCommit <= 0) rewrite(planned, Set.empty)
    else plan.distinct.sorted.grouped(perCommit).zipWithIndex
      .foldLeft(Option.empty[Long]) { case (last, (parts, i)) =>
        val b = if (i == 0) planned else log.snapshot()
        rewrite(b, parts.toSet).orElse(last)
      }

  /** Bin small files (the Delta OPTIMIZE bin-packing / Hudi small-file
    * role): frequent small writes accumulate files whose open/footer
    * overhead eventually dominates reads.
    *
    *   - MoR: DELTA files under `maxBytes` rewrite, per partition, into
    *     as few delta files as their volume needs — streaming upserts
    *     append one tiny delta per micro-batch by design. Rows are
    *     preserved verbatim (`_commit_id`, `_seq`, `_deleted` travel as
    *     columns), so merge semantics are untouched; unlike [[compact]]
    *     nothing folds into base files, keeping cost proportional to
    *     the small files, not the table.
    *   - CoW: small BASE files rewrite per partition the same way —
    *     the shape every frequently-fed CoW table grows (one file per
    *     small commit). Rows keep their provenance stamps, and a
    *     rewritten file's live deletion vectors retire in the same
    *     commit (writeCommit's central rule), so the snapshot is
    *     byte-identical logically.
    *
    * Partitions with a single small file are left alone.
    */
  def compactSmall(maxBytes: Long = 64L * 1024 * 1024,
      /** bound each commit to at most N partitions' worth of rewrites
        * (0 = the whole backlog in one commit). On a 100 TB table with
        * a deep small-file backlog this is what keeps OPTIMIZE honest:
        * every batch is its own SMALL OCC window committed before the
        * next begins, so a crash or lost race forfeits one batch, not
        * the night's work — the re-run recomputes the remaining victims
        * (already-binned partitions no longer qualify) and drains the
        * rest. Delta batches OPTIMIZE commits the same way. */
      maxPartitionsPerCommit: Int = 0,
      /** observation seam (specs): runs after each batch commit —
        * injecting a failure here IS the crash window between batches */
      onBatchCommitted: Long => Unit = _ => ()): Long = {
    val snap = log.snapshot()
    def sizeOf(f: FileAdd): Long = LogFileIndex.statusesOf(Seq(f), hconf).head.getLen
    // the small files of `s` to bin, in partitions holding more than one.
    // MoR bins its change-log deltas (base files belong to compact());
    // CoW has only base files to bin
    def smallOf(s: Snapshot): Seq[FileAdd] = s.files
      .filter(f => (if (config.isMor) f.isDelta else !f.isDelta && !f.isDv) &&
        sizeOf(f) < maxBytes)
      .groupBy(_.partition).filter(_._2.size > 1).toSeq.sortBy(_._1).flatMap(_._2)
    val planned = smallOf(snap)
    if (planned.isEmpty) return snap.id.getOrElse(-1L)
    inBatches(snap, planned.map(_.partition), maxPartitionsPerCommit) { (b, parts) =>
      val victims =
        if (parts.isEmpty) planned else smallOf(b).filter(f => parts.contains(f.partition))
      if (victims.isEmpty) None
      else {
        // coalesce to the file count the VOLUME warrants — the scan would
        // otherwise keep ≥ default-parallelism splits and re-emit many
        // small files; coalesce merges read partitions without a shuffle
        val nOut = math.max(1L,
          (victims.map(sizeOf).sum + maxBytes - 1) / maxBytes).toInt
        val id = writeCommit(readFiles(victims, b).coalesce(nOut), "delta_compact",
          b, b.nextId, victims.map(_.path),
          kind = if (config.isMor) "delta" else "base",
          // verbatim per-partition rewrite of its victims only
          partitionScoped = true, stampsId = false)
        onBatchCommitted(id)
        Some(id)
      }
    }.getOrElse(snap.id.getOrElse(-1L))
  }

  /** Inline compaction trigger (reference's max.delta.commits semantics):
    * compact when `compactEvery` delta commits have accumulated since the
    * last non-delta commit.
    */
  private def maybeInlineCompact(): Unit =
    // never auto-compact from INSIDE a transaction: it would stage a
    // second commit for the same table (one write per table per txn),
    // and compaction of the visible state is better done after decide
    if (config.compactEvery > 0 && log.staging.isEmpty) {
      val sinceBase = log.commits.reverse
        .takeWhile(c => DeltaOps.contains(c.op)).size
      if (sinceBase >= config.compactEvery) compact()
    }

  /** partition-scoped index: key unique per (partition tuple, key);
    * global index: key unique table-wide (SURVEY.md §1.1 record key).
    * The derived bucket is a pure function of the key, so it never joins
    * the dedup identity.
    */
  private[graft] def dedupCols: Seq[String] =
    (if (config.globalIndex) Seq.empty else config.partitionCols) ++ config.keyCols

  // schema JSONs repeat across commits and reads — memoize the parse
  // (commit JSONs are immutable, so the cache is sound forever).
  // private[graft]: the streaming tail source resolves per-micro-batch
  // commit schemas through the same cache instead of re-parsing JSON
  // every trigger.
  private val schemaParseCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]
  private[graft] def parseSchema(j: String): StructType =
    schemaParseCache.getOrElseUpdate(j, DataType.fromJson(j).asInstanceOf[StructType])

  /** the TABLE schema of a snapshot (its latest commit's recorded
    * schemaJson — since schema evolution, every commit records the full
    * evolved table schema, not just its batch's) */
  private[graft] def tableSchema(snap: Snapshot): StructType =
    snap.schemaJson.map(parseSchema).getOrElse(new StructType())

  /** the table schema at the head (writers and schema changes) */
  private[graft] def tableSchema(): StructType = tableSchema(log.snapshot())

  /** Schema-evolution-aware scan: live files group by the schema their
    * commit recorded, each group reads with ITS schema (so physical
    * names/types resolve — files a column predates null-backfill, the
    * standard explicit-schema parquet semantics), and groups that differ
    * from the read's table schema adapt by COLUMN ID (rename = alias,
    * widen = cast, drop = not selected) before a by-name union.
    *
    * The common case (no live evolution) is exactly one group equal to
    * the table schema: a single plain scan with an explicit schema — no
    * mergeSchema footer job at all, which the old path paid whenever the
    * timeline EVER held two schemas. Each group is a separate parquet
    * scan over disjoint files, so pushdown/pruning apply per group and
    * total I/O is unchanged; group count is bounded by live schema
    * versions (compaction collapses it back to one).
    *
    * The scan lists nothing: each group's file list and sizes come from
    * the commit log ([[LogFileIndex]]), so building the frame touches no
    * data path and runs no Spark job, however many files it names.
    *
    * `tagFileName`: attach `_file_name` (file basename via
    * `input_file_name`) AT THE SCAN — the expression reads a scan-local
    * thread state, so it must be captured before any exchange. Only the
    * public snapshot read surfaces tag; internal readers that rewrite
    * rows (compaction, merge, index probes) never do, so the column is
    * never persisted.
    */
  private def readFiles(files: Seq[FileAdd], snap: Snapshot,
      tagFileName: Boolean = false): DataFrame = {
    val target = tableSchema(snap)
    val jsonOf = snap.pathSchemas
    // group by ADAPTATION KEY, not raw schema JSON: commits whose
    // schemas differ only in field order (or metadata rendering) share
    // one scan — parquet matches file columns by name, so one explicit
    // schema covers every order. First-appearance order keeps the
    // output column order deterministic (the first group leads the
    // union).
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Set[(String, String, DataType)],
             (StructType, scala.collection.mutable.ArrayBuffer[FileAdd])]
    files.foreach { f =>
      val schema = jsonOf.get(f.path).map(parseSchema).getOrElse(target)
      groups.getOrElseUpdate(SchemaEvo.adaptKey(schema),
        (schema, new scala.collection.mutable.ArrayBuffer[FileAdd]))._2 += f
    }
    val targetKey = SchemaEvo.adaptKey(target)
    // live deletion vectors covering any of these files: applied as ONE
    // broadcast anti-join on (file, row position) per schema group,
    // directly on the raw scan (codegen'd BroadcastHashJoin LeftAnti).
    // Zero-cost when no DV is live — the common case stays a bare scan.
    val dvRows = dvRowsFor(files, snap)
    groups.toSeq.map { case (key, (fileSchema, group)) =>
      val raw0 = LogFileIndex.scan(spark, group.toSeq, fileSchema)
      val raw = dvRows.fold(raw0)(dv => joinDvs(raw0, dv))
      val adapted = if (key == targetKey) raw
        else SchemaEvo.adapt(raw, fileSchema, target)
      // tag AFTER adapt (adapt projects the file schema's columns and
      // would drop an extra one) — both are projections over the scan,
      // so input_file_name still binds to the per-row scanned file
      if (tagFileName)
        adapted.withColumn("_file_name",
          regexp_extract(input_file_name(), "[^/]+$", 0))
      else adapted
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** (target, position) rows of every live DV covering `files`, as a
    * small broadcastable frame — None when no DV applies (the common
    * case: one driver-side fold, no plan change). Positions load in
    * EXECUTORS (one task per DV sidecar batch), never on the driver. */
  private def dvRowsFor(files: Seq[FileAdd], snap: Snapshot)
      : Option[DataFrame] = {
    val dvs = snap.dvs
    if (config.isMor || dvs.isEmpty) return None // DVs are CoW-only
    val targets = files.map(f => DvCodec.normPath(f.path)).toSet
    val hits = dvs.filter(d => targets.contains(DvCodec.normPath(d.target)))
    if (hits.isEmpty) None else Some(dvPositions(hits))
  }

  /** the (`_dv_target`, `_dv_tpos`) rows of `dvs`, loaded in executors */
  private def dvPositions(dvs: Seq[FileAdd]): DataFrame = {
    val conf = new SerializableHadoopConf(hconf)
    import spark.implicits._
    spark.createDataset(dvs.map(d => (d.path, DvCodec.normPath(d.target))))
      .flatMap { case (p, t) =>
        DvCodec.read(conf.value, p).iterator.map(pos => (t, pos)) }
      .toDF("_dv_target", "_dv_tpos")
  }

  /** join a raw file scan against (file, position) pairs in `dvRows` —
    * `left_anti` is the deletion-vector read filter, `left_semi` its
    * inverse. The join keys are derived from the scan's hidden
    * `_metadata` columns in the SAME select (metadata columns do not
    * survive arbitrary projections), then dropped. */
  private def joinDvs(scan: DataFrame, dvRows: DataFrame,
      how: String = "left_anti"): DataFrame =
    scan.select(col("*"),
        DvCodec.normPathCol(col("_metadata.file_path")).as("__dv_file"),
        col("_metadata.row_index").as("__dv_pos"))
      .join(broadcast(dvRows),
        col("__dv_file") === col("_dv_target") &&
          col("__dv_pos") === col("_dv_tpos"),
        how)
      .drop("__dv_file", "__dv_pos")

  /** The rows a `dv_delete` commit tombstoned — target files' rows at
    * the DV'd positions (position SEMI-join: the inverse of the read
    * filter), adapted to `streamSchema` under the stream contract. The
    * change-tail's typed/untyped delete source for DV commits. */
  private[graft] def dvDeletedRows(dvs: Seq[FileAdd],
      streamSchema: StructType,
      schemaJsonOf: String => Option[String],
      addOf: String => FileAdd): DataFrame = {
    val dvRows = dvPositions(dvs)
    dvs.map(_.target).distinct.map(addOf)
      .groupBy(f => schemaJsonOf(f.path).getOrElse(tableSchema().json))
      .toSeq.map { case (j, fs) =>
        val fileSchema = parseSchema(j)
        val raw = joinDvs(LogFileIndex.scan(spark, fs, fileSchema),
          dvRows, "left_semi")
        SchemaEvo.adaptToStream(raw, fileSchema, streamSchema)
      }.reduce(_ unionByName _)
  }

  /** Merge-exchange partition count, derived from the candidate files'
    * recorded parquet bytes (FileAdd.bytes; pre-upgrade commits recorded
    * 0): one partition per 2 MB of compressed parquet — a window-sort
    * task big enough that scheduling overhead stops dominating, small
    * enough that the r14 one-giant-task coalescing regression cannot
    * recur — capped at 4x the cluster's default parallelism so a huge
    * backlog never explodes the task count past what the cluster can
    * run concurrently. ANY unrecorded candidate (bytes <= 0) raises the
    * result to the defaultParallelism floor: a single legacy 1 GB base
    * file among recorded 1 MB deltas would otherwise plan one
    * window-sort task — the exact single-task regression the explicit
    * count exists to prevent. */
  private[graft] def mergePartitions(candidates: Seq[FileAdd]): Int = {
    val target = 2L << 20
    val bytes = candidates.map(_.bytes).sum
    val cap = 4 * spark.sparkContext.defaultParallelism
    val floor = math.min(spark.sparkContext.defaultParallelism, cap)
    val fromBytes =
      if (bytes <= 0L) floor
      else math.max(1L, math.min((bytes + target - 1) / target, cap.toLong)).toInt
    if (candidates.exists(_.bytes <= 0L)) math.max(floor, fromBytes)
    else fromBytes
  }

  /** Fused pre/post merged winners for the record keys each commit of a
    * run touched: the typed MoR change feed's classification probe
    * ([[graft.sources.GraftTailSource]]). `keys` pairs each commit of
    * the run — one or more consecutive delta commits — with frames
    * carrying the table's key columns; `files` is the live set at the
    * run's LAST commit. Sound only on a removal-free, DV-free run (the
    * caller segments on that; a run of one is its own live set, so it
    * may remove files or add DVs): then live(cᵢ) = live(c_last)
    * restricted to rows stamped `_commit_id <= cᵢ` — delta commits only
    * ADD files and every row carries its writing commit's stamp — so ONE
    * scan of live(c_last), semi-joined to the union of the run's touched
    * keys, yields every per-commit classification via per-commit
    * predicates: post candidates `cid <= c` (live(c) holds no later
    * stamp), pre candidates `cid < c` (the commit's own rows and
    * tombstones masked out by their write-time stamp); tombstone maxes
    * restrict the same way.
    *
    * Per-key rows come back exploded to (key, commit): columns
    * `_record_key`, `_commit`, `_p` (the key's merged —
    * tombstone-resolved, precombine-applied — live winner at the
    * commit), `_p_cid` (its stamp), `_q` (its winner JUST BEFORE the
    * commit), for pairs with a winner on at least one side (a commit
    * that did not touch a key classifies to nothing: see the probe note
    * below). `_p` and `_q` can be the same row (stale delta — the table
    * didn't change). The winner is the first CANDIDATE row in
    * (precombine desc, commit desc, seq desc) order, which is exactly
    * [[morMerge]]'s row_number()=1 over the filtered set.
    *
    * Why: this replaced two [[morMerge]] calls per commit over a shared
    * eager local checkpoint that a full-outer join then recombined (two
    * window sorts, a join shuffle and a blocking materialization per
    * commit), then one probe per commit: a catch-up backlog's commits
    * touch overlapping file groups, so per-commit probes re-read and
    * re-sort the same bytes once per commit — the fixture's 3-commit
    * feed paid 3 scans + 3 sorts where one suffices (measured r17: typed
    * batchFrame 4.4 s → fused ~2 s). Cost shape: key-range prune (only
    * when it can skip many files — the 100 TB regime), ONE file read
    * semi-joined down to the touched keys, then the single merge pass —
    * bounded by the run's touched keys' file groups, never the table.
    */
  private[graft] def mergedPrePostPivotMulti(
      files: Seq[FileAdd], keys: Seq[(Long, DataFrame)],
      payload: DataFrame => org.apache.spark.sql.Column,
      /** the snapshot whose file → schema map reads `files` and whose
        * table schema the rows adapt to */
      snap: Snapshot): DataFrame = {
    require(keys.nonEmpty, "fused pivot needs at least one commit")
    val cids = keys.map(_._1)
    // ONE union probe for the whole run, duplicate-tolerant (left_semi
    // dedupes its build side). No per-commit touched-set is tracked: a
    // commit that did not touch a key classifies to NOTHING anyway —
    // its pre and post winners are the SAME row (only rows stamped by
    // the commit, which an untouched key has none of, can differ the
    // two sides), so the emission's 4-way when falls through on every
    // (key, untouched-commit) pair without help.
    val allKeys = keys.map(_._2).reduce(_ unionByName _)
    val probe = allKeys.select(keyStrExpr.as("_record_key"))
    val candidates =
      if (files.size <= 32) files
      else pruneByKeyRange(allKeys, files)
    if (candidates.isEmpty) {
      val empty = readOrEmpty(candidates, snap).drop("_seq", "_deleted")
        .join(probe, Seq("_record_key"), "left_semi")
      return empty.select(col("_record_key"), lit(-1L).as("_commit"),
        payload(empty).as("_p"), col("_commit_id").as("_p_cid"),
        payload(empty).as("_q")).limit(0)
    }
    val rows = readFiles(candidates, snap)
      .join(probe, Seq("_record_key"), "left_semi")
      // explicit partition count on the merge exchange, derived from the
      // candidate files' recorded bytes: AQE coalesces a ~18 MB exchange
      // to ONE partition — putting a multi-second single-task window
      // sort on the critical path of every commit (measured, SCALE.md
      // r14) — while a flat defaultParallelism leaves sub-MB tasks whose
      // scheduling overhead dominates the sort (measured r17: 32
      // near-empty window tasks per commit cost ~2x the fused merge
      // itself at fixture scale). Sizing from input bytes scales both
      // ways: tiny probes get few, usefully-sized tasks; a 100 TB
      // backlog gets bytes/target partitions, capped at 4x cluster
      // parallelism so the task count never explodes past what the
      // cluster can run. A user repartition pins the partition count; it
      // hash-partitions by the window's own keys, so the window chain
      // adds no further exchange.
      .repartition(mergePartitions(candidates), dedupCols.map(col): _*)
    val keyW = Window.partitionBy(dedupCols.map(col): _*)
    val w = keyW.orderBy(col(config.precombineCol).desc,
      col("_commit_id").desc, col("_seq").desc_nulls_last)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deleted = coalesce(col("_deleted"), lit(false)) // base files lack the column
    val cid = col("_commit_id")
    // three chained passes over ONE sort (identical partition+ordering,
    // so only the first pays the exchange+sort):
    //   1. whole-frame tombstone maxes;
    //   2. running first-candidate counts -> winner flags, plus
    //      row_number to emit ONE row per key — which removes the
    //      groupBy shuffle a separate per-key pivot paid per commit;
    //   3. whole-frame winner pivot (at most one non-null per side).
    // Same-frame window expressions are computed in ONE select per pass,
    // with one expression set per commit: sequential withColumn calls
    // planned one physical Window operator EACH (eight per-partition
    // buffer traversals per commit, measured r17); grouping them
    // collapses the plan to the three Window operators the data
    // dependencies actually force, regardless of run length (row_number
    // shares pass 2 — rank functions resolve to the same
    // unbounded-preceding / current-row frame as the running sums).
    val s1 = rows.select(col("*") +:
      cids.zipWithIndex.flatMap { case (c, i) => Seq(
        max(when(deleted && cid <= c, cid)).over(whole).as(s"_dcp_$i"),
        max(when(deleted && cid < c, cid)).over(whole).as(s"_dcq_$i")) }: _*)
    val s2 = s1.select(col("*") +:
      cids.zipWithIndex.flatMap { case (c, i) => Seq(
        (!deleted && cid <= c && cid > coalesce(col(s"_dcp_$i"), lit(-1L)))
          .as(s"_cp_$i"),
        (!deleted && cid < c && cid > coalesce(col(s"_dcq_$i"), lit(-1L)))
          .as(s"_cq_$i")) }: _*)
    val s3 = s2.select(col("*") +: (row_number().over(w).as("_rn") +:
      cids.indices.flatMap(i => Seq(
        sum(when(col(s"_cp_$i"), 1).otherwise(0)).over(upto).as(s"_sp_$i"),
        sum(when(col(s"_cq_$i"), 1).otherwise(0)).over(upto).as(s"_sq_$i")))
        .toSeq): _*)
    val s4 = s3.select(col("*") +: cids.indices.flatMap(i => Seq(
        (col(s"_cp_$i") && col(s"_sp_$i") === 1).as(s"_wp_$i"),
        (col(s"_cq_$i") && col(s"_sq_$i") === 1).as(s"_wq_$i"))).toSeq: _*)
    val pk = payload(s4)
    // max_by over a stamp marker, never max over the payload: Spark
    // cannot order a struct holding a map column
    // (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE). At most one row per
    // key carries each winner flag, so the marker only selects it.
    val s5 = s4.select(col("*") +: cids.indices.flatMap(i => Seq(
        max_by(pk, when(col(s"_wp_$i"), cid)).over(whole).as(s"_p_$i"),
        max(when(col(s"_wp_$i"), cid)).over(whole).as(s"_pc_$i"),
        max_by(pk, when(col(s"_wq_$i"), cid)).over(whole).as(s"_q_$i"))).toSeq: _*)
    // one row per key; a key with NO winner on either side (e.g. a
    // tombstone for a key that never lived) emits nothing
    s5.filter(col("_rn") === 1)
      .select(col("_record_key"), explode(array(
        cids.zipWithIndex.map { case (c, i) =>
          struct(lit(c).as("_commit"),
            col(s"_p_$i").as("_p"), col(s"_pc_$i").as("_p_cid"),
            col(s"_q_$i").as("_q")) }: _*)).as("_e"))
      .filter(col("_e._p").isNotNull || col("_e._q").isNotNull)
      .select(col("_record_key"), col("_e._commit").as("_commit"),
        col("_e._p").as("_p"), col("_e._p_cid").as("_p_cid"),
        col("_e._q").as("_q"))
  }

  /** Read files recorded ANYWHERE on the timeline — including files a
    * later commit removed (they survive physically until [[clean]]) —
    * each with the schema of the commit that ADDED it (resolved through
    * `schemaJsonOf`, so a long-running caller can keep an INCREMENTAL
    * path index instead of re-folding the whole timeline per call),
    * adapted to `streamSchema` by column id with the STREAM contract
    * ([[SchemaEvo.adaptToStream]]: renames alias, pre-evolution files
    * null-backfill/upcast, evolution past the stream schema fails loud).
    * The change-tail read primitive for Copy-on-Write tables, where a
    * commit's logical changes are derived from its adds/removes. A file
    * known only by path is `FileAdd(path, "")`: its unrecorded length
    * costs one status request, never a listing. */
  private[graft] def readTimelineFiles(
      files: Seq[FileAdd], streamSchema: StructType,
      schemaJsonOf: String => Option[String]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], streamSchema)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Set[(String, String, DataType)],
             (StructType, scala.collection.mutable.ArrayBuffer[FileAdd])]
    files.foreach { f =>
      val schema = schemaJsonOf(f.path).map(parseSchema).getOrElse(tableSchema())
      groups.getOrElseUpdate(SchemaEvo.adaptKey(schema),
        (schema, new scala.collection.mutable.ArrayBuffer[FileAdd]))._2 += f
    }
    groups.toSeq.map { case (_, (fileSchema, fs)) =>
      SchemaEvo.adaptToStream(LogFileIndex.scan(spark, fs.toSeq, fileSchema),
        fileSchema, streamSchema)
    }.reduce(_.unionByName(_))
  }

  // ---- internals ------------------------------------------------------

  /** the materialized record key: same expression at write time
    * (`_record_key` column) and at pruning time (batch-key probe), so
    * footer min/max ranges and probe keys compare in one value space.
    */
  private def keyStrExpr: org.apache.spark.sql.Column =
    concat_ws("|", config.keyCols.map(c => col(c).cast("string")): _*)

  private def withMeta(df: DataFrame, commitId: Long): DataFrame = {
    val base = df.withColumn("_commit_id", lit(commitId))
      .withColumn("_record_key", keyStrExpr)
    if (config.metaColumns)
      base.withColumn("_commit_seqno",
        format_string("%d_%d", lit(commitId), monotonically_increasing_id()))
    else base
  }

  /** Key-range file pruning (Hudi bloom-index min/max pruning): keep only
    * files whose footer `_record_key` [kmin, kmax] may contain a key of
    * `df`. The probe is a broadcast range join of the batch's distinct
    * keys against the (metadata-scale) file-range table; the collect is
    * bounded by the file count. Files without recorded ranges are never
    * pruned. Spark string comparison and parquet UTF8 stats share
    * unsigned-lexicographic order, and stats truncation (if any) widens
    * bounds — pruning is conservative, never wrong.
    */
  private def pruneByKeyRange(df: DataFrame, files: Seq[FileAdd]): Seq[FileAdd] = {
    val ranged = files.filter(_.hasKeyRange)
    if (ranged.isEmpty) files
    else {
      import spark.implicits._
      val ranges = ranged.map(f => (f.path, f.kmin, f.kmax, f.bloom))
        .toDF("_path", "_kmin", "_kmax", "_bloom")
      // pin the distinct's parallelism: a large probe (a change feed's
      // touched-key batch) shuffles only a few MB of keys, AQE coalesces
      // that to ONE partition, and the broadcast range join then runs
      // |keys| x |files| string comparisons on a single core — measured
      // 3.9 s per commit on the sf0.1 MoR feed vs ~0.3 s pinned. Small
      // probes (point lookups) pay only empty-task overhead.
      val pairs = df.select(keyStrExpr.as("_k"))
        .repartition(spark.sparkContext.defaultParallelism, col("_k"))
        .distinct()
        .join(broadcast(ranges),
          col("_k") >= col("_kmin") && col("_k") <= col("_kmax"))
      val hits =
        if (!ranged.exists(_.bloom))
          pairs.select("_path").distinct()
            .collect().map(_.getString(0)).toSet
        else {
          // bloom stage (the probe half of Hudi's BLOOM index): every
          // surviving (key, file) candidate pair consults the file's key
          // bloom — one shuffle of the range-hit pairs clustered by file,
          // each task loading a sidecar once, emitting only hit paths.
          // Work is bounded by batch∩range candidates, the same bound
          // Hudi's index probe has; the collect stays file-count-scale.
          val conf = new SerializableHadoopConf(hconf)
          pairs.select($"_path", $"_bloom", $"_k").as[(String, Boolean, String)]
            .repartition(col("_path"))
            .mapPartitions { it =>
              val blooms = scala.collection.mutable.HashMap
                .empty[String, Option[org.apache.spark.util.sketch.BloomFilter]]
              val out = scala.collection.mutable.LinkedHashSet.empty[String]
              it.foreach { case (p, hasBloom, k) =>
                if (!out.contains(p)) {
                  // missing/corrupt sidecar → None → keep (conservative)
                  val may = !hasBloom || blooms
                    .getOrElseUpdate(p, LakeTable.readBloomSidecar(p, conf.value))
                    .forall(_.mightContainString(k))
                  if (may) out += p
                }
              }
              out.iterator
            }
            .distinct().collect().toSet
        }
      files.filter(f => !f.hasKeyRange || hits.contains(f.path))
    }
  }

  // ---- scan-time file pruning (shared by read paths + DSv2 scan) ------

  /** Resolve a Column predicate against the pinned snapshot's schema to
    * an ANALYZED catalyst expression (attributes and implicit casts
    * carry types; deliberately not optimized — optimization would fold
    * the empty probe relation and drop the filter). */
  private[graft] def resolvePredicate(
      pruneBy: org.apache.spark.sql.Column,
      snap: Snapshot): Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    readOrEmpty(Seq.empty, snap).filter(pruneBy)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }

  /** Every file-list pruning channel the metadata supports, in one
    * place — column-stats ranges, exact partition-tuple membership, and
    * record-key range/bloom — all conservative (an unprovable shape
    * keeps the file). Shared by [[read(pruneBy*]], the DSv2 native
    * batch scan's static pushdown, and runtime (dynamic partition
    * pruning) filters, so every path prunes identically. */
  private[graft] def pruneFilesFor(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: Snapshot): Seq[FileAdd] = {
    val afterStats = pruneByColStats(files, pred, snap)
    val afterParts = pruneByPartitionValues(afterStats, pred, snap)
    val afterKeys = pruneByKeyEquality(afterParts, pred, snap)
    pruneByColBlooms(afterKeys, pred, snap)
  }

  /** Per-column value-bloom refinement ([[LakeTableConfig.bloomCols]]):
    * an equality/IN conjunct on an indexed column keeps only the files
    * whose `.bfm` sidecar may contain one of the probed renders — the
    * point-lookup regime min/max ranges cannot serve. Base-only
    * snapshots only (a delta row's values are not in the base filter,
    * and the merge must see every version of surviving keys); the
    * sidecar reads stay driver-bounded by the same guards as the key
    * bloom (≤1024 probe values, ≤64 marked candidates). Conservative
    * throughout: unmarked files, missing sidecars and unextractable
    * predicate shapes are kept.
    */
  private def pruneByColBlooms(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: Snapshot): Seq[FileAdd] = {
    if (config.bloomCols.isEmpty || files.isEmpty) return files
    if (files.exists(_.isDelta)) return files
    val accepted = acceptedRenders(pred, config.bloomCols.toSet,
      tableSchema(snap), nullRender = None)
    if (accepted.isEmpty) return files
    accepted.foldLeft(files) { case (fs0, (c, vals0)) =>
      if (vals0.isEmpty || vals0.size > 1024) fs0
      else {
        val marked = fs0.filter(_.colBlooms.contains(c))
        if (marked.isEmpty) fs0
        else {
          val vals = vals0.toSeq
          // few candidates: driver-side sidecar opens. Many: distribute
          // the probe (one task group loads each sidecar once — the
          // pruneByKeyRange bloom-stage shape), so a 100k-file snapshot
          // never funnels 100k metadata reads through the driver
          val hits: Set[String] =
            if (marked.size <= 64)
              marked.filter(f =>
                LakeTable.readColBloomSidecar(f.path, c, hconf)
                  .forall(bf => vals.exists(bf.mightContainString)))
                .map(_.path).toSet
            else {
              val conf = new SerializableHadoopConf(hconf)
              val paths = marked.map(_.path)
              spark.sparkContext
                .parallelize(paths, math.max(1, math.min(paths.size, 64)))
                .filter { p =>
                  LakeTable.readColBloomSidecar(p, c, conf.value)
                    .forall(bf => vals.exists(bf.mightContainString))
                }
                .collect().toSet
            }
          fs0.filter(f => !f.colBlooms.contains(c) || hits.contains(f.path))
        }
      }
    }
  }

  private def conjunctsOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** Accepted RENDERED values per column in `cols`, extracted from
    * top-level equality/IN conjuncts of `pred`. Rendering is the same
    * cast-to-string the write side applies ([[renderCol]] for partition
    * directories, [[keyStrExpr]] for record keys), so membership
    * compares in the exact value space the metadata stores. A column
    * absent from the map is unconstrained. Timestamp-typed columns are
    * never extracted (their rendering is session-timezone-sensitive —
    * a mismatch between writer and reader sessions would prune wrong);
    * a null literal under EqualTo is unconstrained (conservative), and
    * under null-safe equality renders the null-partition sentinel.
    */
  private def acceptedRenders(
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      cols: Set[String], tbl: StructType,
      nullRender: Option[String]): Map[String, Set[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
    def attrOf(x: Expression): Option[String] = x match {
      case a: AttributeReference
        if cols.contains(a.name) &&
          tbl.fields.find(_.name == a.name)
            .exists(f => f.dataType != TimestampType &&
              f.dataType != TimestampNTZType) => Some(a.name)
      case _ => None
    }
    // the write-side rendering of a foldable literal: cast to string in
    // the session timezone (vacuous here — timestamps are excluded)
    def render(v: Expression): Option[Option[String]] =
      if (!v.foldable) None
      else scala.util.Try {
        val c = Cast(v, StringType,
          Option(spark.sessionState.conf.sessionLocalTimeZone))
        Option(c.eval(null)).map(_.toString)
      }.toOption
    val perCol = scala.collection.mutable.HashMap.empty[String, Set[String]]
    def constrain(name: String, vals: Set[String]): Unit =
      perCol(name) = perCol.get(name).fold(vals)(_ intersect vals)
    conjunctsOf(pred).foreach {
      case EqualTo(a, v) if attrOf(a).isDefined =>
        render(v) match {
          case Some(Some(s)) if s.nonEmpty => constrain(attrOf(a).get, Set(s))
          case Some(Some("")) =>
            nullRender.foreach(nr => constrain(attrOf(a).get, Set(nr)))
          case _ => () // null or unevaluable literal: unconstrained
        }
      case EqualTo(v, a) if attrOf(a).isDefined =>
        render(v) match {
          case Some(Some(s)) if s.nonEmpty => constrain(attrOf(a).get, Set(s))
          case Some(Some("")) =>
            nullRender.foreach(nr => constrain(attrOf(a).get, Set(nr)))
          case _ => ()
        }
      case EqualNullSafe(a, v) if attrOf(a).isDefined =>
        render(v) match {
          case Some(Some(s)) if s.nonEmpty => constrain(attrOf(a).get, Set(s))
          case Some(_) => // null and '' both land in the null render
            nullRender.foreach(nr => constrain(attrOf(a).get, Set(nr)))
          case None => ()
        }
      case In(a, vs) if attrOf(a).isDefined && vs.nonEmpty =>
        val rendered = vs.map(render)
        // every member must be renderable or the list is unconstrained
        if (rendered.forall(_.isDefined)) {
          val set = rendered.flatMap {
            case Some(Some(s)) if s.nonEmpty => Some(s)
            case Some(_) => nullRender // null/'' member
            case None => None
          }.toSet
          // an In containing ONLY un-renderable nulls with no null
          // sentinel must stay unconstrained, not empty
          if (set.nonEmpty) constrain(attrOf(a).get, set)
        }
      case _ => ()
    }
    perCol.toMap
  }

  /** Exact partition pruning from equality/IN predicates on partition
    * columns — directory-membership pruning needs no statsCols. All-base
    * snapshots prune file-granular (no read-time merge); delta-touched
    * tables prune whole partitions only when the merge is group-local
    * (same safety rule as column-stats pruning — a global index whose
    * dedup groups span partitions cannot prune partitions at all). */
  private def pruneByPartitionValues(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: Snapshot): Seq[FileAdd] = {
    if (config.partitionCols.isEmpty) return files
    if (files.exists(_.isDelta) && !groupLocalMergeSafe) return files
    val tbl = tableSchema(snap)
    // spec evolution: each file's tuple is only meaningful under the
    // spec it was written with — dispatch per spec group (single-spec
    // tables take the one-pass path unchanged)
    if (config.hasSpecHistory)
      return files.groupBy(_.spec).toSeq.sortBy(_._1).flatMap {
        case (sid, fs) =>
          val ts = transformsOf(sid)
          if (ts.exists(_ != PartTransform.Identity))
            pruneHiddenPartitions(fs, pred, tbl, ts)
          else pruneIdentityPartitions(fs, pred, tbl)
      }
    if (config.hasHiddenParts)
      return pruneHiddenPartitions(files, pred, tbl, config.transforms)
    pruneIdentityPartitions(files, pred, tbl)
  }

  /** identity-layout half of [[pruneByPartitionValues]]: stored level
    * strings ARE rendered row values, so equality pruning is exact */
  private def pruneIdentityPartitions(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      tbl: StructType): Seq[FileAdd] = {
    val accepted = acceptedRenders(pred, config.partitionCols.toSet,
      tbl, nullRender = Some(LakeTable.NullPartition))
    // IS NOT NULL conjuncts prune the sentinel directory of NON-string
    // partition columns (it holds only nulls there; a string sentinel
    // also holds '', which IS NOT NULL keeps) — this also makes the
    // claimed-filter contract hold for a bare IS NOT NULL pushdown
    val notNull: Set[String] = {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IsNotNull}
      conjunctsOf(pred).collect {
        case IsNotNull(a: AttributeReference)
          if config.partitionCols.contains(a.name) &&
            tbl.fields.find(_.name == a.name)
              .exists(_.dataType != org.apache.spark.sql.types.StringType) =>
          a.name
      }.toSet
    }
    if (accepted.isEmpty && notNull.isEmpty) return files
    val levelOf = config.partitionCols.zipWithIndex.toMap
    files.filter { f =>
      val levels = userLevels(f.partition)
      // a pre-upgrade tuple with fewer stored levels than the declared
      // partitioning cannot be mapped back — keep (conservative)
      levels.size < config.partitionCols.size ||
        (accepted.forall { case (c, set) =>
          // the null-sentinel level holds both null and '' rows; it is
          // pruned only when the sentinel itself is outside the
          // accepted set, which is exact for equality predicates
          set.contains(levels(levelOf(c)))
        } && notNull.forall(c =>
          levels(levelOf(c)) != LakeTable.NullPartition))
    }
  }

  /** Record-key pruning from equality/IN predicates on a single-column
    * key: driver-side [kmin, kmax] containment (binary-searched — no
    * Spark job), then bloom-sidecar refinement for small candidate
    * sets. The scan-predicate twin of [[pruneByKeyRange]] (which probes
    * with a keys FRAME); a point lookup through plain SQL now touches
    * the same handful of files [[lookup]] would. Multi-column keys are
    * skipped: a single-column predicate cannot bound the composite
    * rendered key. */
  /** Directory pruning for HIDDEN-partitioned tables: predicates over
    * the SOURCE column map to constraints on the stored transform-value
    * levels.
    *
    *  - equality / IN: the literal rides through the SAME Column-level
    *    transform expression the write side rendered with (constant-
    *    folded by the optimizer, never re-implemented here — a second
    *    renderer would eventually disagree with the directories), so
    *    `WHERE ts = '2024-03-07 …'` keeps only the `2024-03` months
    *    level. Over-approximate by construction (the level holds the
    *    whole month); row filters above the scan do the rest.
    *  - ranges (order-preserving transforms only — years/months/days/
    *    hours): a non-decreasing transform turns `src >= b` into
    *    `T(src) >= T(b)`, compared in rendered-string space. Fixed-width
    *    ISO renders make that comparison order-true; a level whose
    *    rendered WIDTH differs from the bound's (negative years, pre-
    *    upgrade layouts) is kept conservatively.
    *  - IS NOT NULL prunes the sentinel level when the SOURCE type is
    *    non-string (a string source folds '' into the sentinel too,
    *    and '' IS NOT NULL — same rule as identity partitioning).
    *
    * Unmapped conjuncts are simply ignored (keep = conservative).
    */
  private def pruneHiddenPartitions(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      tbl: StructType,
      ts: Seq[PartTransform]): Seq[FileAdd] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

    final case class LC(
        var accepted: Option[Set[String]] = None,
        var lo: Option[String] = None, var loEx: Boolean = false,
        var hi: Option[String] = None, var hiEx: Boolean = false,
        var notNull: Boolean = false)
    val levelOf = config.partitionCols.zipWithIndex.toMap
    val cons = scala.collection.mutable.HashMap.empty[Int, LC]
    def lc(i: Int): LC = cons.getOrElseUpdate(i, LC())

    def levelIdx(x: Expression): Option[Int] = x match {
      case a: AttributeReference => levelOf.get(a.name).filter { i =>
        val t = ts(i)
        val dt = tbl.fields.find(_.name == a.name).map(_.dataType)
        dt.exists { d =>
          // identity levels keep the identity rules: timestamp renders
          // are session-TZ-sensitive and refuse; transform renders are
          // TZ-free arithmetic and accept timestamps
          if (t == PartTransform.Identity)
            d != TimestampType && d != TimestampNTZType
          else t.validFor(d)
        }
      }
      case _ => None
    }

    /** the literal rendered through level `i`'s transform: None =
      * unevaluable (unconstrained), Some(s) = the stored level string
      * (null/'' already folded to the sentinel) */
    def renderLit(i: Int, v: Expression): Option[String] = {
      if (!v.foldable) return None
      val pc = config.partitionCols(i)
      val dt = tbl.fields.find(_.name == pc).map(_.dataType).getOrElse(return None)
      val c = org.apache.spark.sql.graftbridge.ColumnBridge.column(v)
      foldToString(ts(i).expr(c, dt).cast("string")).map {
        case Some(s) if s.nonEmpty => s
        case _ => LakeTable.NullPartition
      }
    }

    def constrain(i: Int, vals: Set[String]): Unit = {
      val c = lc(i)
      c.accepted = Some(c.accepted.fold(vals)(_ intersect vals))
    }
    /** true when the literal's ±ε neighbor renders to a DIFFERENT level
      * — i.e. the bound sits exactly on a level edge. A strict bound on
      * an edge EXCLUDES the boundary level: `src > B` with B the last
      * instant of its level selects no row of that level. Evaluable
      * only for date/timestamp sources (timezone-free shift); anything
      * else stays inclusive-conservative. */
    def alignedEdge(i: Int, v: Expression, forward: Boolean): Boolean = {
      val pc = config.partitionCols(i)
      val dt = tbl.fields.find(_.name == pc).map(_.dataType).getOrElse(return false)
      val c = org.apache.spark.sql.graftbridge.ColumnBridge.column(v)
      val shiftedC = dt match {
        case org.apache.spark.sql.types.DateType =>
          if (forward) date_add(c, 1) else date_sub(c, 1)
        case TimestampType =>
          timestamp_micros(unix_micros(c) + (if (forward) 1L else -1L))
        case _ => return false
      }
      (for {
        r <- foldToString(ts(i).expr(c, dt).cast("string")).flatten
        nr <- foldToString(ts(i).expr(shiftedC, dt).cast("string")).flatten
      } yield nr != r).getOrElse(false)
    }
    def bound(i: Int, v: Expression, isLower: Boolean,
        strict: Boolean = false): Unit =
      if (ts(i).orderPreserving)
        renderLit(i, v).filter(_ != LakeTable.NullPartition).foreach { s =>
          val c = lc(i)
          // a strict edge-aligned bound excludes its boundary level
          // exactly (`src > end-of-level` / `src < start-of-level`);
          // interior strict bounds stay inclusive-conservative
          val excl = strict && alignedEdge(i, v, forward = isLower)
          if (isLower) c.lo match {
            case Some(p) if s < p => ()
            case Some(p) if s == p => c.loEx = c.loEx || excl
            case _ => c.lo = Some(s); c.loEx = excl
          } else c.hi match {
            case Some(p) if s > p => ()
            case Some(p) if s == p => c.hiEx = c.hiEx || excl
            case _ => c.hi = Some(s); c.hiEx = excl
          }
        }

    conjunctsOf(pred).foreach {
      case EqualTo(a, v) if levelIdx(a).isDefined && v.foldable =>
        val i = levelIdx(a).get
        // equality with null is never true — but renders conservatively
        // as "unconstrained" (Spark normally folds it away first)
        renderLit(i, v).filter(_ != LakeTable.NullPartition ||
            v.dataType == StringType)
          .foreach(s => constrain(i, Set(s)))
      case EqualTo(v, a) if levelIdx(a).isDefined && v.foldable =>
        val i = levelIdx(a).get
        renderLit(i, v).filter(_ != LakeTable.NullPartition ||
            v.dataType == StringType)
          .foreach(s => constrain(i, Set(s)))
      case In(a, vs) if levelIdx(a).isDefined && vs.nonEmpty && vs.forall(_.foldable) =>
        val i = levelIdx(a).get
        val rendered = vs.map(renderLit(i, _))
        if (rendered.forall(_.isDefined))
          constrain(i, rendered.flatten.toSet)
      case GreaterThanOrEqual(a, v) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = true)
      case GreaterThan(a, v) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = true, strict = true)
      case LessThanOrEqual(a, v) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = false)
      case LessThan(a, v) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = false, strict = true)
      case GreaterThanOrEqual(v, a) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = false)
      case GreaterThan(v, a) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = false, strict = true)
      case LessThanOrEqual(v, a) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = true)
      case LessThan(v, a) if levelIdx(a).isDefined => bound(levelIdx(a).get, v, isLower = true, strict = true)
      case IsNotNull(a: AttributeReference) if levelOf.contains(a.name) &&
          tbl.fields.find(_.name == a.name)
            .exists(_.dataType != StringType) =>
        lc(levelOf(a.name)).notNull = true
      case _ => ()
    }
    if (cons.isEmpty) return files

    files.filter { f =>
      val levels = userLevels(f.partition)
      // pre-upgrade tuple with unknown arity: keep (conservative)
      levels.size >= config.partitionCols.size && cons.forall { case (i, c) =>
        val lv = levels(i)
        val eqOk = c.accepted.forall(_.contains(lv))
        val nnOk = !c.notNull || lv != LakeTable.NullPartition
        // bounds only ever come from orderPreserving (temporal)
        // transforms, whose source is never a string — the sentinel
        // level holds ONLY null-source rows there, and a range
        // predicate is never true for null, so ANY bound excludes the
        // sentinel EXACTLY. This is what keeps a CLAIMED (fully
        // handled, never re-applied) range filter row-correct on the
        // native scan; on unbounded levels equality/notNull still
        // decide the sentinel.
        val rangeOk =
          if (lv == LakeTable.NullPartition) c.lo.isEmpty && c.hi.isEmpty
          else
            c.lo.forall(b => lv.length != b.length ||
              (if (c.loEx) lv > b else lv >= b)) &&
              c.hi.forall(b => lv.length != b.length ||
                (if (c.hiEx) lv < b else lv <= b))
        eqOk && nnOk && rangeOk
      }
    }
  }

  /** Constant-folds a literal-only Column to its string value WITHOUT
    * running a job: the optimizer's own ConstantFolding evaluates the
    * projection over a one-row range. None = did not fold to a literal
    * (unevaluable — treat as unconstrained); Some(None) = folded to
    * null; Some(Some(s)) = the value. */
  private def foldToString(c: Column): Option[Option[String]] =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal => CatLit}
      import org.apache.spark.sql.catalyst.plans.logical.Project
      spark.range(1).select(c.as("_r"))
        .queryExecution.optimizedPlan.collectFirst {
          case p: Project => p.projectList.head match {
            case Alias(CatLit(v, _), _) => Some(Option(v).map(_.toString))
            case _ => None
          }
        }.flatten
    }.toOption.flatten

  private def pruneByKeyEquality(
      files: Seq[FileAdd],
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: Snapshot): Seq[FileAdd] = {
    if (config.keyCols.size != 1) return files
    if (files.exists(_.isDelta) && !groupLocalMergeSafe) return files
    val accepted = acceptedRenders(pred, config.keyCols.toSet,
      tableSchema(snap), nullRender = None)
    accepted.get(config.keyCols.head) match {
      case None => files
      case Some(keys0) if keys0.isEmpty || keys0.size > 100000 => files
      case Some(keys0) =>
        val keys = keys0.toArray.sorted(
          Ordering.fromLessThan[String](LakeTable.utf8Lt))
        def mayHold(f: FileAdd): Boolean = {
          if (!f.hasKeyRange) return true
          // first key >= kmin, then check <= kmax
          var lo = 0; var hi = keys.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (LakeTable.utf8Lt(keys(mid), f.kmin)) lo = mid + 1 else hi = mid
          }
          lo < keys.length && !LakeTable.utf8Lt(f.kmax, keys(lo))
        }
        val ranged = files.filter(mayHold)
        // bloom refinement only when the sidecar reads stay trivially
        // bounded (driver-side file opens)
        if (keys.length > 1024 || ranged.count(_.bloom) > 64) ranged
        else ranged.filter { f =>
          !f.bloom || {
            LakeTable.readBloomSidecar(f.path, hconf) match {
              case Some(bf) => keys.exists(bf.mightContainString)
              case None => true // unreadable sidecar: keep (conservative)
            }
          }
        }
    }
  }

  /** Typed partition-key rows (partitionCols order, catalyst internal
    * values) for each file — `Some` only when EVERY file's stored
    * tuple parses back EXACTLY (parse, then re-render through the same
    * cast that produced the directory name and compare). Feeds the
    * DSv2 scan's [[org.apache.spark.sql.connector.read.SupportsReportPartitioning]]
    * (storage-partitioned joins): a wrong key would silently mis-join,
    * so anything unprovable — timestamp-typed partition columns
    * (session-timezone-sensitive rendering), the null-sentinel level
    * on a string column (null and '' collapse), a value that does not
    * round-trip — refuses the whole snapshot. */
  private[graft] def partitionKeyRows(
      files: Seq[FileAdd], snap: Snapshot)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
    if (config.partitionCols.isEmpty) return None
    // hidden partitioning MUST gate explicitly (not rely on the
    // re-render check below): a truncate level of an already-short
    // string, or a bucket ordinal, parses and re-renders cleanly while
    // the file's ROWS hold different source values — reporting that as
    // a key-grouped partitioning would silently mis-join. Any spec in
    // the history counts: old files keep their transformed layout.
    if (config.anyHiddenSpec) return None
    val tbl = tableSchema(snap)
    val types = config.partitionCols.map(c =>
      tbl.fields.find(_.name == c).map(_.dataType).getOrElse(return None))
    if (types.exists(t => t == TimestampType || t == TimestampNTZType))
      return None
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val cache = scala.collection.mutable.HashMap.empty[String, Option[InternalRow]]
    def keyOf(tuple: String): Option[InternalRow] = {
      val levels = userLevels(tuple)
      if (levels.size < config.partitionCols.size) return None
      val vals = levels.zip(types).map { case (lv, dt) =>
        if (lv == LakeTable.NullPartition) {
          if (dt == StringType) return None // ambiguous: null vs ''
          null
        } else {
          val parsed = Cast(Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(lv),
            StringType), dt, tz).eval(null)
          if (parsed == null) return None
          val rerender = Cast(Literal(parsed, dt), StringType, tz).eval(null)
          if (rerender == null || rerender.toString != lv) return None
          parsed
        }
      }
      Some(InternalRow.fromSeq(vals))
    }
    val keys = files.map(f => cache.getOrElseUpdate(f.partition, keyOf(f.partition)))
    if (keys.forall(_.isDefined)) Some(keys.map(_.get)) else None
  }

  /** The pinned snapshot's live files IF the snapshot is provably
    * readable as a bare parquet union — the DSv2 native batch scan's
    * eligibility prover: every live file is a base file (no MoR
    * read-time merge), records its byte length (splittable planning),
    * and carries the pinned table schema verbatim (no schema-evolution
    * adaptation). Anything else reads through the V1 fallback path
    * untouched. Same strict-prover contract as the metadata aggregate
    * pushdown: certify completely or fall through. */
  private[graft] def nativeScanFiles(asOf: Option[Long]): Option[Seq[FileAdd]] =
    nativeScanFiles(log.snapshot(asOf))

  /** [[nativeScanFiles]] over an already-resolved snapshot */
  private[graft] def nativeScanFiles(snap: Snapshot): Option[Seq[FileAdd]] = {
    val files = snap.files
    if (files.isEmpty) return None // the empty-frame path owns this case
    if (files.exists(f => f.isDelta || f.bytes <= 0L)) return None
    // live DVs no longer demote the snapshot off the native path: the
    // batch scan plans DV'd files into row-based partitions that apply
    // the position sidecars as a row-index anti-filter (GraftBatchScan).
    // One 200-byte sidecar must not cost a 100 TB table its vectorized
    // reads, DPP, and storage-partitioned joins. Only a (pathological)
    // user column colliding with the parquet reader's internal row-index
    // name forces the V1 fallback.
    val tbl = tableSchema(snap)
    if (snap.dvs.nonEmpty && tbl.fieldNames.contains(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .ROW_INDEX_TEMPORARY_COLUMN_NAME)) return None
    val target = SchemaEvo.adaptKey(tbl)
    val jsonOf = snap.pathSchemas
    val uniform = files.forall(f =>
      jsonOf.get(f.path).exists(j => SchemaEvo.adaptKey(parseSchema(j)) == target))
    if (uniform) Some(files) else None
  }

  // ---- column-stats data skipping ------------------------------------

  /** Drop files whose recorded column stats prove `pred` matches no row.
    * CoW (base-only) prunes file-granular; MoR prunes whole partitions
    * (file groups) so the merge still sees every version of surviving
    * keys; unsafe layouts skip pruning. Always conservative: files
    * without stats, unsupported predicate shapes, and un-evaluable
    * literals are kept.
    */
  private def pruneByColStats(
      files: Seq[FileAdd],
      pred0: org.apache.spark.sql.catalyst.expressions.Expression,
      snap: Snapshot): Seq[FileAdd] = {
    if (config.statsCols.isEmpty && config.shredSpecs.isEmpty) files
    else {
      // shredding: extraction sub-expressions over configured
      // (column, path, type) entries rewrite to their shadow attribute —
      // whose per-file bounds the commit log records like any statsCol —
      // BEFORE the comparator sees the predicate. The rewritten form is
      // never executed; unmatched shapes pass through untouched.
      val pred = ShredSpec.rewritePred(pred0, config.shredSpecs)
      // literal casts depend only on (expression, column type) — memoize
      // across the per-file loop, or an IN-list over a 100k-file snapshot
      // pays O(files x literals) driver-side catalyst evals
      val litCache = scala.collection.mutable.HashMap
        .empty[(org.apache.spark.sql.catalyst.expressions.Expression, DataType),
               Option[Any]]
      // schema evolution: stats were recorded under the file's PHYSICAL
      // column names and types — resolve each file's schema once so
      // bounds can match by column id and parse in the file's type.
      // BOTH come from the read's snapshot: a VERSION AS OF read's
      // predicate names the PINNED schema's columns, so resolving against
      // the head (which may have renamed them since) would silently lose
      // all skipping — correct but fully unpruned.
      val jsonOf = snap.pathSchemas
      // shadow fields appended so the comparator resolves rewritten
      // `_shred_*` attributes; they carry no column id and recorded file
      // schemas never contain them, so the per-file resolution falls to
      // (shadow name, configured type) — exactly where the write path
      // recorded the stat
      val tbl = StructType(tableSchema(snap).fields ++
        config.shredSpecs.map(s =>
          org.apache.spark.sql.types.StructField(s.name, s.dt)))
      val schemaCache = scala.collection.mutable.HashMap.empty[String, StructType]
      def schemaFor(f: FileAdd): Option[StructType] =
        jsonOf.get(f.path).map(j => schemaCache.getOrElseUpdate(j, parseSchema(j)))
      def may(f: FileAdd): Boolean =
        !statsImpossible(f, schemaFor(f), tbl, pred, litCache)
      if (!files.exists(_.isDelta)) files.filter(may)
      else if (groupLocalMergeSafe) {
        val keep = files.groupBy(_.partition)
          .collect { case (t, fs) if fs.exists(may) => t }.toSet
        files.filter(f => keep.contains(f.partition))
      } else files
    }
  }

  /** True when `e` PROVABLY matches no row of `f` given the recorded
    * per-column [min, max]. Supports conjunction/disjunction of simple
    * comparisons and IN between a stats column and foldable literals —
    * anything else evaluates to "cannot prove", never a wrong prune.
    */
  private def statsImpossible(
      f: FileAdd,
      fileSchema: Option[StructType],
      tbl: StructType,
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      litCache: scala.collection.mutable.Map[
        (org.apache.spark.sql.catalyst.expressions.Expression, DataType),
        Option[Any]]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType,
      LongType, DateType, FloatType, DoubleType}
    // comparable domain per column type: Long / Double / utf8 String.
    // Stored values are raw parquet-physical renderings, so the domains
    // must line up with Spark's INTERNAL representations (date = days,
    // timestamp = micros); Decimal/INT96/complex types are unsupported.
    def cmpFor(dt: DataType): Option[(String => Any, Any => Option[Any], (Any, Any) => Int)] =
      dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => Some((
          (s: String) => s.toLong,
          {
            case n: java.lang.Number => Some(n.longValue())
            case _ => None
          },
          (a: Any, b: Any) => java.lang.Long.compare(
            a.asInstanceOf[Long], b.asInstanceOf[Long])))
        case FloatType | DoubleType => Some((
          // FloatType stats MUST round-trip through Float before widening:
          // "0.12".toDouble != 0.12f.toDouble, and the literal side widens
          // through Float — parsing straight to Double would mis-prune
          // files whose rows match the predicate exactly
          (s: String) => if (dt == FloatType) s.toFloat.toDouble else s.toDouble,
          {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          },
          (a: Any, b: Any) => java.lang.Double.compare(
            a.asInstanceOf[Double], b.asInstanceOf[Double])))
        case org.apache.spark.sql.types.StringType => Some((
          identity[String],
          {
            case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
            case _ => None
          },
          (a: Any, b: Any) => {
            val (x, y) = (a.asInstanceOf[String], b.asInstanceOf[String])
            if (x == y) 0 else if (utf8Lt(x, y)) -1 else 1
          }))
        case _ => None
      }
    def attrName(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    // a file's recorded stat, parsed in ITS physical type and widened
    // into the TABLE type's comparable domain — exact for every
    // permitted widening (int family fits Long; int32/float fit Double
    // via the same rounding the data itself took); anything else is
    // unparseable → no prune (conservative)
    def parseStat(s: String, fileDt: DataType, tableDt: DataType,
        parseWide: String => Any): Option[Any] =
      scala.util.Try {
        if (fileDt == tableDt) Some(parseWide(s))
        else (fileDt, tableDt) match {
          case (ByteType | ShortType | IntegerType, LongType) => Some(s.toLong)
          case (FloatType, DoubleType) => Some(s.toFloat.toDouble)
          case (ByteType | ShortType | IntegerType, DoubleType) =>
            Some(s.toLong.toDouble)
          case _ => None
        }
      }.toOption.flatten
    // recorded bounds + the foldable side's value, in one comparable
    // domain (the analyzer wraps literals in implicit Casts — anything
    // foldable evaluates; a cast to the TABLE column's type aligns
    // domains — the table type is the widest live one, so the cast is
    // never narrowing). Schema evolution: the stats map is keyed by the
    // file's PHYSICAL column name — resolved through the column id, so
    // pruning survives renames and widenings.
    def bounds(attr: Expression, l: Expression)
      : Option[(Any, Any, Any, (Any, Any) => Int)] =
      for {
        name <- attrName(attr)
        tf <- tbl.fields.find(_.name == name)
        dt = tf.dataType
        (fName, fDt) = fileSchema
          .flatMap(_.fields.find(x => SchemaEvo.cid(x) == SchemaEvo.cid(tf)))
          .map(x => (x.name, x.dataType)).getOrElse((name, dt))
        mnS <- f.colMin.get(fName)
        mxS <- f.colMax.get(fName)
        (parse, fromLit, cmp) <- cmpFor(dt)
        litInternal <- litCache.getOrElseUpdate((l, dt),
          scala.util.Try(Option(Cast(l, dt,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval())).toOption.flatten)
        lv <- fromLit(litInternal)
        mn <- parseStat(mnS, fDt, dt, parse)
        mx <- parseStat(mxS, fDt, dt, parse)
      } yield (mn, mx, lv, cmp)
    def no(opt: Option[Boolean]): Boolean = opt.getOrElse(false)
    e match {
      case And(l, r) => statsImpossible(f, fileSchema, tbl, l, litCache) || statsImpossible(f, fileSchema, tbl, r, litCache)
      case Or(l, r) => statsImpossible(f, fileSchema, tbl, l, litCache) && statsImpossible(f, fileSchema, tbl, r, litCache)
      case EqualTo(a, l) if l.foldable && !a.foldable =>
        no(bounds(a, l).map { case (mn, mx, v, c) => c(v, mn) < 0 || c(v, mx) > 0 })
      case EqualTo(l, a) if l.foldable && !a.foldable =>
        statsImpossible(f, fileSchema, tbl, EqualTo(a, l), litCache)
      case LessThan(a, l) if l.foldable && !a.foldable => // needs min < v
        no(bounds(a, l).map { case (mn, _, v, c) => c(mn, v) >= 0 })
      case LessThan(l, a) if l.foldable && !a.foldable =>
        statsImpossible(f, fileSchema, tbl, GreaterThan(a, l), litCache)
      case LessThanOrEqual(a, l) if l.foldable && !a.foldable =>
        no(bounds(a, l).map { case (mn, _, v, c) => c(mn, v) > 0 })
      case LessThanOrEqual(l, a) if l.foldable && !a.foldable =>
        statsImpossible(f, fileSchema, tbl, GreaterThanOrEqual(a, l), litCache)
      case GreaterThan(a, l) if l.foldable && !a.foldable => // needs max > v
        no(bounds(a, l).map { case (_, mx, v, c) => c(mx, v) <= 0 })
      case GreaterThan(l, a) if l.foldable && !a.foldable =>
        statsImpossible(f, fileSchema, tbl, LessThan(a, l), litCache)
      case GreaterThanOrEqual(a, l) if l.foldable && !a.foldable =>
        no(bounds(a, l).map { case (_, mx, v, c) => c(mx, v) < 0 })
      case GreaterThanOrEqual(l, a) if l.foldable && !a.foldable =>
        statsImpossible(f, fileSchema, tbl, LessThanOrEqual(a, l), litCache)
      case In(a, vs) if vs.nonEmpty && !a.foldable && vs.forall(_.foldable) =>
        vs.forall(v => statsImpossible(f, fileSchema, tbl, EqualTo(a, v), litCache))
      case _ => false
    }
  }

  /** Live files of the partitions an upsert must merge, and their rows.
    * Partition-scoped index: only the partitions present in the batch —
    * pruning runs on commit-log metadata only, so at 100 TB this reads
    * just the partitions being merged, never the table. Global index:
    * additionally the partitions currently holding any incoming key,
    * located with a column-pruned key+partition scan (parquet reads two
    * columns), so a key migrating partitions drops its old row.
    */
  private def snapshotForUpsert(incoming: DataFrame,
      snap: Snapshot): (Seq[FileAdd], DataFrame) = {
    val live = snap.files
    if (effParts.isEmpty) (live, readOrEmpty(live, snap))
    else {
      // `incoming` already carries the derived bucket column; matching
      // dispatches per-file on the partition spec (evolution)
      val files = (filesMatchingTuples(live, incoming) ++
        (if (config.globalIndex) filesInKeyPartitions(incoming, live, snap)
         else Seq.empty)).distinct
      (files, readOrEmpty(files, snap))
    }
    // NOTE the rewrite scope is deliberately partition/bucket-granular,
    // not file-granular: rewriting only the key-range-hit files would
    // leave a partition's live files spanning several commit dirs,
    // breaking the single-directory-per-partition invariant that
    // plain-engine catalog sync (one LOCATION per partition) depends on.
    // File-granular rewrite bounds come from `hashBuckets`, which makes
    // the bucket a partition level; the footer key-range index below
    // prunes the read-side lookups instead.
  }

  /** Global-index lookup: every live file of a partition currently
    * holding any of the record keys in `df` (partition CLOSURE — the
    * single-directory-per-partition rewrite invariant needs whole
    * partitions, not just the probed files). The probe is a
    * column-pruned key+partition parquet scan over footer-range-pruned
    * candidates (Hudi GLOBAL_SIMPLE's strategy) — reads a few columns,
    * never payloads; the closure compares each file's tuple under the
    * file's OWN partition spec. */
  private def filesInKeyPartitions(df: DataFrame, live: Seq[FileAdd],
      snap: Snapshot): Seq[FileAdd] = {
    val candidates = pruneByKeyRange(df, live) // footer index cuts the scan
    if (candidates.isEmpty) Seq.empty
    else filesMatchingTuples(live,
      readFiles(candidates, snap)
        .join(df.select(config.keyCols.map(col): _*).distinct(),
          config.keyCols, "left_semi"))
  }

  /** Raw read of an explicit file subset of `snap` (no MoR merge; live
    * DVs of `snap` applied), or the empty frame at the snapshot's schema
    * — an as-of read's probe/fallback must expose the columns of that
    * version, not the head's (a later rename would otherwise unresolve a
    * valid as-of predicate). The window-bounded incremental-aggregate
    * refresh reads exactly the file groups a commit window touched. */
  private[lake] def readOrEmpty(files: Seq[FileAdd], snap: Snapshot): DataFrame =
    if (files.nonEmpty) readFiles(files, snap)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema(snap))

  /** Write `df` under a fresh commit directory, then append the commit
    * JSON (files-then-log ordering = crash safety; see CommitLog).
    */
  /** `base`: the ONE [[Snapshot]] this write attempt read — the files it
    * merged from, the schema it evolves from and the DVs it retires all
    * come from it, and CommitLog.append validates at publish that the
    * head is still `base.id` (optimistic concurrency) — the OCC base is
    * the read version's own id, never a separately resolved head. `id`:
    * the id the rows were stamped with, `base.nextId` (the rebase passes
    * its new head's).
    *
    * `partitionScoped`: true when the op's READ scope was confined to the
    * partitions its adds/removes touch (a partition-local upsert, a
    * pruned delete, a compaction) — the precondition for the
    * disjoint-writer rebase on conflict. False (whole-table read scope:
    * global-index probes, predicate deletes, overwriteAll, by-source
    * merges) always aborts on conflict.
    *
    * `stampsId`: rows changed by this op carry `_commit_id == id` (every
    * logical write); a rebase restamps exactly those rows. False for
    * physical maintenance (compact/delta_compact), whose rows keep their
    * original provenance stamps.
    */
  private def writeCommit(
      df0: DataFrame, op: String, base: Snapshot, id: Long,
      removesIn: Seq[String], kind: String = "base",
      commitMeta: Map[String, String] = Map.empty,
      partitionScoped: Boolean = false,
      /** true for an append that read nothing from the snapshot (a MoR
        * delta upsert): it rebases onto ANY new head, partition overlap
        * or not — see [[rebaseOrAbort]] */
      readFree: Boolean = false,
      stampsId: Boolean = true,
      rebaseAttempt: Int = 0,
      /** true for whole-table overwrites: no old file survives, so the
        * batch schema REPLACES the table schema instead of evolving it
        * (columns may vanish or re-type; persisting names keep their id) */
      schemaReset: Boolean = false,
      /** extra pre-built FileAdds committed atomically with the data
        * files (dv_update's position sidecars). Callers must pass
        * partitionScoped = false: the rebase path re-reads only the
        * commit's own parquet dir and would silently drop these. */
      extraAdds: Seq[FileAdd] = Seq.empty,
      /** staged transaction commit ids the rebase path already proved
        * partition-disjoint from this write (append() skips conflicting
        * on them) */
      knownStaged: Set[Long] = Set.empty): Long = {
    require(extraAdds.isEmpty || !partitionScoped,
      "extraAdds cannot ride a rebaseable (partitionScoped) commit")
    val expectedHead = base.id.getOrElse(log.EmptyTable)
    // central deletion-vector rule: any commit that removes a data file
    // retires that file's live DVs with it — the rewrite read the rows
    // THROUGH the DVs, so the rewritten files already exclude the
    // deleted positions (this is how compaction folds DVs in), and a
    // DV must never outlive its target into the cleaner's replay
    val removes = {
      val r0 = removesIn
      if (r0.isEmpty || config.isMor) r0
      else {
        val rs = r0.toSet
        (r0 ++ base.dvs.filter(d => rs.contains(d.target)).map(_.path)).distinct
      }
    }
    // schema evolution (SchemaEvo): the commit records the evolved TABLE
    // schema — previous user columns survive a narrow batch, widened
    // types stick, new columns mint stable ids. Incompatible changes
    // fail HERE, before any file is written; a change that would corrupt
    // retained live files (narrowing a column older files hold wide)
    // fails against the live-file schemas.
    val prevSchema = base.schemaJson.map(parseSchema)
    val evolved = SchemaEvo.evolve(prevSchema, df0.schema, id, reset = schemaReset)
    if (base.id.isDefined) {
      val removeSet = removes.toSet
      val retained = base.files.filterNot(f => removeSet.contains(f.path))
        .flatMap(f => base.pathSchemas.get(f.path)).distinct.map(parseSchema)
      SchemaEvo.validateAgainstLiveFiles(evolved, retained)
    }
    // conform the batch to the evolved types (a narrow batch column
    // upcasts) so this commit's FILES match its recorded schema exactly —
    // readers then never face a physical/declared type mismatch
    val df = {
      val types = evolved.fields.map(f => f.name -> f.dataType).toMap
      df0.schema.fields
        .filter(f => types.get(f.name).exists(_ != f.dataType))
        .foldLeft(df0)((acc, f) => acc.withColumn(f.name, col(f.name).cast(types(f.name))))
    }
    // deterministic-interleaving seam: fires between this writer's base
    // resolution and its publish — the exact window the optimistic check
    // guards. Concurrency specs hang a competing writer's commit here;
    // production leaves it a no-op.
    onHeadResolved()
    val dir = dataDir(id, kind, op)
    // keep the real columns in the data; duplicate them as `__gpN` shadow
    // columns for the nested Hive-style directory layout (the reference
    // instead mangled the column value itself, HudiJarGlueJob.py:102 —
    // deliberate deviation, SURVEY.md §7.4). repartitionByRange on
    // (partition levels, key) clusters each partition's rows into
    // contiguous tasks — few files per partition (the small-file
    // management the reference disabled, hoodie.parquet.small.file.limit:
    // 0, HudiJarGlueJob.py:77) while write parallelism still scales with
    // data volume, unlike hashing one partition value into a single task.
    val shadows = effParts.indices.map(i => s"__gp$i")
    // range-cluster by the MATERIALIZED record key string, not the native
    // key columns: footer kmin/kmax compare in string space, so only
    // string-ordered clustering yields disjoint file ranges (native-order
    // clustering of numeric keys gives lexicographic ranges that overlap
    // almost totally and prune nothing). Delta appends skip the
    // clustering shuffle — they are designed as cheap appends, merged at
    // read time. The clustered frame is persisted because range
    // partitioning runs a sampling pass over its child first: without it
    // the (possibly expensive) merge plan executes twice per commit.
    // CHECK constraints ride the same scan that writes the files;
    // shredding shadow columns ([[LakeTableConfig.shredPaths]]) ride it
    // too — typed extractions materialized per row, codegen'd, invisible
    // to readers (the recorded commit schema is `evolved`, computed
    // BEFORE the append)
    // generated columns re-derive on every written frame (rows PRODUCED
    // by merges/updates didn't pass the ingest fill); identity columns
    // are NOT touched here — rows reaching writeCommit carry them
    val guarded = ShredSpec.appendShadows(
      withChecks(recomputeGenerated(df)), config.shredSpecs)
    val mat = if (kind == "delta") guarded else guarded.persist()
    // user clusterCols (if configured) override the record key as the
    // intra-partition clustering order — see LakeTableConfig.clusterCols
    // for the skipping-vs-key-index tradeoff; zOrder interleaves them
    val clusterExprs =
      if (config.clusterCols.isEmpty) Seq(col("_record_key"))
      else if (config.zOrder && kind != "delta") Seq(zValueExpr(mat))
      else config.clusterCols.map(col)
    try {
      val writer =
        if (kind == "delta" && effParts.isEmpty) mat.write
        else if (kind == "delta") {
          val shadowed = effLevelExprs(mat).zip(shadows).foldLeft(mat) {
            case (acc, (le, sh)) => acc.withColumn(sh, le)
          }
          shadowed.write.partitionBy(shadows: _*)
        } else if (effParts.isEmpty)
          mat.repartitionByRange(clusterExprs: _*).write
        else {
          val shadowed = effLevelExprs(mat).zip(shadows).foldLeft(mat) {
            case (acc, (le, sh)) => acc.withColumn(sh, le)
          }
          shadowed
            .repartitionByRange(shadows.map(col) ++ clusterExprs: _*)
            .write.partitionBy(shadows: _*)
        }
      writer.options(LocalFs.writeOptions(dir, hconf))
        .mode("error").parquet(dir.toString)
    } finally if (kind != "delta") mat.unpersist() // persist() returns `this`, so guard by kind, not identity
    val fs = LocalFs.of(dir, hconf)
    val pathLens = listParquet(fs, dir)
    val statsByPath = fileStatsFor(pathLens.map(_._1))
    val adds = pathLens.map { case (p, len) =>
      // directory segments are Hive-escaped by Spark (':' → '%3A' etc.);
      // store the UNESCAPED tuple so pruning compares in raw value space.
      // Parse only BELOW the commit dir — a table root containing a
      // "__gp…" path segment must not inject phantom tuple levels
      val rel = p.toString.stripPrefix(dir.toString)
      val segs = rel.split('/')
        .filter(_.startsWith("__gp"))
        .map { seg =>
          val Array(name, value) = seg.split("=", 2)
          name.stripPrefix("__gp").toInt ->
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(value)
        }
        .sortBy(_._1).map(_._2)
      val st = statsByPath(p.toString)
      FileAdd(p.toString, segs.mkString(PartSep), kind, st.kmin, st.kmax,
        st.cmin, st.cmax, len, st.rows,
        spec = config.currentSpecId)
    }
    val withSums =
      if (config.sumCols.isEmpty || kind == "delta" || adds.isEmpty) adds
      else recordFileSums(dir, adds, evolved)
    val withBlooms =
      if ((config.bloomKeys <= 0 && config.bloomCols.isEmpty) ||
          withSums.isEmpty)
        withSums
      else buildBlooms(dir, withSums, evolved)
    val schemaJson = evolved.json
    try
      log.append(Commit(id, op, System.currentTimeMillis(), schemaJson,
        withBlooms ++ extraAdds, removes, commitMeta),
        basedOnLatest = expectedHead, knownStaged = knownStaged)
    catch {
      case e: CommitConflict =>
        rebaseOrAbort(e, dir, withBlooms, op, removes, kind, commitMeta,
          expectedHead, id, partitionScoped, readFree, stampsId, rebaseAttempt,
          schemaJson) match {
          case Some(cid) => return cid
          case None =>
            // true conflict: the just-written data files are orphans
            // (invisible to every reader); drop them so a retry loop does
            // not leak a directory per attempt
            try { fs.delete(dir, true); () } catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
      case e: IllegalStateException =>
        try { fs.delete(dir, true); () } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    resync() // keep a registered catalog table in step with the timeline
    id
  }

  private val MaxRebase = 4

  /** see the seam comment in [[writeCommit]] — specs only */
  private[graft] var onHeadResolved: () => Unit = () => ()

  /** Disjoint-writer conflict resolution (Hudi/Delta OCC semantics —
    * VERDICT r4 item #3): a publish-time head mismatch means commits
    * landed after the snapshot this write derived from. Whole-table
    * validation would abort ANY such write; instead, when this op's read
    * scope was partition-confined, intersect the intervening commits'
    * touched partitions (adds, plus removes resolved to partitions
    * through the log) with this write's own. Disjoint ⇒ the op's result
    * is identical to a serial re-execution on the new head, so the
    * already-written files are REBASED: re-read, their `_commit_id`
    * stamps rewritten from the failed id to a fresh one (pass-through
    * rows keep their provenance — only rows this op stamped move), and
    * recommitted against the new head. Cost is a rewrite of this write's
    * own output — never a re-merge, never a table scan. Any overlap, an
    * unresolvable removed path, or a whole-table read scope aborts as
    * before (one winner, clean losers).
    */
  private def rebaseOrAbort(
      cause: CommitConflict, dir: Path, adds: Seq[FileAdd], op: String,
      removes: Seq[String], kind: String, commitMeta: Map[String, String],
      expectedHead: Long, failedId: Long,
      partitionScoped: Boolean, readFree: Boolean, stampsId: Boolean,
      attempt: Int,
      schemaJson: String): Option[Long] = {
    val fs = LocalFs.of(dir, hconf)
    if (!partitionScoped || attempt >= MaxRebase) return None
    // the new head, resolved ONCE: its id is the new OCC base, its
    // nextId the new commit id, its schema the one the rebase adapts to
    val newBase = log.snapshot()
    val newHead = newBase.id.getOrElse(log.EmptyTable)
    // staged (undecided) transaction commits above our snapshot are
    // interveners too: under either eventual decision, folding both
    // outputs is only sound when partition-disjoint — the same rule as
    // visible interveners. Proven-disjoint staged ids pass back into
    // append() as `knownStaged` so the re-publish doesn't re-conflict.
    val stagedInterveners = log.stagedCommits.filter(_.id > expectedHead)
    if (newHead <= expectedHead && stagedInterveners.isEmpty)
      return None // retired-id or odd state: abort
    val interveners =
      log.commitsInRange(math.max(expectedHead, -1L), newHead) ++
        stagedInterveners
    def disjoint: Boolean = {
      // removes resolve to partitions via the add that made the file
      // live; every removed path was live at expectedHead so its add is
      // on the timeline (including a clone's borrowed files). Resolve
      // ONLY the paths the disjointness check needs, walking the
      // timeline BACKWARDS from the new head with early exit — an add
      // never sits above the commit that removed its file, and
      // supersessions target recent files, so this reads a handful of
      // commit JSONs instead of materializing path→partition for every
      // file ever added
      val needed = scala.collection.mutable.Set.empty[String]
      needed ++= removes
      interveners.foreach(needed ++= _.removes)
      val partOfRemoved = scala.collection.mutable.Map.empty[String, String]
      var cursor = newHead
      while (needed.nonEmpty && cursor >= 0L) {
        log.commitIfExists(cursor).foreach(_.adds.foreach { a =>
          if (needed.remove(a.path)) partOfRemoved(a.path) = a.partition
        })
        cursor -= 1
      }
      def touched(ads: Seq[FileAdd], rms: Seq[String]): Option[Set[String]] = {
        val resolved = rms.map(partOfRemoved.get)
        if (resolved.exists(_.isEmpty)) None
        else Some(ads.map(_.partition).toSet ++ resolved.flatten)
      }
      (for {
        ours <- touched(adds, removes)
        theirs <- interveners.foldLeft(Option(Set.empty[String])) { (acc, c) =>
          for { a <- acc; t <- touched(c.adds, c.removes) } yield a ++ t }
      } yield (ours & theirs).isEmpty).getOrElse(false)
    }
    // a read-free append (a MoR delta upsert) derived nothing from the
    // snapshot it resolved: re-executing it on the new head writes the
    // same rows whatever the interveners touched (a compaction of its
    // partitions included) — only the schema can conflict, and the
    // adapt below fails loud on that
    if (!readFree && !disjoint) return None
    val provenStaged = stagedInterveners.map(_.id).toSet
    val newId = newBase.nextId
    // a write with no files (e.g. a whole-partition delete) rebases as a
    // pure metadata append — nothing to re-read or restamp
    if (adds.isEmpty) {
      try {
        // record the NEW HEAD's schema verbatim: a no-files commit has
        // no data to preserve, and re-evolving the failed schema BY
        // NAME would resurrect a concurrently renamed/dropped column as
        // a phantom fresh-cid field (the old name is the same IDENTITY,
        // not a new column), while keeping failed-only cids would
        // re-expose a concurrently dropped column's old files
        val rebasedSchema = newBase.schemaJson.getOrElse(schemaJson)
        log.append(Commit(newId, op, System.currentTimeMillis(), rebasedSchema,
          Seq.empty, removes, commitMeta), basedOnLatest = newHead,
          knownStaged = provenStaged)
        resync()
        try { fs.delete(dir, true); () } catch { case scala.util.control.NonFatal(_) => () }
        return Some(newId)
      } catch {
        case e2: CommitConflict =>
          return rebaseOrAbort(e2, dir, adds, op, removes, kind, commitMeta,
            newHead, newId, partitionScoped, readFree, stampsId, attempt + 1,
            schemaJson)
      }
    }
    // re-read this write's own files (parquet is self-describing; shadow
    // partition levels exist only as directories), ADAPT them by column
    // id from the failed commit's schema to the new head's (an
    // intervening schema commit may have renamed/widened a column — the
    // failed commit's stamped schema carries the ids that bind this
    // write's old physical names to the head's new ones; re-entering
    // writeCommit with the raw old names would re-append them as brand
    // new columns), and move the stamp
    val reread0 = spark.read.options(LocalFs.jobOptions(dir, hconf))
      .option("recursiveFileLookup", "true").parquet(dir.toString)
    val reread = {
      val failedSchema = parseSchema(schemaJson)
      val headSchema = newBase.schemaJson.map(parseSchema).getOrElse(failedSchema)
      // target = head schema + this write's OWN new columns (a plain
      // adapt-to-head would silently drop the data of any column this
      // write introduced — SchemaEvo.rebaseTarget)
      val target = SchemaEvo.rebaseTarget(failedSchema, headSchema)
      if (SchemaEvo.adaptKey(failedSchema) == SchemaEvo.adaptKey(target))
        reread0
      else {
        // restrict the from-schema to columns the files physically hold
        // (the evolved commit schema may carry kept columns a narrow
        // delta batch never wrote)
        val present = reread0.columns.toSet
        SchemaEvo.adapt(reread0,
          StructType(failedSchema.fields.filter(f => present.contains(f.name))),
          target)
      }
    }
    val restamped =
      if (!stampsId) reread
      else reread.withColumn("_commit_id",
        when(col("_commit_id") === lit(failedId), lit(newId))
          .otherwise(col("_commit_id")))
    try {
      val cid = writeCommit(restamped, op, newBase, newId, removes, kind,
        commitMeta = commitMeta,
        partitionScoped = true, readFree = readFree, stampsId = stampsId,
        rebaseAttempt = attempt + 1, knownStaged = provenStaged)
      // the failed attempt's directory is fully superseded only now (the
      // rebase write read from it)
      try { fs.delete(dir, true); () } catch { case scala.util.control.NonFatal(_) => () }
      Some(cid)
    } catch {
      case scala.util.control.NonFatal(e) =>
        try { fs.delete(dir, true); () } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Per-file footer stats at commit time (`_record_key` range + min/max
    * of the configured statsCols), computed EXECUTOR-side: the footer
    * reads (metadata-only — no data pages touched) fan out as a short
    * Spark job over the written file list, so a 10k-file commit costs one
    * distributed metadata scan instead of 10k driver round trips. Task
    * count is capped at default parallelism; the collect is
    * metadata-scale (one stats tuple per file).
    */
  /** Build the per-file `_record_key` bloom sidecars for a just-written
    * commit directory (the build half of the BLOOM index,
    * [[LakeTableConfig.bloomKeys]]). One distributed column-pruned pass
    * over the written files — only the key column is read: partial
    * filters accumulate per (task, file), merge per file through a
    * METADATA-scale shuffle of serialized filters (keys never move),
    * and each merged filter is written executor-side next to its data
    * file; the driver collects file names only. Filters share (n, fpp)
    * so partials are merge-compatible. Any failure leaves the commit
    * unmarked — files without a sidecar are simply exempt from bloom
    * pruning (conservative), and the commit itself is unaffected.
    */
  /** Record per-file EXACT sums + non-null counts for
    * [[LakeTableConfig.sumCols]] on a just-written commit directory: ONE
    * distributed column-pruned aggregation grouped by file, collected at
    * metadata scale (one row per file). Decimal(38,0) accumulation, so
    * the recorded sum is exact regardless of per-file overflow; integral
    * columns only — a misconfigured column fails the write loud (the
    * buildBlooms posture: silence would read as "indexed"). A FAILURE of
    * the pass itself also fails the write: unlike a bloom (pure pruning
    * accelerator), a missing sum silently downgrades every future SUM
    * to a scan, which the operator should see at write time.
    */
  private def recordFileSums(dir: Path, adds: Seq[FileAdd],
      evolved: StructType): Seq[FileAdd] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val cols = config.sumCols
    cols.foreach { c =>
      val f = evolved.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"sumCols column '$c' is absent from the table schema"))
      require(f.dataType == ByteType || f.dataType == ShortType ||
          f.dataType == IntegerType || f.dataType == LongType,
        s"sumCols column '$c' has unsupported type ${f.dataType} " +
          "(integral only — float sums are order-sensitive)")
    }
    val aggs = cols.flatMap(c => Seq(
      sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as(s"_s_$c"),
      count(col(c)).as(s"_n_$c")))
    val byFile = spark.read.options(LocalFs.jobOptions(dir, hconf))
      .parquet(dir.toString)
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val f = new Path(r.getString(0)).toUri.getPath
        val s = cols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(1 + 2 * i)).map(v => c -> v.toString) }.toMap
        val n = cols.zipWithIndex.map { case (c, i) =>
          c -> r.getLong(2 + 2 * i) }.toMap
        f -> ((s, n))
      }.toMap
    adds.map { a =>
      byFile.get(new Path(a.path).toUri.getPath) match {
        case Some((s, n)) => a.copy(csum = s, cnn = n)
        case None => a
      }
    }
  }

  /** render types whose cast-to-string agrees between the write pass and
    * a probe literal — the same set the partition-exactness prover
    * claims (floats/decimals shortest-repr-diverge, timestamps are
    * session-timezone-sensitive) */
  private def bloomSafeType(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Build the per-file bloom sidecars for a just-written commit
    * directory: the `_record_key` filter ([[LakeTableConfig.bloomKeys]],
    * `.bf` sidecar — the probe half of Hudi's BLOOM index) and/or the
    * per-column value filters ([[LakeTableConfig.bloomCols]], one
    * `.bfm` sidecar holding every column's filter — Delta's
    * bloom-filter-index role). ONE distributed column-pruned pass reads
    * only the indexed columns: partial filters accumulate per (task,
    * file), merge per file through a METADATA-scale shuffle of
    * serialized filters (values never move), and each merged sidecar is
    * written executor-side next to its data file; the driver collects
    * file names only. Filters share (n, fpp) so partials are
    * merge-compatible. A build failure leaves the commit unmarked —
    * unmarked files are simply exempt from bloom pruning (conservative)
    * — but a MISCONFIGURED bloomCols column (absent, or an unsafe
    * render type) fails the write loud: silence there would read as
    * "indexed" while nothing ever prunes.
    */
  private def buildBlooms(dir: Path, adds: Seq[FileAdd],
      evolved: StructType): Seq[FileAdd] = {
    val colNames = config.bloomCols
    colNames.foreach { c =>
      val f = evolved.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloomCols column '$c' is absent from the table schema"))
      require(bloomSafeType(f.dataType),
        s"bloomCols column '$c' has unsupported type ${f.dataType} " +
          "(string/integral/boolean/date only — floats and timestamps " +
          "do not render stably)")
    }
    try {
      import org.apache.spark.util.sketch.BloomFilter
      val wantKey = config.bloomKeys > 0
      val n = if (config.bloomKeys > 0) config.bloomKeys else 100000
      val conf = new SerializableHadoopConf(hconf)
      def ser(b: BloomFilter): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        b.writeTo(bos); bos.toByteArray
      }
      def de(a: Array[Byte]): BloomFilter =
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      // filter slot order: the key (when requested), then bloomCols;
      // every indexed value rides as ITS WRITE-SIDE STRING RENDER so the
      // probe literal compares in the same encoding
      val names = (if (wantKey) Seq("_record_key") else Nil) ++ colNames
      val width = names.size
      val sel = input_file_name().as("_f") +: names.zipWithIndex.map {
        case (c, i) => col(c).cast("string").as(s"_v$i") }
      val built = spark.read.options(LocalFs.jobOptions(dir, hconf))
        .parquet(dir.toString)
        .select(sel: _*)
        .rdd
        .mapPartitions { it =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[String, (String, Array[BloomFilter])]
          it.foreach { r =>
            val orig = r.getString(0)
            // scheme-free URI path keys the merge AND matches FileAdd
            // paths (input_file_name yields file:///x, listStatus file:/x)
            val f = new Path(orig).toUri.getPath
            val filters = acc.getOrElseUpdate(f,
              (orig, Array.fill(width)(BloomFilter.create(n, 0.01))))._2
            var i = 0
            while (i < width) {
              if (!r.isNullAt(i + 1)) filters(i).putString(r.getString(i + 1))
              i += 1
            }
          }
          acc.iterator.map { case (f, (orig, bs)) => (f, (orig, bs.map(ser))) }
        }
        .reduceByKey { (x, y) =>
          (x._1, x._2.zip(y._2).map { case (a, b) =>
            val m = de(a); m.mergeInPlace(de(b)); ser(m) })
        }
        .map { case (uriPath, (orig, parts)) =>
          val dp = new Path(orig)
          val fs = LocalFs.of(dp, conf.value)
          if (wantKey) {
            val sp = new Path(dp.getParent, "." + dp.getName + ".bf")
            val os = fs.create(sp, true)
            try os.write(parts(0)) finally os.close()
          }
          if (colNames.nonEmpty) {
            val off = if (wantKey) 1 else 0
            val sp = new Path(dp.getParent, "." + dp.getName + ".bfm")
            val dos = new java.io.DataOutputStream(fs.create(sp, true))
            try {
              dos.writeInt(colNames.size)
              colNames.zipWithIndex.foreach { case (c, j) =>
                dos.writeUTF(c)
                dos.writeInt(parts(off + j).length)
                dos.write(parts(off + j))
              }
            } finally dos.close()
          }
          uriPath
        }
        .collect().toSet
      adds.map { a =>
        if (!built(new Path(a.path).toUri.getPath)) a
        else a.copy(bloom = wantKey,
          cblooms = if (colNames.nonEmpty) colNames else null)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[lake] bloom sidecar build failed for $dir — committing without " +
            s"bloom marks (pruning stays range-only): $e")
        adds
    }
  }

  private def fileStatsFor(paths: Seq[Path]): Map[String, FileStats] =
    if (paths.isEmpty) Map.empty
    else {
      val sc = spark.sparkContext
      val conf = new SerializableHadoopConf(hconf)
      // shredding shadows record min/max beside the statsCols — same
      // footer pass, same commit-log slots, same pruning machinery
      val cols = config.statsCols ++ config.shredSpecs.map(_.name)
      val strs = paths.map(_.toString)
      sc.parallelize(strs, math.max(1, math.min(strs.size, sc.defaultParallelism)))
        .map(s => s -> fileStats(new Path(s), conf.value, cols))
        .collect().toMap
    }

  private def listParquet(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    val it = fs.listFiles(dir, true)
    val buf = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += (f.getPath -> f.getLen)
    }
    buf.result()
  }
}

/** Java-serializable Hadoop Configuration carrier for task closures
  * (Configuration itself is Writable but not Serializable). Spark's own
  * org.apache.spark.util.SerializableConfiguration is private[spark].
  */
private[graft] final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object LakeTable {
  /** Spark's directory name for a null partition value. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** footer stats of one written file: `_record_key` range, raw
    * per-column min/max for the table's statsCols, and the footer row
    * count (0 = unreadable footer) */
  private[lake] final case class FileStats(
      kmin: String, kmax: String,
      cmin: Map[String, String], cmax: Map[String, String],
      rows: Long)

  /** Footer statistics from one parquet file — a metadata read of the
    * row-group stats, runnable inside an executor task. Row-group chunks
    * merge through parquet's own typed comparators; values are rendered
    * to strings for the JSON commit log (re-typed at prune time from the
    * table schema). A column with absent/unreadable stats (or INT96,
    * whose stats are deprecated-unreliable) is simply omitted, which
    * exempts it from pruning (conservative, never wrong).
    */
  private[lake] def fileStats(
      p: Path, hconf: org.apache.hadoop.conf.Configuration,
      statsCols: Seq[String]): FileStats =
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val chunks = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala).toSeq
        // timestamps normalize to MICROS — Spark's internal unit, the
        // domain prune-time literals evaluate in. A MILLIS/NANOS footer
        // compared raw against a micros literal would prune every file.
        def tsScale(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
          : Option[Long] =
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation
                     .TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case org.apache.parquet.schema.LogicalTypeAnnotation
                       .TimeUnit.MILLIS => Some(1000L)
                case org.apache.parquet.schema.LogicalTypeAnnotation
                       .TimeUnit.MICROS => Some(1L)
                case _ => None // NANOS: truncation would widen unsafely
              }
            case _ => Some(1L) // not a timestamp: no scaling
          }
        def render(v: Any, scale: Long): String = v match {
          case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
          case n: java.lang.Long if scale != 1L => String.valueOf(n * scale)
          case o => String.valueOf(o)
        }
        // merged (min, max) across row groups via parquet's typed
        // comparator — never Java String order on numeric columns
        def merged(name: String): Option[(String, String)] = {
          val cols = chunks.filter(_.getPath.toDotString == name)
          val stats = cols.map(_.getStatistics)
          if (cols.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue) ||
              cols.exists(_.getPrimitiveType.getPrimitiveTypeName ==
                PrimitiveTypeName.INT96))
            None
          else tsScale(cols.head).map { scale =>
            val acc = stats.head.copy()
            stats.tail.foreach(acc.mergeStatistics)
            (render(acc.genericGetMin, scale), render(acc.genericGetMax, scale))
          }
        }
        val (kmin, kmax) = merged("_record_key").getOrElse((null, null))
        val colRanges = statsCols.flatMap(c => merged(c).map(c -> _)).toMap
        FileStats(kmin, kmax,
          colRanges.map { case (c, (mn, _)) => c -> mn },
          colRanges.map { case (c, (_, mx)) => c -> mx },
          r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      } finally r.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        FileStats(null, null, Map.empty, Map.empty, 0L)
    }

  /** Load a data file's `_record_key` bloom sidecar
    * (`.<datafile>.bf`, written by buildKeyBlooms). None on a missing or
    * unreadable sidecar — the caller must treat None as "may contain"
    * (conservative, never a wrong prune). Runnable inside executor
    * tasks: takes an explicit Configuration, touches no session state.
    */
  private[lake] def readBloomSidecar(
      dataPath: String, conf: org.apache.hadoop.conf.Configuration)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val dp = new Path(dataPath)
      val sp = new Path(dp.getParent, "." + dp.getName + ".bf")
      val fs = LocalFs.of(sp, conf)
      if (!fs.exists(sp)) None
      else {
        val is = fs.open(sp)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(is))
        finally is.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Load one column's value bloom from a data file's `.bfm` sidecar
    * (written by buildBlooms for LakeTableConfig.bloomCols). None on a
    * missing/unreadable sidecar or an unlisted column — the caller must
    * treat None as "may contain" (conservative, never a wrong prune).
    */
  private[lake] def readColBloomSidecar(
      dataPath: String, column: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    try {
      val dp = new Path(dataPath)
      val sp = new Path(dp.getParent, "." + dp.getName + ".bfm")
      val fs = LocalFs.of(sp, conf)
      if (!fs.exists(sp)) None
      else {
        val dis = new java.io.DataInputStream(fs.open(sp))
        try {
          val cnt = dis.readInt()
          var i = 0
          var found: Option[org.apache.spark.util.sketch.BloomFilter] = None
          while (i < cnt && found.isEmpty) {
            val name = dis.readUTF()
            val len = dis.readInt()
            val bytes = new Array[Byte](len)
            dis.readFully(bytes)
            if (name == column)
              found = Some(org.apache.spark.util.sketch.BloomFilter
                .readFrom(new java.io.ByteArrayInputStream(bytes)))
            i += 1
          }
          found
        } finally dis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** THE one encoding of "this row violates the CHECK" (ANSI NULL
    * passes): fail mode, drop-mode admission, and the catalog's
    * add-constraint validation must all agree on it — a drifted copy
    * would make the three surfaces disagree on which rows violate. */
  private[graft] def checkViolates(predSql: String)
      : org.apache.spark.sql.Column =
    !coalesce(expr(predSql), lit(true))

  /** unsigned lexicographic comparison of the UTF-8 encodings — matches
    * UTF8String/parquet binary order */
  private[lake] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** derived key-hash bucket column (hashBuckets > 0) */
  val BucketCol = "_bucket"

  /** commit ops that leave the table in a delta-bearing (uncompacted)
    * state — counted by inline compaction and excluded from the base
    * (plain-parquet-readable) schema resolution */
  val DeltaOps: Set[String] = Set("delta_commit", "delete_delta", "delta_compact")

  /** commit ops that rewrite data with NO logical change (maintenance):
    * change feeds and tails skip them — by the maintenance-invariance
    * laws their diff is empty */
  val PhysicalOps: Set[String] = Set("compact", "delta_compact", "recluster",
    "dv_fold")

  /** separator joining multi-level partition tuples in FileAdd.partition */
  val PartSep = "\u0001"

  def apply(spark: SparkSession, config: LakeTableConfig): LakeTable =
    new LakeTable(spark, config)
}
