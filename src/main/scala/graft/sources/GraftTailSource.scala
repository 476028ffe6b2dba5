package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.StreamingBridge
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable

/** Commit-log-driven streaming tail of a lake table — the Delta design
  * (the transaction log IS the stream source) instead of a file glob.
  * Offsets are commit ids; a micro-batch covers the commits in
  * `(start, end]`, addressed directly by id out of the commit log. On a
  * MoR table the batch is exactly the commits' change-delta files; on a
  * CoW table each commit's changes are DERIVED from its adds/removes
  * ([[cowBatchFrame]]) — the reference's own table type is CoW
  * (glue/HudiJarGlueJob.py:77), so this is the tail a reference user
  * hits first.
  *
  * Why not the built-in file stream source over `data/d*` (the previous
  * design): that source re-lists the ENTIRE delta directory tree every
  * trigger and tracks every file ever seen in its own map, so per-trigger
  * cost grows with the table's whole history — O(all commits ever). This
  * is the exact failure mode that led Delta to read its log as the
  * source. Here each trigger costs:
  *   - `getOffset`: one flat `listStatus` of `_log/` (small JSON files;
  *     the same metadata read every snapshot resolution already does) —
  *     no data-tree listing, ever;
  *   - `getBatch`: O(end − start) commit-JSON reads, memoized forever,
  *     addressed by id — no listing at all.
  *
  * Semantics match the glob exactly (spec-pinned): only change-log delta
  * directories (`data/d…`) are emitted — compaction rewrites (`c…`) and
  * small-file maintenance rewrites (`m…`) are physical reorganizations,
  * not logical changes, and emitting them would duplicate rows the tail
  * already delivered. Rows carry `_seq` and `_deleted` tombstones;
  * consumers apply precombine/tombstone handling as their sink requires.
  *
  * Exactly-once: offsets are checkpointed by the streaming engine; commit
  * JSONs are immutable per id and rollback never reuses ids (retired-id
  * markers), so a replayed `(start, end]` range always resolves the same
  * files. A rollback PAST a checkpointed offset abandons tailed commits —
  * same contract as Delta (history rewrites invalidate downstream
  * streams).
  */
final class GraftTailSource(
    ctx: SQLContext, table: LakeTable, override val schema: StructType,
    maxCommitsPerTrigger: Option[Int] = None,
    /** first commit a FRESH stream includes (Delta's startingVersion
      * role, inclusive): skip the historical backlog and tail from a
      * known point. Ignored once a checkpoint exists — the engine then
      * supplies the start offset. */
    startingCommit: Option[Long] = None,
    /** the engine-provided per-source checkpoint dir (createSource's
      * metadataPath) — backs the high-water metadata log that keeps
      * `maxCommitsPerTrigger` effective ACROSS RESTARTS; None (direct
      * construction in specs) falls back to in-memory anchoring only */
    metadataPath: Option[String] = None,
    /** Delta CDF-typed rows: `_change_type` = insert / update_preimage /
      * update_postimage / delete. CoW commits classify from their own
      * adds/removes; MoR delta commits classify from two BOUNDED merged
      * probes of the touched keys (pre/post state — see
      * [[morTypedBatchFrame]]). The schema must then be the table's
      * [[graft.lake.LakeTable.changeFeedSchema]]. */
    changeTypes: Boolean = false)
  extends Source with SupportsTriggerAvailableNow {

  /** change-log delta dir component (`LakeTable.dataDir`: `d<%08d id>-<hex
    * nonce>`); matching on the full shape keeps a partition VALUE that
    * happens to start with "d" from ever confusing the classifier */
  private val ChangeDir = ".*/data/d\\d{8,}-[0-9a-f]+/.*".r

  /** ops that can make a key disappear — only these pay the tombstone
    * anti-join; plain upserts never remove keys */
  private val DeleteCapableOps = Set("delete", "insert_overwrite", "merge")

  private def offLong(o: OffsetV1): Long = o.json.trim.toLong

  /** Commits at or below the clean cutoff had their REMOVES physically
    * swept (clean() deletes files superseded at-or-before the cutoff),
    * so every branch that must READ `c.removes` fails loud here — the
    * documented restart message — instead of FileNotFound mid-job.
    * Branches reading only adds (untyped upsert diffs) stay valid at
    * exactly the cutoff, which the batch-level `>=` guard admits
    * (spec-pinned: "a tail starting at the horizon still works"). */
  private def requireRemovesReadable(c: graft.lake.Commit, what: String): Unit =
    require(c.id > table.log.cleanedUpTo,
      s"streaming tail fell behind the cleaner horizon: commit ${c.id}'s " +
        s"$what were physically deleted (cleaned up to " +
        s"${table.log.cleanedUpTo}) — restart the stream from a fresh snapshot")

  /** Admission control (Delta's maxFilesPerTrigger role): with
    * `maxCommitsPerTrigger` set, a catch-up backlog splits into batches
    * of at most N commits instead of one giant micro-batch — bounding
    * per-trigger plan size (the CoW diff plans per commit) and state.
    * The cap anchors on the highest offset THIS run already handed to
    * getBatch: that floor is always ≥ the committed offset, so a capped
    * getOffset can never regress the checkpoint. The first trigger
    * after a (re)start has no anchor yet and stays uncapped — the V1
    * Source API offers nothing safe to anchor on before the engine
    * reveals its start offset (any synthetic floor could offer an end
    * BELOW the checkpoint and regress it).
    *
    * With a [[metadataPath]] (every engine-created stream) the anchor
    * survives restarts via the high-water metadata log, so the first
    * post-restart offer is capped too (spec-pinned in TailSourceSpec
    * "restart under a backlog"); the seeded anchor is always ≥ the
    * committed offset (it is the max end ever handed to getBatch, and
    * the engine WALs an offset before running its batch), so the capped
    * offer can never regress the checkpoint. Only a source built
    * WITHOUT a metadata path (spec harnesses) retains the one uncapped
    * catch-up batch, whose bound still holds: it spans exactly the
    * restart backlog — driver cost is the per-commit diff PLAN fan-out,
    * O(backlog commits), while row data streams through executors as
    * ordinary bounded scans; nothing data-sized accumulates on the driver. The
    * window is one trigger wide: getBatch anchors the high-water mark,
    * so the very next offer is capped again.
    *
    * ACROSS RESTARTS the anchor comes from the source's own metadata
    * log (below): the checkpointed [[metadataPath]] records the highest
    * end offset ever handed to getBatch, so a restarted stream seeds
    * its anchor from disk and the FIRST post-restart offer is already
    * capped — a month-long outage on a busy table catches up in
    * cap-sized micro-batches, never one giant plan. This is the
    * mechanism Spark's own FileStreamSource uses for source-private
    * restart state (its HDFSMetadataLog under the same path), and it
    * closes the r9-documented first-trigger gap within V1.
    *
    * Why not the DSv2 MicroBatchStream API (whose
    * `latestOffset(start, limit)` receives the start offset natively —
    * evaluated for r11 and rejected): DSv2 streaming reads must emit
    * rows through InputPartition/PartitionReader factories, i.e. the
    * source itself produces row iterators per partition. This tail's
    * micro-batches are DERIVED QUERY PLANS — per-commit metadata-column
    * filters, schema-evolution projections, and (CoW) tombstone
    * left-anti JOINS — which have no PartitionReader form short of
    * reimplementing parquet scan + distributed join inside the source.
    * Delta's streaming source stays on this same V1 Source API for the
    * same reason; the V1 contract (a batch is a DataFrame) is the right
    * surface for log-derived change streams, and the one capability
    * DSv2 would have added is recovered by the metadata log. */
  @volatile private var highWater: Long = Long.MinValue

  // ---- high-water metadata log ----------------------------------------
  // One empty marker file per anchored end offset, named by the id
  // (zero-padded so lexical = numeric order) — the HDFSMetadataLog
  // batch-file shape without the ser/de: creation is atomic-or-exists,
  // readers take the max name, stale entries are pruned best-effort.
  //
  // The anchor is a CORRECTNESS INVARIANT, not an optimization: a
  // seeded anchor BELOW the engine's committed offset would make a
  // capped getOffset offer an end below the checkpoint — the engine
  // would run a backwards batch, regress the checkpoint, and re-emit
  // committed commits into an append sink. Two rules keep the invariant
  // "anchor ≥ committed" across any restart:
  //   1. persist on EVERY getBatch advance, capped or not — the engine
  //      commits a batch only AFTER getBatch ran (WAL → getBatch →
  //      sink commit), so a marker for that end exists before the
  //      commit can; a later capped restart (cap toggled on between
  //      runs) still seeds ≥ committed.
  //   2. a marker-write failure FAILS the batch (the IOException
  //      propagates out of getBatch) instead of being swallowed — a
  //      batch that committed past a silently-unpersisted anchor is
  //      exactly the stale-marker restart hazard.
  // Steady-state cost is one create + one targeted delete per advancing
  // trigger (the previous marker's path is remembered in memory; a full
  // listStatus sweep runs only on the first persist of a run).

  private lazy val hadoopConf = ctx.sparkSession.sessionState.newHadoopConf()

  private def hwDir: Option[org.apache.hadoop.fs.Path] =
    metadataPath.map(p => new org.apache.hadoop.fs.Path(p, "graft-highwater"))

  @volatile private var lastMarker: Option[org.apache.hadoop.fs.Path] = None
  @volatile private var dirEnsured = false

  /** seed the anchor from the newest marker; called once at construction
    * so a restarted instance caps its very first offer */
  locally {
    hwDir.foreach { dir =>
      val fs = dir.getFileSystem(hadoopConf)
      if (fs.exists(dir)) {
        val named = fs.listStatus(dir).toSeq
          .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption
            .map(_ -> s.getPath))
        if (named.nonEmpty) {
          val (id, p) = named.maxBy(_._1)
          highWater = id
          lastMarker = Some(p)
        }
      }
    }
  }

  private def persistHighWater(id: Long): Unit = hwDir.foreach { dir =>
    val fs = dir.getFileSystem(hadoopConf)
    val f = new org.apache.hadoop.fs.Path(dir, f"$id%020d")
    if (!dirEnsured) { fs.mkdirs(dir); dirEnsured = true }
    fs.createNewFile(f) // atomic create-or-exists; THROWS on real failure
    val prev = lastMarker
    lastMarker = Some(f)
    // pruning IS best-effort: a leftover marker can only be BELOW the
    // newest (ids only grow), and seeding takes the max
    try prev match {
      case Some(p) if p != f => fs.delete(p, false); ()
      case None => // first persist ever for this checkpoint: sweep
        fs.listStatus(dir).foreach { s =>
          if (scala.util.Try(s.getPath.getName.toLong).toOption.exists(_ < id))
            fs.delete(s.getPath, false)
        }
      case _ => ()
    } catch { case _: java.io.IOException => () }
  }

  // ---- Trigger.AvailableNow + admission control -------------------------
  // Implementing SupportsAdmissionControl routes the engine through
  // latestOffset(start, limit) instead of getOffset — with the committed
  // START offset supplied natively, so even the first post-restart offer
  // is capped without the metadata-log seeding dance (the log stays: it
  // still guards truncation detection and direct-construction specs).
  // SupportsTriggerAvailableNow adds the bounded-backfill contract: the
  // head commit is PINNED at query start, the stream drains to it in
  // cap-sized micro-batches (admission limits apply, unlike the
  // deprecated Trigger.Once), ignores commits landing after the pin, and
  // terminates — Delta's availableNow behavior on its own log.

  /** head commit pinned by [[prepareForTriggerAvailableNow]]; MinValue
    * sentinel = the table had no tailable commits at prepare (the run
    * must drain nothing and stop) */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(table.log.tailableHead.getOrElse(Long.MinValue))
  }

  /** commits-per-trigger cap, carried as maxFiles (a commit is the tail's
    * admission unit the way a file is the file source's) */
  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): OffsetV2 =
    table.log.tailableHead.map(LongOffset(_)).orNull

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset)
      .map(_.json.trim.toLong).getOrElse(Long.MinValue)
    val anchor = math.max(highWater, start)
    val live = table.log.tailableHead
    // truncation guard — same contract as getOffset: a LIVE head below
    // what this stream already tailed means REPLACE/restore; idle.
    if (anchor != Long.MinValue && live.exists(_ < anchor)) return null
    val head = availableNowCap match {
      case Some(cap) => live.map(math.min(_, cap))
      case None => live
    }
    head.filter(_ != Long.MinValue) match {
      case None => if (start != Long.MinValue) LongOffset(start) else null
      case Some(latest) =>
        val end = limit match {
          case f: ReadMaxFiles if anchor != Long.MinValue =>
            math.min(latest, anchor + f.maxFiles())
          case _: ReadAllAvailable => latest
          case _ => latest
        }
        LongOffset(if (anchor == Long.MinValue) end else math.max(end, anchor))
    }
  }

  override def getOffset: Option[OffsetV1] =
    // tailableHead, not latestId: an undecided transaction commit caps
    // the stream (it will materialize at ITS id — advancing past it
    // would make the tail skip it forever). The stream idles until the
    // transaction decides; commit ids stay strictly in served order.
    table.log.tailableHead.flatMap { latest =>
      // a head BELOW what this stream already tailed means the timeline
      // was truncated under it (REPLACE TABLE / restore) — offering it
      // would make the engine run a "catch-down" batch that REGRESSES
      // the checkpoint and silently re-emits the new timeline into the
      // old sink. Offer nothing instead: the stream idles (a rollback
      // followed by new commits resumes it once the head passes the
      // high-water mark again; retired ids are skipped as always), and
      // a genuinely replaced table needs a fresh stream + checkpoint —
      // the same history-rewrite contract as comparable lakehouses.
      if (highWater != Long.MinValue && latest < highWater) None
      else Some(LongOffset(maxCommitsPerTrigger match {
        case Some(n) if highWater != Long.MinValue =>
          math.min(latest, highWater + n)
        case _ => latest
      }))
    }

  /** the micro-batch for commits `(from, to]` as a plain batch frame —
    * getBatch re-roots it as streaming; specs read it directly */
  private[graft] def batchFrame(from: Long, to: Long): DataFrame =
    if (!table.config.isMor) cowBatchFrame(from, to)
    else if (changeTypes) morTypedBatchFrame(from, to)
    else morBatchFrame(from, to)

  /** Copy-on-Write change tail: CoW commits REWRITE files, so the change
    * rows are derived per commit from its adds/removes — the shape real
    * Hudi uses to serve incremental queries on CoW (the reference's own
    * table type, glue/HudiJarGlueJob.py:77 default COPY_ON_WRITE).
    *
    *   - changed/new rows: rows of the commit's added files stamped with
    *     the commit's own `_commit_id`. Rewrites preserve the provenance
    *     id of untouched rows (upsert's max_by keeps the winning row's
    *     stamp; merge chains pass-through ids explicitly), so the filter
    *     is exact — no diff shuffle at all, just a codegen'd metadata-
    *     column predicate over O(commit's files).
    *   - tombstones: for delete-capable ops only, removed-file rows
    *     whose dedup identity ([[graft.lake.LakeTable.dedupCols]]) is
    *     absent from the added files — a
    *     left-anti join bounded by the commit's touched files, emitted
    *     with `_deleted` = true (the same contract as the MoR tail's
    *     delete deltas). Upserts/bulk loads never remove keys and skip
    *     the join entirely.
    *
    * Semantics vs the MoR tail: identical on effective changes; the one
    * deliberate divergence is a STALE upsert (incoming row loses the
    * precombine merge) — MoR emits the raw ingested row, CoW emits
    * nothing because the table did not change. Removed files stay
    * readable until [[graft.lake.LakeTable.clean]]; a tail lagging past
    * the cleaner horizon fails loud on the missing file, the same
    * contract as time travel below the horizon. */
  /** Incremental path → (add, add-commit schema) index for the CoW
    * diff: a removed file's schema and recorded length are its ADD
    * commit's, which can lie anywhere below the batch. Seeded ONCE from
    * the timeline up to the first batch, then grown per batch from the batch's own commits — so the
    * per-trigger driver work is O(new commits), never a re-fold of the
    * whole add history (the growth-with-AGE failure the commit log
    * exists to avoid; commit JSON reads are already memoized, this
    * bounds the CPU fold too). `indexedUpTo` is spec-observable. */
  private val pathIdx =
    scala.collection.mutable.HashMap.empty[String, (graft.lake.FileAdd, String)]
  private def schemaOf(path: String): Option[String] = pathIdx.get(path).map(_._2)
  private def addOf(path: String): graft.lake.FileAdd =
    pathIdx.get(path).fold(graft.lake.FileAdd(path, ""))(_._1)
  private[graft] var indexedFoldedCommits: Long = 0L
  private var indexedUpTo: Long = Long.MinValue
  private def ensureIndexed(upTo: Long): Unit =
    if (upTo > indexedUpTo) {
      table.log.commits
        .filter(c => c.id > indexedUpTo && c.id <= upTo)
        .foreach { c =>
          indexedFoldedCommits += 1
          c.adds.foreach(a => pathIdx(a.path) = (a, c.schemaJson))
        }
      indexedUpTo = upTo
    }

  private def cowBatchFrame(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // the diff reads files the range's commits REWROTE — physically
    // deleted once the cleaner passes them. Fail the batch up front with
    // the time-travel contract's message, not a FileNotFound mid-job.
    require(from + 1 >= table.log.cleanedUpTo,
      s"streaming tail fell behind the cleaner horizon " +
        s"(commit ${from + 1} < retained ${table.log.cleanedUpTo}): " +
        "rewritten files it must diff were physically deleted — " +
        "restart the stream from a fresh snapshot")
    ensureIndexed(to)
    // per-commit row identity: the table's dedup columns, matched
    // null-safe (a null partition value is one partition, not none)
    val idCols = table.dedupCols
    def quoted(n: String) = col("`" + n + "`")
    def keyed(df: DataFrame): DataFrame =
      idCols.foldLeft(df)((acc, n) => acc.withColumnRenamed(n, s"_k_$n"))
    val sameKey = idCols.map(n => quoted(s"_k_$n") <=> quoted(n)).reduce(_ && _)
    val frames = table.log.commitsInRange(from, to)
      .filterNot(c => LakeTable.PhysicalOps.contains(c.op))
      .flatMap { c =>
        if (c.op == "dv_delete") {
          // deletion-vector commit: the logical change is exactly the
          // tombstoned rows — target files' rows at the DV'd positions
          ensureIndexed(to)
          val dead = table.dvDeletedRows(
              c.adds.filter(_.isDv), schema, schemaOf, addOf)
            .withColumn("_deleted", lit(true))
          Seq(if (changeTypes)
            dead.withColumn("_change_type", lit("delete")) else dead)
        } else if (c.op == "dv_update" && changeTypes) {
          // position update: preimages are the DV'd rows, postimages the
          // commit's own adds (the untyped path needs no branch — the
          // generic adds read already emits exactly the new versions)
          ensureIndexed(to)
          val proj = schema.fieldNames.map(n => col("`" + n + "`")).toSeq
          val pre = table.dvDeletedRows(
              c.adds.filter(_.isDv), schema, schemaOf, addOf)
            .withColumn("_deleted", lit(false))
            .withColumn("_change_type", lit("update_preimage"))
          val post = table.readTimelineFiles(
              c.adds.filterNot(a => a.isDelta || a.isDv),
              schema, _ => Some(c.schemaJson))
            .filter(col("_commit_id") === c.id)
            .withColumn("_deleted", lit(false))
            .withColumn("_change_type", lit("update_postimage"))
          Seq(pre.select(proj: _*), post.select(proj: _*))
        } else {
        val adds = c.adds.filterNot(a => a.isDelta || a.isDv)
        // adds need no index probe: their schema IS this commit's
        def readAdds() = table.readTimelineFiles(
          adds, schema, _ => Some(c.schemaJson))
        def readOld() = { requireRemovesReadable(c, "rewritten files")
          table.readTimelineFiles(c.removes.map(addOf), schema, schemaOf) }
        val proj = schema.fieldNames.map(n => col("`" + n + "`")).toSeq
        if (changeTypes && adds.nonEmpty && c.removes.nonEmpty) {
          // FUSED typed classification (r18): the pre-fusion shape
          // derived post-side, pre-side and tombstones as three joins
          // over FIVE separate read legs of the same commit's files
          // (stamped adds ×3, rewritten olds ×2 — Catalyst shares no
          // subtree across them). One aggregate over the adds + one
          // full-outer join against the olds yields every type:
          //   old row + stamped add     → update_preimage + update_postimage
          //   no old row + stamped add  → insert
          //   old row + NO adds row     → delete (delete-capable ops only)
          //   old row + unstamped add   → nothing (untouched rewrite)
          // A "key" is the table's dedup identity (LakeTable.dedupCols):
          // (partition columns, key) on a partition-scoped table, where
          // one key value may live in several partitions, and the key
          // alone under a global index; partition values compare
          // null-safe. The per-key aggregate is sound on CoW: a commit's
          // rewritten files hold at most ONE live row per key (the
          // precombine merge's invariant), so max_by(payload, stamped)
          // is "the" stamped row, and count(*) > 0 marks the key as
          // present in the adds (the tombstone anti-join's old contract,
          // which deliberately counted UNSTAMPED rewrites as presence).
          // The aggregate counts stamped rows and fails the batch when a
          // key has two, rather than let one win arbitrarily. max_by
          // orders only the marker: Spark cannot order a payload struct
          // holding a map column (INVALID_ORDERING_TYPE).
          val payloadFields = schema.fields
            .filterNot(f => f.name == "_deleted" || f.name == "_change_type")
          def packed(df: DataFrame): org.apache.spark.sql.Column = {
            val cols = df.columns.toSet
            org.apache.spark.sql.functions.struct(payloadFields.map { f =>
              if (cols.contains(f.name)) col("`" + f.name + "`").as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }.toSeq: _*)
          }
          def unpack(side: org.apache.spark.sql.Column, deleted: Boolean,
              ctype: String): org.apache.spark.sql.Column =
            org.apache.spark.sql.functions.struct(schema.fields.map { f =>
              if (f.name == "_deleted") lit(deleted).as(f.name)
              else if (f.name == "_change_type") lit(ctype).as(f.name)
              else side.getField(f.name).as(f.name)
            }.toSeq: _*)
          import org.apache.spark.sql.functions.{array, concat, count, explode,
            max_by, raise_error, when}
          val addRows = readAdds()
          val stamped = when(col("_commit_id") === c.id, lit(1))
          val aggAdds = addRows.groupBy(idCols.map(quoted) :+ col("_record_key"): _*)
            .agg(when(count(stamped) > 1, raise_error(concat(
                lit(s"commit ${c.id} rewrote more than one row stamped " +
                  "with it for key "), col("_record_key"))))
              .otherwise(max_by(packed(addRows), stamped)).as("_post"),
            count(lit(1)).as("_n_any"))
          val olds = readOld()
          val byKey = keyed(olds.select(idCols.map(quoted) :+
              packed(olds).as("_pre"): _*))
            .join(aggAdds, sameKey, "full_outer")
          val deleteCapable = DeleteCapableOps.contains(c.op)
          Seq(byKey.select(explode(
              when(col("_pre").isNull && col("_post").isNotNull,
                array(unpack(col("_post"), deleted = false, "insert")))
              .when(col("_pre").isNotNull && col("_post").isNotNull,
                array(unpack(col("_pre"), deleted = false, "update_preimage"),
                  unpack(col("_post"), deleted = false, "update_postimage")))
              .when(col("_pre").isNotNull && col("_n_any").isNull &&
                  lit(deleteCapable),
                array(unpack(col("_pre"), deleted = true, "delete")))
              .otherwise(lit(null))).as("_r"))
            .select(schema.fieldNames.map(n => col("_r.`" + n + "`")).toSeq: _*))
        } else {
        val changed =
          if (adds.isEmpty) None
          else if (!changeTypes) Some(readAdds()
            .filter(col("_commit_id") === c.id)
            .withColumn("_deleted", lit(false)))
          else {
            // typed post-side, removes-free commit: every stamped add is
            // an insert (no prior rows existed)
            val stamped = readAdds().filter(col("_commit_id") === c.id)
            Some(stamped.withColumn("_change_type", lit("insert"))
              .select(proj: _*).withColumn("_deleted", lit(false)))
          }
        val tombstones =
          if (c.removes.isEmpty || !DeleteCapableOps.contains(c.op)) None
          else {
            val oldRows = readOld()
            // adds.isEmpty here whenever changeTypes (the fused branch
            // owns adds+removes); untyped commits take the anti-join
            val newKeys =
              if (adds.isEmpty) None
              else Some(readAdds().select(idCols.map(quoted): _*).distinct())
            val t = newKeys.fold(oldRows)(k =>
                oldRows.join(keyed(k), sameKey, "left_anti"))
              .select(proj: _*)
              .withColumn("_deleted", lit(true))
            Some(if (changeTypes)
              t.withColumn("_change_type", lit("delete")) else t)
          }
        changed.toSeq ++ tombstones
        }
        }
      }
    if (frames.isEmpty)
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[Row], schema)
    else frames.reduce(_.unionByName(_))
  }

  /** Merge-on-Read change tail: delta commits ARE the change log. */
  private def morBatchFrame(from: Long, to: Long): DataFrame = {
    // group the batch's files by the schema their commit recorded and
    // conform each group to the STREAM schema by column id
    // (SchemaEvo.adaptToStream): a rename mid-stream aliases
    // transparently, pre-evolution files null-backfill/upcast, and
    // evolution the fixed stream schema cannot represent (a column
    // added or widened past it after start) FAILS the stream for a
    // restart — the Delta contract — instead of silently nulling data
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[graft.lake.FileAdd]]
    table.log.commitsInRange(from, to).foreach { c =>
      c.adds.filter(a => a.isDelta && ChangeDir.matches(a.path))
        .foreach(a => groups.getOrElseUpdate(c.schemaJson,
          new scala.collection.mutable.ArrayBuffer[graft.lake.FileAdd]) += a)
    }
    // a METADATA-ONLY partition drop (LakeTable.deleteWhere's fast path)
    // commits file removals with NO delta add — invisible to the
    // delta-driven tail above, so its deletes must be DERIVED here or
    // incremental consumers silently miss them. Emit one NULL-payload
    // tombstone per distinct (key, partition) of the dropped files (the
    // MoR delta-tombstone shape); base+delta versions of a key collapse,
    // and a key already tombstoned in the dropped partition re-emits —
    // idempotent for any delete-applying consumer.
    import org.apache.spark.sql.functions.{col, lit}
    val dropTombs = table.log.commitsInRange(from, to)
      .filter(c => c.op == "delete" && c.removes.nonEmpty &&
        !c.adds.exists(a => a.isDelta && ChangeDir.matches(a.path)))
      .map { c =>
        ensureIndexed(to)
        requireRemovesReadable(c, "dropped partition files")
        val idCols = (table.config.keyCols ++ table.config.partitionCols)
          .distinct :+ "_record_key"
        val keys = table.readTimelineFiles(c.removes.map(addOf), schema, schemaOf)
          .select(idCols.map(n => col("`" + n + "`")): _*).distinct()
        keys.select(schema.fields.map { f =>
          if (f.name == "_deleted") lit(true).as(f.name)
          else if (idCols.contains(f.name)) col("`" + f.name + "`")
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    val frames = groups.toSeq.map { case (j, files) =>
      // memoized parse: commit JSONs are immutable and repeat across
      // triggers — a continuously-running stream must not re-parse
      // the same schema every micro-batch
      val fileSchema = table.parseSchema(j)
      graft.lake.SchemaEvo.adaptToStream(
        graft.lake.LogFileIndex.scan(ctx.sparkSession, files.toSeq, fileSchema),
        fileSchema, schema)
    } ++ dropTombs
    if (frames.isEmpty)
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[Row], schema)
    else frames.reduce(_ unionByName _)
  }

  /** Typed (Delta-CDF) classification of the MoR change log: for each
    * DELTA commit, the touched keys' merged state just before vs just
    * after the commit decides the type —
    *
    *  - no prior live row, post row exists → `insert`
    *  - prior live row, post winner stamped by THIS commit →
    *    `update_preimage` (prior values) + `update_postimage`
    *  - prior live row, no post row → `delete` (prior values,
    *    `_deleted` = true)
    *  - a stale delta row (loses the precombine merge) changes nothing
    *    and emits nothing — the same deliberate divergence the CoW
    *    typed tail documents
    *
    * Scope matches the untyped MoR tail: delta commits plus
    * metadata-only partition drops; seeding base loads and physical
    * maintenance are not changes. Cost: one merged probe per run of
    * delta commits, key-range-pruned to the touched keys' file groups
    * ([[graft.lake.LakeTable.mergedPrePostPivotMulti]]) — read-time only, zero
    * write-path change files, bounded by the batch's keys, never the
    * table. Pre-state = the commit's snapshot MINUS its own adds (delta
    * commits remove nothing, so that IS the prior live set).
    */
  private def morTypedBatchFrame(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, first, lit, struct, when}
    require(from + 1 >= table.log.cleanedUpTo,
      s"streaming tail fell behind the cleaner horizon " +
        s"(commit ${from + 1} < retained ${table.log.cleanedUpTo}): " +
        "prior-state files it must classify against were physically " +
        "deleted — restart the stream from a fresh snapshot")
    // payload fields (everything but the per-row-type columns), packed
    // into one struct per side so the classification is ONE full-outer
    // join + explode per commit — a per-type join fan-out re-ran the
    // whole merged probe once per output type (measured 5x the cost)
    val payloadFields = schema.fields
      .filterNot(f => f.name == "_deleted" || f.name == "_change_type")
    def packed(df: DataFrame): org.apache.spark.sql.Column = {
      val cols = df.columns.toSet
      struct(payloadFields.map { f =>
        if (cols.contains(f.name)) col("`" + f.name + "`").as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    }
    def unpack(side: org.apache.spark.sql.Column, deleted: Boolean,
        ctype: String): org.apache.spark.sql.Column =
      struct(schema.fields.map { f =>
        if (f.name == "_deleted") lit(deleted).as(f.name)
        else if (f.name == "_change_type") lit(ctype).as(f.name)
        else side.getField(f.name).as(f.name)
      }.toSeq: _*)
    // classification emission: byKey rows carry
    // (_record_key, _commit, _p, _p_cid, _q)
    def typedChanges(byKey: DataFrame): DataFrame = byKey
      .select(explode(
        when(col("_q").isNull,
          array(unpack(col("_p"), deleted = false, "insert")))
        .when(col("_p").isNull,
          array(unpack(col("_q"), deleted = true, "delete")))
        .when(col("_p_cid") === col("_commit"),
          array(unpack(col("_q"), deleted = false, "update_preimage"),
            unpack(col("_p"), deleted = false, "update_postimage")))
        // stale delta: the table did not change — emit nothing
        .otherwise(lit(null))).as("_r"))
      .select(schema.fieldNames.map(n => col("_r.`" + n + "`")).toSeq: _*)
    def keysOf(c: graft.lake.Commit, deltas: Seq[graft.lake.FileAdd]): DataFrame = {
      val fileSchema = table.parseSchema(c.schemaJson)
      // no distinct: both consumers (range probe, semi join) tolerate
      // duplicate keys, and the delta batch is near-unique per key
      graft.lake.LogFileIndex.scan(ctx.sparkSession, deltas, fileSchema)
        .select(table.config.keyCols.map(n => col("`" + n + "`")): _*)
    }
    // Consecutive delta commits FUSE into one merged probe
    // (LakeTable.mergedPrePostPivotMulti): within a run where no commit
    // removes files or adds deletion vectors, live(cᵢ) is live(c_last)
    // restricted to `_commit_id <= cᵢ`, so one scan + one window chain
    // classifies every commit — a catch-up backlog stops re-reading the
    // same file groups once per commit. Any removal (compaction,
    // partition drop, clean sweep) or DV commit in the range breaks the
    // run; runs cap at 16 commits to bound plan width.
    // each run reads its files with the file → schema map of its OWN
    // last commit's snapshot (a file removed before the head has no
    // entry in the head's), adapted to the table's current schema (the
    // stream schema's names), resolved once per batch
    lazy val headSchema = table.log.snapshot().schemaJson
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val run = scala.collection.mutable.ArrayBuffer
      .empty[(graft.lake.Commit, Seq[graft.lake.FileAdd])]
    def flushRun(): Unit = {
      if (run.nonEmpty) {
        val keysByCommit = run.toSeq.map { case (c, ps) => c.id -> keysOf(c, ps) }
        val atLast = table.log.snapshot(Some(run.last._1.id))
        frames += typedChanges(table.mergedPrePostPivotMulti(atLast.files,
          keysByCommit, packed, atLast.copy(schemaJson = headSchema)))
        run.clear()
      }
    }
    table.log.commitsInRange(from, to).foreach { c =>
      val deltas = c.adds.filter(a => a.isDelta && ChangeDir.matches(a.path))
      val fuseSafe = c.removes.isEmpty && !c.adds.exists(_.isDv)
      // ANY removal or DV commit in the range — tailed or not (a
      // compaction between delta commits rewrites files the earlier
      // commits' live sets still need) — breaks the current run
      if (!fuseSafe) flushRun()
      if (deltas.nonEmpty && fuseSafe) {
        if (run.size >= 16) flushRun()
        run += ((c, deltas))
      } else if (deltas.nonEmpty) {
        // a delta commit that also removes/DVs: classify alone at ITS
        // live set (the pre-fusion per-commit shape)
        run += ((c, deltas))
        flushRun()
      } else if (c.op == "delete" && c.removes.nonEmpty) {
        // metadata-only partition drop: the same derived tombstones as
        // the untyped tail, typed `delete`
        ensureIndexed(to)
        requireRemovesReadable(c, "dropped partition files")
        val idCols = (table.config.keyCols ++ table.config.partitionCols)
          .distinct :+ "_record_key"
        val keys = table.readTimelineFiles(c.removes.map(addOf), schema, schemaOf)
          .select(idCols.map(n => col("`" + n + "`")): _*).distinct()
        frames += keys.select(schema.fields.map { f =>
          if (f.name == "_deleted") lit(true).as(f.name)
          else if (f.name == "_change_type") lit("delete").as(f.name)
          else if (idCols.contains(f.name)) col("`" + f.name + "`")
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    }
    flushRun()
    if (frames.isEmpty)
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[Row], schema)
    else frames.reduce(_.unionByName(_))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    if (offLong(end) > highWater) {
      highWater = offLong(end)
      persistHighWater(highWater)
    }
    // inclusive startingCommit → exclusive offset space: commit N first
    StreamingBridge.asStream(batchFrame(
      start.map(offLong).orElse(startingCommit.map(_ - 1)).getOrElse(-1L),
      offLong(end)))
  }

  override def stop(): Unit = ()
}
