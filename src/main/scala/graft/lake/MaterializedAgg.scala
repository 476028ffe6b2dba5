package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate over a [[LakeTable]] — the
  * materialized-view role (Hudi/Delta users hand-roll this with CDF;
  * here it is a first-class object): `count(*)` plus user sum
  * expressions per dimension tuple — and, since round 5, non-invertible
  * MIN/MAX measures — refreshed from timeline deltas instead of
  * recomputation.
  *
  * Maintenance math: for a refresh window (from, to],
  *   adds = rows of snapshot(to) ingested after `from` (post-images),
  *   subs = rows of snapshot(from) whose key was updated or deleted in
  *          the window (pre-images, found by a key semi-join),
  *   delta(dim) = agg(adds) - agg(subs),
  * applied to the aggregate as ONE multi-clause merge commit (update =
  * old + delta, insert = delta, delete when the count reaches zero).
  * Cost is O(changed keys + affected dimensions) — never a rescan of
  * the source — which is the entire point at 100 TB: a CDC trickle
  * refreshes a dashboard aggregate in seconds regardless of table
  * size.
  *
  * MIN/MAX (non-invertible — subtracting a retracted row can't undo a
  * min): the change feed names the AFFECTED dimension tuples, and those
  * tuples' min/max are recomputed from the new snapshot restricted to
  * exactly them — a broadcast semi-join probe (partition/stats pruning
  * engages when the dimensions align with the source's layout), never a
  * table-wide rescan, and dimensions outside the window are never
  * touched. Because a same-count update can still move a min, refresh
  * windows with min/max measures keep every affected dimension in the
  * merge instead of dropping zero-delta rows.
  *
  * Crash safety: the applied source commit is stamped into the refresh
  * commit's own metadata, so it publishes ATOMICALLY with the merge —
  * recovery reads it back from the aggregate's commit log. The marker
  * file is only a fast path; losing it to a crash can never regress
  * `applied`, even for a refresh that only deleted aggregate rows.
  *
  * The aggregate itself IS a LakeTable (keyed by the dimensions,
  * versioned by the applied source commit), so it inherits snapshot
  * isolation, time travel, and concurrency guards. NULL dimension
  * values are first-class: every join in the pipeline is null-safe.
  *
  * Exactness: supply INTEGER-VALUED sum expressions (scale decimals
  * first, e.g. `CAST(floor(x * 100) AS BIGINT)`) so incremental
  * add/subtract is exact; float sums would drift from a direct
  * aggregation by accumulation order. Min/max are order statistics —
  * exact for any type.
  */
final class MaterializedAgg(
    spark: SparkSession,
    source: LakeTable,
    aggRoot: String,
    dims: Seq[String],
    sums: Map[String, String],
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    /** name of the maintained row-count column (SQL MVs surface the
      * user's `count(*)` alias; the count always exists — it drives the
      * delete-on-zero rule) */
    countCol: String = "n_rows",
    /** optional row predicate from the MV definition's WHERE clause:
      * the aggregate maintains `agg(filter(source))` — every delta frame
      * is filtered BEFORE aggregation, so a row whose update moves it
      * across the predicate boundary retracts/contributes correctly
      * (its pre-image sits in subs filtered by the OLD values, its
      * post-image in adds filtered by the NEW ones) */
    filterSql: Option[String] = None,
    /** star-schema joins: each dim equi-joins the virtual source —
      * same-named keys (USING semantics; the key column appears once,
      * fact-valued) or differently-named `ON f.k = d.id` pairs (the dim
      * key survives only while referenced), INNER or LEFT OUTER
      * (null-extended dim columns). Maintenance stays incremental over
      * the FACT's change feed while every dim head is UNCHANGED since
      * the last refresh — fact deltas join the same dim rows their
      * originals did, so retraction math holds for every join type. A
      * moved dim invalidates that premise (old contributions joined old
      * dim rows and cannot be retracted against new ones), so the
      * refresh detects it via the per-dim commit stamp and runs a FULL
      * rebuild instead — dims change rarely by design, facts
      * constantly; the common refresh stays O(changed fact keys). */
    dimJoins: Seq[DimSide] = Seq.empty) {
  require(dims.nonEmpty, "need at least one dimension column")
  require((sums.keySet & mins.keySet).isEmpty &&
    (sums.keySet & maxs.keySet).isEmpty && (mins.keySet & maxs.keySet).isEmpty,
    "sum/min/max output column names must be disjoint")
  require(!(sums.keySet ++ mins.keySet ++ maxs.keySet ++ dims).contains(countCol),
    s"count column '$countCol' collides with a dimension or measure name")

  val table: LakeTable = LakeTable(spark, LakeTableConfig(
    aggRoot, keyCols = dims, precombineCol = "_src_commit"))

  private val mark = new Watermark(new Path(aggRoot, "_log"), "applied-",
    spark.sparkContext.hadoopConfiguration)

  /** commit-metadata key stamping the applied source commit ATOMICALLY
    * into each refresh's merge commit — the authoritative recovery
    * source. Row-level `max(_src_commit)` alone cannot see a refresh
    * that only DELETED aggregate rows; recovering from it would regress
    * `applied` and a widened replay window would net-negative fresh
    * inserts into the deleted dimension (they'd be filtered by the
    * `_d_n_rows > 0` insert guard and silently vanish). */
  private val SrcKey = "graft.src_commit"

  /** highest source commit recorded in the aggregate's own commit log —
    * written in the same atomic publish as the refresh merge, so a lost
    * marker can never lose a delete-only window */
  private def logHighWater: Option[Long] =
    if (!table.exists) None
    // commitsAll: the newest marker normally sits in the retained head
    // region, but an aggregate cleaned+archived with no refresh since
    // must still find its high water in the archived prefix — losing it
    // would route `refresh` to the initial-build branch
    else table.log.commitsAll.flatMap(_.metadata.get(SrcKey))
      .flatMap(s => s.toLongOption).maxOption

  /** source commit id the aggregate currently reflects (None = never built).
    * Last-resort fallback for PRE-UPGRADE aggregates (whose commits carry
    * no metadata stamp) that also lost their marker files: row-level
    * max(_src_commit). It cannot see a delete-only refresh window (the
    * documented soundness gap the metadata stamp exists to close), but
    * without it such an aggregate could never refresh again — `refresh`
    * would take the initial-build branch and trip bulkInsert's
    * table-exists guard forever. */
  def applied: Option[Long] =
    (mark.last.toSeq ++ logHighWater.toSeq).maxOption.orElse {
      if (!table.exists) None
      else table.read().agg(max(col("_src_commit"))).collect()
        .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    }

  private def sumCols = sums.keys.toSeq.sorted
  private def minCols = mins.keys.toSeq.sorted
  private def maxCols = maxs.keys.toSeq.sorted
  /** per-sum-measure NON-NULL counts, maintained alongside each sum so
    * `avg(e)` decomposes exactly (`Σ sum / Σ nn` — nn, not n_rows: avg
    * ignores nulls) and so a group whose values are ALL null keeps a
    * null sum through incremental updates (nn = 0 ⇒ sum stays null) */
  private def nnCols = sumCols.map(MaterializedAgg.nnCol)
  /** delta-maintained measures (count + sums + non-null counts) */
  private def measures = (countCol +: sumCols) ++ nnCols
  /** recomputed measures (order statistics) */
  private def orderCols = minCols ++ maxCols

  /** MV-definition WHERE predicate, applied to every source-row frame
    * before aggregation (identity when the MV is unfiltered) */
  private def filteredSrc(df: DataFrame): DataFrame =
    filterSql.filter(_.nonEmpty).fold(df)(f => df.filter(expr(f)))

  /** commit-metadata key stamping each dim's applied head alongside the
    * fact commit — the full-rebuild detector (see [[dimJoins]]) */
  private val DimKey = "graft.dim_commits"

  private def dimStamp(heads: Seq[Option[Long]]): String =
    dimJoins.map(_.table.config.root).zip(heads)
      .map { case (r, h) => s"$r=${h.getOrElse(-1L)}" }.mkString(";")

  /** the dim stamp recorded by the NEWEST refresh commit (None before
    * the first build, or on a pre-join aggregate) */
  private def appliedDimStamp: Option[String] =
    if (!table.exists) None
    else table.log.commitsAll.filter(_.metadata.contains(DimKey))
      .maxByOption(_.id).map(_.metadata(DimKey))

  private def stampMeta(to: Long, stamp: String): Map[String, String] =
    Map(SrcKey -> to.toString) ++
      (if (dimJoins.isEmpty) Map.empty else Map(DimKey -> stamp))

  /** column names the recipe actually reads (GROUP BY dims + measure
    * expression refs + filter refs) — each dim contributes ONLY these
    * plus its join keys, so housekeeping columns shared with the fact
    * (precombine timestamps etc.) never collide in the joined frame */
  private lazy val neededNames: Set[String] = {
    def refs(sql: String): Seq[String] =
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(sql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }).getOrElse(Seq.empty)
    (dims ++ (sums.values ++ mins.values ++ maxs.values).flatMap(refs) ++
      filterSql.toSeq.flatMap(refs)).map(_.toLowerCase).toSet
  }

  /** fact rows joined to every dim AT `heads` — the virtual source.
    * Each dim is projected to its join keys + referenced columns (meta
    * and unrelated columns never enter the frame), and each dim read
    * pins to the head resolved ONCE per refresh so a concurrent dim
    * writer cannot mix dim versions inside one refresh. */
  private def joined(fact: DataFrame, heads: Seq[Option[Long]]): DataFrame =
    dimJoins.zip(heads).foldLeft(fact) { case (acc, (ds, h)) =>
      val frame = h.fold(ds.table.read())(v => ds.table.readAsOf(v))
      val meta = Set("_commit_id", "_record_key", "_seq", "_deleted",
        LakeTable.BucketCol)
      val lowerKeys = ds.dimKeys.map(_.toLowerCase).toSet
      val keep = ds.dimKeys ++ frame.columns.filter(c =>
        !meta.contains(c) && !lowerKeys.contains(c.toLowerCase) &&
          neededNames.contains(c.toLowerCase))
      val jt = if (ds.leftOuter) "left_outer" else "inner"
      val pruned = frame.select(keep.distinct.map(col): _*)
      if (ds.sameNamed)
        // USING semantics: ONE key column survives, fact-valued — which
        // is also Spark's analyzed semantics for `LEFT JOIN ... USING`
        acc.join(pruned, ds.factKeys, jt)
      else {
        // ON-style differently-named keys: alias both sides so a dim
        // key sharing a name with some fact column can't ambiguate the
        // condition; afterwards each UNREFERENCED dim key is dropped
        // (by attribute, not name — a same-named fact column survives).
        // Referenced dim keys were name-collision-checked at CREATE.
        val d = pruned.as("gd")
        val a = acc.as("gf")
        val cond = ds.factKeys.zip(ds.dimKeys)
          .map { case (fk, dk) => col(s"gf.$fk") === col(s"gd.$dk") }
          .reduce(_ && _)
        ds.dimKeys.filterNot(k => neededNames.contains(k.toLowerCase))
          .foldLeft(a.join(d, cond, jt))((f, k) => f.drop(d(k)))
      }
    }

  /** the complete virtual-source preparation: join, then filter */
  private def prep(df: DataFrame, heads: Seq[Option[Long]]): DataFrame =
    filteredSrc(joined(df, heads))

  /** dims unchanged since the last refresh (vacuously true without
    * joins) — the maintenance policy's dim-move trigger */
  def dimsFresh: Boolean =
    dimJoins.isEmpty ||
      appliedDimStamp.contains(dimStamp(dimJoins.map(_.table.log.latestId)))

  /** true when the aggregate reflects the CURRENT fact head AND every
    * dim's CURRENT head — the transparent rewrite's eligibility gate */
  def fresh: Boolean = freshWithin(0)

  /** bounded-staleness variant (`maxStaleness` MVs): the aggregate may
    * lag the fact head by up to `tolerance` commits and still serve —
    * answers are pinned to the APPLIED snapshot, the declared trade.
    * Dim movement is never tolerated: a moved dim changes what the
    * MV's rows MEAN (join semantics), not merely how recent they are. */
  def freshWithin(tolerance: Int): Boolean =
    dimsFresh && source.log.latestId.exists(h =>
      applied.exists(a => h - a <= math.max(0, tolerance).toLong))

  /** wall-clock bounded-staleness variant (`maxStaleness='5m'` MVs):
    * the MV stopped reflecting reality the moment the FIRST unapplied
    * source commit published, so the served answer's staleness is the
    * age of that commit — serve while it is younger than `windowMs`.
    * An applied head (no unapplied commit) is exact regardless of age.
    * Dim movement is never tolerated, same as [[freshWithin]]. */
  def freshWithinMs(windowMs: Long): Boolean =
    dimsFresh && source.log.latestId.exists { h =>
      applied.exists { a =>
        h <= a || source.log.commits.find(_.id > a).forall(c =>
          System.currentTimeMillis() - c.tsMillis <= windowMs)
      }
    }

  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as(countCol),
        sumCols.map(c => sum(expr(sums(c))).as(c)) ++
          sumCols.map(c => count(expr(sums(c))).as(MaterializedAgg.nnCol(c))) ++
          minCols.map(c => min(expr(mins(c))).as(c)) ++
          maxCols.map(c => max(expr(maxs(c))).as(c)): _*)

  /** observability for specs: whether the LAST incremental refresh took
    * the window-bounded file path (true) or the snapshot-diff fallback
    * (false). Initial builds and no-op refreshes leave it untouched. */
  @volatile private[graft] var lastRefreshBounded: Boolean = false

  /** Window-bounded delta extraction — the CoW fast path that makes
    * refresh O(changed file groups) instead of O(table). On an
    * all-base, DV-free pair of snapshots, CoW rewrites whole file
    * groups, so every post-image of the window lives in a file ADDED by
    * a window commit (filtered to `_commit_id > from` to shed the
    * carried-over copies) and every pre-image lives in a file REMOVED
    * by one — a removed file's key either reappears in its group's
    * replacement (any commit id) or was deleted; no other file can hold
    * it. Both sides therefore read ONLY the window's touched groups.
    * Returns None (→ snapshot-diff fallback) when MoR deltas or
    * deletion vectors are live at either endpoint, a window add is a
    * delta/DV sidecar, an undecided transaction could hide a commit, or
    * the window dips below the clean horizon.
    */
  private def boundedDelta(from: Long, to: Long, keyed: Seq[String])
      : Option[(DataFrame, DataFrame)] = {
    val log = source.log
    if (from < log.cleanedUpTo) return None
    if (log.stagedFloor.exists(_ <= to)) return None
    val cs = log.commits.filter(c => c.id > from && c.id <= to)
    if (cs.isEmpty) return None
    if (cs.exists(_.adds.exists(a => Option(a.kind).getOrElse("base") != "base")))
      return None
    val snapTo = log.snapshot(Some(to))
    val snapFrom = log.snapshot(Some(from))
    if ((snapTo.files ++ snapFrom.files).exists(_.isDelta)) return None
    if (snapTo.dvs.nonEmpty || snapFrom.dvs.nonEmpty) return None
    val liveToPaths = snapTo.files.map(_.path).toSet
    val liveFromByPath = snapFrom.files.map(f => f.path -> f).toMap
    val addedLive = cs.flatMap(_.adds)
      .filter(a => liveToPaths.contains(a.path)).distinct
    val removedOld = cs.flatMap(_.removes).distinct
      .flatMap(liveFromByPath.get)
    // a commits-only window with no file churn (schema evolution etc.)
    // has nothing to read — let the fallback produce its empty delta
    if (addedLive.isEmpty && removedOld.isEmpty) return None
    val addedFull = source.readOrEmpty(addedLive, snapTo)
    val adds = addedFull.filter(col("_commit_id") > from)
    val oldTouched = source.readOrEmpty(removedOld, snapFrom)
    val o = oldTouched.select(keyed.map(col): _*).distinct().as("o")
    val rep = addedFull.select(keyed.map(col): _*).distinct().as("r")
    val goneKeys = o.join(rep,
      keyed.map(c => col(s"o.$c") <=> col(s"r.$c")).reduce(_ && _),
      "left_anti")
    val touched = adds.select(keyed.map(col): _*).union(goneKeys).distinct()
    Some((adds, oldTouched.join(touched, keyed, "left_semi")))
  }

  /** Bring the aggregate up to `upTo` (default: the source head).
    * First call materializes from the snapshot; later calls apply
    * timeline deltas only. Returns the source commit now reflected.
    */
  def refresh(upTo: Option[Long] = None): Option[Long] = {
    val to = upTo.orElse(source.log.latestId).getOrElse(return None)
    val from = applied.getOrElse(-1L)
    require(to >= from, s"cannot refresh backwards: applied=$from, asked=$to")
    val heads = dimJoins.map(_.table.log.latestId)
    val stamp = dimStamp(heads)
    val dimsMoved = dimJoins.nonEmpty && !appliedDimStamp.contains(stamp)
    if (to == from && !dimsMoved) { mark.record(to); return Some(to) }
    if (from < 0) {
      table.bulkInsert(aggOf(prep(source.readAsOf(to), heads))
        .withColumn("_src_commit", lit(to)),
        meta = stampMeta(to, stamp))
      mark.record(to); return Some(to)
    }
    // a moved dim breaks fact-delta retraction (old contributions joined
    // OLD dim rows): full rebuild, one atomic overwrite commit carrying
    // the new stamps — see [[dimJoins]]. A PRE-UPGRADE aggregate (built
    // before per-sum non-null counts existed) lacks the __nn_ columns
    // the incremental merge assigns — mergeOnce would refuse — so it
    // takes the same full-rebuild path ONCE; the overwrite mints the
    // columns (schemaReset) and every later refresh is incremental again.
    val preUpgrade = sumCols.nonEmpty && {
      val have = table.read().schema.fieldNames.toSet
      nnCols.exists(!have.contains(_))
    }
    if (dimsMoved || preUpgrade) {
      table.overwriteAll(aggOf(prep(source.readAsOf(to), heads))
        .withColumn("_src_commit", lit(to)),
        meta = stampMeta(to, stamp))
      mark.record(to); return Some(to)
    }
    val keyed = (source.config.partitionCols ++ source.config.keyCols).distinct
    val newSnap = source.readAsOf(to)
    val bounded = boundedDelta(from, to, keyed)
    lastRefreshBounded = bounded.isDefined
    val (adds, subs) = bounded.getOrElse {
      // snapshot-diff fallback (MoR deltas / deletion vectors / gaps):
      // adds = current rows ingested in the window; pre-images to
      // retract = old rows whose key was touched — rewritten (appears
      // among adds) or deleted (gone from the new snapshot). Both key
      // probes are column-pruned but scan snapshot-wide.
      val oldSnap = source.readAsOf(from)
      val a = newSnap.filter(col("_commit_id") > from)
      val touchedKeys = a.select(keyed.map(col): _*)
        .union(oldSnap.select(keyed.map(col): _*)
          .except(newSnap.select(keyed.map(col): _*)))
        .distinct()
      (a, oldSnap.join(touchedKeys, keyed, "left_semi"))
    }
    // delta = add - sub per dimension, via a NULL-SAFE full outer join
    // (a name-equality join would split a null-valued dimension into
    // two half-deltas that later collapse arbitrarily)
    val a = aggOf(prep(adds, heads)).select(
      dims.map(col) ++ measures.map(c => col(c).as(s"_a_$c")): _*)
    val b = aggOf(prep(subs, heads)).select(
      dims.map(col) ++ measures.map(c => col(c).as(s"_s_$c")): _*)
    val cond = dims.map(c => a(c) <=> b(c)).reduce(_ && _)
    val counted = a.join(b, cond, "full_outer")
      .select(dims.map(c => coalesce(a(c), b(c)).as(c)) ++
        measures.map(c =>
          (coalesce(col(s"_a_$c"), lit(0L)) - coalesce(col(s"_s_$c"), lit(0L)))
            .as(s"_d_$c")): _*)
    // with min/max measures a zero-delta dimension can still move an
    // order statistic (an in-place update), so every AFFECTED dimension
    // stays in the merge; without them the zero-delta filter is the
    // cheaper classic form
    val delta0 =
      if (orderCols.isEmpty)
        counted.filter(measures.map(c => col(s"_d_$c") =!= 0).reduce(_ || _))
      else counted
    // non-invertible min/max: recompute ONLY the affected dimension
    // tuples from the new snapshot — the affected set is metadata-small
    // (bounded by the window's changed keys), so it broadcasts; the
    // probe is a semi-join the source's partition/stats layout can
    // prune against, never a table-wide re-aggregation
    val delta = if (orderCols.isEmpty) delta0 else {
      val affected = delta0.select(dims.map(col): _*).distinct()
      val probe = prep(newSnap, heads).as("n").join(
        broadcast(affected.as("af")),
        dims.map(c => col(s"n.$c") <=> col(s"af.$c")).reduce(_ && _),
        "left_semi")
      val orderAggs = minCols.map(c => min(expr(mins(c))).as(s"_v_$c")) ++
        maxCols.map(c => max(expr(maxs(c))).as(s"_v_$c"))
      val fresh = probe.groupBy(dims.map(col): _*)
        .agg(orderAggs.head, orderAggs.tail: _*)
      val d = delta0.as("d")
      val f = fresh.as("f")
      d.join(f, dims.map(c => col(s"d.$c") <=> col(s"f.$c")).reduce(_ && _),
          "left_outer")
        .select(dims.map(c => col(s"d.$c").as(c)) ++
          measures.map(c => col(s"d._d_$c").as(s"_d_$c")) ++
          orderCols.map(c => col(s"f._v_$c").as(s"_v_$c")): _*)
    }
    val payload = delta.withColumn("_src_commit", lit(to))
    // apply as ONE commit: update/insert/delete in a single merge; the
    // applied source commit travels in the SAME commit (crash-safe even
    // for delete-only windows — see SrcKey)
    // sum columns need null care: SQL sum over a group of all-null
    // values is NULL, not 0 — so a sum is written/kept null exactly
    // while its non-null count is zero, and additions onto a null sum
    // start from 0 (coalesce) instead of propagating the null
    val countLike = countCol +: nnCols
    def updSum(c: String) = {
      val nn = MaterializedAgg.nnCol(c)
      when(coalesce(col(s"t.$nn"), lit(0L)) + col(s"s._d_$nn") === 0, lit(null))
        .otherwise(coalesce(col(s"t.$c"), lit(0L)) + col(s"s._d_$c"))
    }
    def insSum(c: String) =
      when(col(s"s._d_${MaterializedAgg.nnCol(c)}") === 0, lit(null))
        .otherwise(col(s"s._d_$c"))
    table.merge(payload)
      .withCommitMeta(stampMeta(to, stamp))
      .whenMatchedDelete(Some(col(s"t.$countCol") + col(s"s._d_$countCol") <= 0))
      .whenMatchedUpdate(
        countLike.map(c => c -> (col(s"t.$c") + col(s"s._d_$c"))).toMap ++
          sumCols.map(c => c -> updSum(c)).toMap ++
          orderCols.map(c => c -> col(s"s._v_$c")).toMap +
          ("_src_commit" -> col("s._src_commit")))
      .whenNotMatchedInsert(
        countLike.map(c => c -> col(s"s._d_$c")).toMap ++
          sumCols.map(c => c -> insSum(c)).toMap ++
          orderCols.map(c => c -> col(s"s._v_$c")).toMap,
        cond = Some(col(s"s._d_$countCol") > 0))
      .execute()
    mark.record(to)
    Some(to)
  }

  /** current aggregate: (dims..., n_rows, sum columns..., min/max
    * columns...) — the per-sum non-null counts stay engine-internal */
  def read(): DataFrame =
    table.read().select((dims ++ (countCol +: sumCols) ++ orderCols).map(col): _*)
}

/** One dimension side of a star-schema [[MaterializedAgg]]: the dim
  * table, the equi-join key pairs (fact side / dim side, positionally
  * matched), and the join type. Same-named pairs take USING semantics
  * (one surviving key column, fact-valued); `leftOuter` null-extends
  * the dim columns for unmatched fact rows. */
final case class DimSide(table: LakeTable, factKeys: Seq[String],
    dimKeys: Seq[String], leftOuter: Boolean = false) {
  require(factKeys.nonEmpty && factKeys.length == dimKeys.length,
    "join needs at least one fact/dim key pair, positionally matched")
  def sameNamed: Boolean =
    factKeys.map(_.toLowerCase) == dimKeys.map(_.toLowerCase)
}

object DimSide {
  /** legacy USING-style inner join on same-named columns */
  def using(t: LakeTable, cols: Seq[String]): DimSide =
    DimSide(t, cols, cols)
}

object MaterializedAgg {
  /** maintained non-null count per SUM measure — drives the exact
    * `avg()` rewrite (avg = Σ sum / Σ nn) and the null-correct sum
    * update rule; double underscore keeps it out of the user namespace
    * and the MV's user-visible SQL schema */
  def nnCol(sumCol: String): String = s"__nn_$sumCol"

  /** reconstruct the maintenance recipe persisted in an MV's descriptor
    * (shared by refresh procedures, maintenance, and the rewrite rule) */
  def fromDescriptor(spark: org.apache.spark.sql.SparkSession,
      source: LakeTable, mvRoot: String, mv: MatViewDescriptor): MaterializedAgg = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val dims = Option(mv.dimJoins).getOrElse(Seq.empty).map { dj =>
      val d = TableDescriptor.load(dj.root, hconf).getOrElse(
        throw new IllegalStateException(
          s"materialized-view dimension table vanished: ${dj.root}"))
      DimSide(LakeTable(spark, d.config(dj.root)),
        dj.factKeysN, dj.dimKeysN, dj.leftOuter)
    }
    new MaterializedAgg(spark, source, mvRoot, mv.dims,
      Option(mv.sums).getOrElse(Map.empty),
      Option(mv.mins).getOrElse(Map.empty),
      Option(mv.maxs).getOrElse(Map.empty),
      Option(mv.countCol).getOrElse("n_rows"),
      Option(mv.filterSql).filter(_.nonEmpty),
      dims)
  }
}
