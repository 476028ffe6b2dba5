package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-identity-based schema evolution for [[LakeTable]] (the Delta
  * column-mapping / Hudi schema-on-read role; the reference's Hudi stack
  * delegated this to the jar — re-expressed here Spark-first).
  *
  * Every commit's `schemaJson` records the TABLE schema at commit time,
  * and every field carries a stable column id in its StructField
  * metadata (`graft.cid`). Identity, not name, is what a reader matches
  * files against:
  *
  *   - **rename**: a metadata-only commit maps a new name to the SAME id
  *     — old files keep the old physical name; reads alias by id.
  *   - **drop**: the field leaves the schema; old files keep the bytes
  *     but no reader selects them. Re-adding the same NAME mints a fresh
  *     id, so dropped data never resurrects (the Delta semantics that
  *     name-matching alone cannot give).
  *   - **widen**: int→long / float→double etc.; old files keep the
  *     narrow physical type; reads cast up by id. Narrowing/incompatible
  *     changes are rejected at commit time while any pre-change file is
  *     still live.
  *
  * Pre-feature commits carry no ids; their fields default to
  * name-identity (`cid == name`), which reproduces the old name-matching
  * behavior exactly — no migration step.
  */
private[graft] object SchemaEvo {

  /** StructField metadata key holding the stable column id */
  val CidKey = "graft.cid"

  /** stable id of a field: explicit metadata, else the name (legacy) */
  def cid(f: StructField): String =
    if (f.metadata.contains(CidKey)) f.metadata.getString(CidKey) else f.name

  private def withCid(f: StructField, id: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(CidKey, id).build())

  /** the field under a new name, carrying its identity (also used with
    * `newName == f.name` to materialize a legacy field's implicit id) */
  def renameField(f: StructField, newName: String): StructField =
    withCid(f.copy(name = newName), cid(f))

  /** a brand-new nullable field with a FRESH id (never name-identified,
    * so re-adding a previously dropped name cannot resurrect old data —
    * even on a legacy table whose old files identify by name); nested
    * struct fields are minted recursively */
  def mintField(name: String, dt: DataType): StructField =
    withCid(StructField(name, mintedType(dt), nullable = true),
      f"a${System.nanoTime()}%x")

  /** fresh ids on every UNSTAMPED nested struct field of a brand-new
    * column (already-stamped fields — a rebase or clone carrying ids —
    * keep their identity) */
  private def mintedType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      val inner = f.copy(dataType = mintedType(f.dataType))
      if (f.metadata.contains(CidKey)) inner
      else withCid(inner, f"a${System.nanoTime()}%x")
    })
    case ArrayType(e, n) => ArrayType(mintedType(e), n)
    case MapType(k, v, n) => MapType(k, mintedType(v), n)
    case o => o
  }

  /** materialize name-identity ids on every UNSTAMPED struct field, at
    * every nesting level — pre-feature schemas (and user-supplied batch
    * types) default to name identity, exactly like the top level */
  def stampIds(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      withCid(f.copy(dataType = stampIds(f.dataType)), cid(f))))
    case ArrayType(e, n) => ArrayType(stampIds(e), n)
    case MapType(k, v, n) => MapType(k, stampIds(v), n)
    case o => o
  }

  /** internal engine columns (`_commit_id`, `_seq`, ...) are identified
    * by name forever and never rename/widen */
  def isInternal(name: String): Boolean = name.startsWith("_")

  /** Widening lattice permitted on live files: the cast is exact, so a
    * reader upcasting an old file can never lose information. */
  def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    // exact: every int/short/byte is representable as a double; longs
    // are NOT (53-bit mantissa), so long→double is rejected
    case (ByteType | ShortType | IntegerType, DoubleType) => true
    // a map gaining null values: a CoW merge reads old files back with
    // valueContainsNull = true while a Scala-encoded batch says false
    case (MapType(fk, fv, false), MapType(tk, tv, true)) => fk == tk && fv == tv
    case _ => false
  }

  /** The table schema after a write: start from the previous table
    * schema, evolve by NAME against the batch (carrying ids), then
    * append genuinely new columns with fresh ids minted from the commit.
    *
    *   - shared name, batch type wider        → widened type, same id
    *   - shared name, same type               → unchanged
    *   - user column missing from the batch   → KEPT (a narrow MoR delta
    *     append must not narrow the table; readers null-backfill)
    *   - new column in the batch              → appended, fresh id
    *   - internal columns mirror the batch exactly (never kept)
    *
    * Incompatible type changes are rejected here — before any commit
    * JSON is written — EXCEPT when `reset` (a whole-table overwrite: no
    * old file survives, so the batch schema simply replaces the table's,
    * carrying ids for names that persist).
    */
  def evolve(prev: Option[StructType], batch: StructType, commitId: Long,
      reset: Boolean = false): StructType = {
    val prevFields = prev.map(_.fields.toSeq).getOrElse(Seq.empty)
    val prevByName = prevFields.map(f => f.name -> f).toMap
    var fresh = 0
    def mint(): String = { fresh += 1; s"c${commitId}_$fresh" }
    val batchNames = batch.fieldNames.toSet
    val evolvedExisting: Seq[StructField] =
      if (reset) Seq.empty
      else prevFields.flatMap { pf =>
        if (isInternal(pf.name)) None // internals mirror the batch
        else batch.fields.find(_.name == pf.name) match {
          case None =>
            // kept but ABSENT from this batch: the commit's files lack
            // the column, so readers null-backfill — the schema MUST
            // say nullable or Spark may elide IS NOT NULL filters
            // against rows that are in fact null
            Some(withCid(pf.copy(nullable = true), cid(pf)))
          case Some(bf) =>
            Some(withCid(pf.copy(
              dataType = mergeType(pf.dataType, bf.dataType, mint, pf.name),
              nullable = pf.nullable || bf.nullable), cid(pf)))
        }
      }
    val known = evolvedExisting.map(_.name).toSet
    val appended = batch.fields.toSeq
      .filter(f => !known.contains(f.name) && !isInternal(f.name))
      .map { f =>
        val id = if (reset) prevByName.get(f.name).map(cid).getOrElse {
          if (f.metadata.contains(CidKey)) f.metadata.getString(CidKey) else mint()
        } else mint()
        // a column appended to an EXISTING table null-backfills every
        // pre-existing file — force nullable (first commits / resets
        // keep the batch's own nullability: no older files exist).
        // Nested struct fields are stamped too (fresh unless carried).
        withCid((if (prev.isEmpty || reset) f else f.copy(nullable = true))
          .copy(dataType = mintedType(f.dataType)), id)
      }
    val internals = batch.fields.toSeq.filter(f => isInternal(f.name))
    StructType(evolvedExisting ++ appended ++ internals)
  }

  /** Merged type of a kept column across (previous table, new batch) —
    * the recursive heart of [[evolve]]. Structs merge field-by-field
    * with the SAME rules as the top level (kept-if-absent, widen, new
    * nested fields minted fresh); arrays merge element types, maps merge
    * value types over identical key types; anything else must be equal
    * or an exact widening in one direction. Batch
    * types match by NAME at every level (user batches carry no ids);
    * the previous schema's nested ids are carried through.
    */
  private def mergeType(prev: DataType, batch: DataType,
      mint: () => String, path: String): DataType = (prev, batch) match {
    case (p, b) if p == b => p
    case (p: StructType, b: StructType) =>
      val evolved = p.fields.toSeq.map { pf =>
        b.fields.find(_.name == pf.name) match {
          case None => withCid(pf.copy(nullable = true), cid(pf))
          case Some(bf) => withCid(pf.copy(
            dataType = mergeType(pf.dataType, bf.dataType, mint,
              s"$path.${pf.name}"),
            nullable = pf.nullable || bf.nullable), cid(pf))
        }
      }
      val known = evolved.map(_.name).toSet
      val appendedNested = b.fields.toSeq
        .filterNot(f => known.contains(f.name))
        .map(f => withCid(f.copy(nullable = true,
          dataType = mintedType(f.dataType)), mint()))
      StructType(evolved ++ appendedNested)
    case (ArrayType(pe, pn), ArrayType(be, bn)) =>
      ArrayType(mergeType(pe, be, mint, s"$path[]"), pn || bn)
    case (MapType(pk, pv, pn), MapType(bk, bv, bn)) if pk == bk =>
      MapType(pk, mergeType(pv, bv, mint, s"$path{}"), pn || bn)
    case (p, b) if canWiden(p, b) => b
    case (p, b) if canWiden(b, p) => p // narrow batch upcasts
    case (p, b) => throw new IllegalArgumentException(
      s"incompatible type change for column '$path': " +
        s"${p.simpleString} -> ${b.simpleString} " +
        "(only exact widenings are allowed while old files are live)")
  }

  /** canonical identity of a schema for read-grouping: (cid, name, type)
    * per field, order-insensitive — two schemas with equal keys need no
    * adaptation between them */
  def adaptKey(s: StructType): Set[(String, String, DataType)] =
    s.fields.map(f => (cid(f), f.name, f.dataType)).toSet

  /** Conform a frame read under `from` (a file group's commit schema) to
    * `target` (the table schema of the read): match by column id —
    * rename via alias, widen via cast, null-backfill columns the files
    * predate. Internal columns are passed through only when the SOURCE
    * has them (a base file must not grow phantom `_seq`/`_deleted`
    * columns that would leak past the MoR merge into snapshots).
    */
  def adapt(df: DataFrame, from: StructType, target: StructType,
      carry: Seq[String] = Nil): DataFrame = {
    val fromByCid = from.fields.map(f => cid(f) -> f).toMap
    val fromNames = from.fieldNames.toSet
    val targetNames = target.fieldNames.toSet
    val selected: Seq[Column] = target.fields.toSeq.flatMap { tf =>
      if (isInternal(tf.name))
        if (fromNames.contains(tf.name)) Some(col(tf.name)) else None
      else fromByCid.get(cid(tf)) match {
        case Some(sf) if sf.name == tf.name && sf.dataType == tf.dataType =>
          Some(col(sf.name))
        case Some(sf) => Some(adaptValue(col("`" + sf.name + "`"),
          sf.dataType, tf.dataType).as(tf.name))
        case None => Some(backfill(tf))
      }
    }
    // internals present in the files but absent from the target schema
    // (delta-file `_seq`/`_deleted` under a base target) stay visible:
    // the MoR merge consumes them downstream
    val extras = from.fields.toSeq
      .filter(f => isInternal(f.name) && !targetNames.contains(f.name))
      .map(f => col(f.name))
    // caller-threaded helper columns (e.g. the DV update's position
    // columns) survive the projection verbatim
    df.select(selected ++ extras ++ carry.map(c => col("`" + c + "`")): _*)
  }

  /** Adapt a VALUE read under `from` to `to` — the nested companion of
    * [[adapt]]'s per-column logic. Structs rebuild field-by-field
    * matched by column id (rename via field re-label, widen via
    * recursion, null-backfill for fields the file predates, dropped
    * fields simply unselected); arrays adapt element-wise, maps
    * value-wise; primitives cast. A NULL source struct stays NULL (a
    * bare struct() rebuild would turn it into a struct of nulls).
    */
  private def adaptValue(src: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => src
      case (f: StructType, t: StructType) =>
        val byCid = f.fields.map(x => cid(x) -> x).toMap
        val parts = t.fields.toSeq.map { tf =>
          byCid.get(cid(tf)) match {
            case Some(sf) =>
              adaptValue(src.getField(sf.name), sf.dataType, tf.dataType)
                .as(tf.name)
            // nested field the file predates: same exists-default
            // backfill rule as a top-level column (null without one)
            case None => backfill(tf)
          }
        }
        when(src.isNotNull, struct(parts: _*))
      case (f: ArrayType, t: ArrayType) =>
        transform(src, x => adaptValue(x, f.elementType, t.elementType))
      case (f: MapType, t: MapType) if f.keyType == t.keyType =>
        transform_values(src, (_, v) => adaptValue(v, f.valueType, t.valueType))
      case (_, t) => src.cast(t)
    }

  /** Union a TIMELINE of schemas by column id: later generations win a
    * column's name/type (renames and widenings surface under their
    * final form instead of as duplicate name-matched fields), columns
    * only old commits knew stay present (a change stream keeps emitting
    * a dropped column's historical values), internals merge by name.
    * First-appearance order is kept so the result is stable. */
  def foldTimeline(schemas: Seq[StructType]): StructType = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    schemas.foreach(_.fields.foreach { f =>
      val key = if (isInternal(f.name)) s"!${f.name}" else cid(f)
      acc(key) = f // later commit wins name/type; insertion order kept
    })
    StructType(acc.values.toSeq)
  }

  /** Conform one micro-batch file group (written under `from`) to a
    * STREAM's fixed schema — by column id, like [[adapt]], but strict:
    * the stream contract (Delta's) is that non-representable evolution
    * FAILS the stream for a restart rather than silently nulling or
    * dropping data. Renames alias transparently; pre-widening files
    * cast up; a column ADDED or widened past the stream schema after
    * start throws. */
  def adaptToStream(df: DataFrame, from: StructType, stream: StructType): DataFrame = {
    val fromUser = from.fields.filterNot(f => isInternal(f.name))
    val fromByCid = fromUser.map(f => cid(f) -> f).toMap
    val streamCids = stream.fields.filterNot(f => isInternal(f.name))
      .map(cid).toSet
    val unknown = fromUser.filterNot(f => streamCids.contains(cid(f)))
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"table schema evolved after stream start (new column(s) " +
        s"${unknown.map(_.name).mkString(", ")}): restart the stream to " +
        "pick up the evolved schema")
    val fromNames = from.fieldNames.toSet
    df.select(stream.fields.toSeq.map { sf =>
      if (isInternal(sf.name))
        if (fromNames.contains(sf.name)) col(sf.name)
        else lit(null).cast(sf.dataType).as(sf.name)
      else fromByCid.get(cid(sf)) match {
        case Some(ff) if ff.name == sf.name && ff.dataType == sf.dataType =>
          col(sf.name)
        case Some(ff) =>
          adaptValueStrict(col("`" + ff.name + "`"), ff.dataType,
            sf.dataType, sf.name).as(sf.name)
        case None => backfill(sf) // same exists-default rule as batch reads
      }
    }: _*)
  }

  /** Restructure a value of `from` to the NESTED-PRUNED shape `to` —
    * `to`'s fields are a (recursive) subset of `from`'s, matched by
    * NAME (both shapes come from the same resolved table schema, so
    * names are authoritative). A scan that declares Spark's pruned
    * read schema MUST hand back rows of exactly that shape: struct
    * fields are consumed POSITIONALLY downstream, so returning the full
    * struct under a pruned declaration silently serves the WRONG FIELD
    * (`s.f` reading `s.a`'s bytes). Null parents stay null. */
  def pruneValue(src: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => src
      case (f: StructType, t: StructType) =>
        val parts = t.fields.toSeq.map { tf =>
          val sf = f.fields.find(_.name == tf.name).getOrElse(
            throw new IllegalStateException(
              s"pruned field '${tf.name}' missing from the source shape"))
          pruneValue(src.getField(tf.name), sf.dataType, tf.dataType)
            .as(tf.name)
        }
        when(src.isNotNull, struct(parts: _*))
      case (f: ArrayType, t: ArrayType) =>
        transform(src, x => pruneValue(x, f.elementType, t.elementType))
      case (f: MapType, t: MapType) =>
        org.apache.spark.sql.functions.transform_values(src,
          (_, v) => pruneValue(v, f.valueType, t.valueType))
      case _ => src
    }

  /** Backfill for a column ABSENT from a file: the declared
    * exists-default when the field carries one (`ALTER TABLE ... ADD
    * COLUMN c INT DEFAULT 5` — Spark stores the constant SQL in field
    * metadata, evolution preserves kept fields' metadata verbatim, so
    * every later commit schema still carries it), else NULL. One rule
    * for batch reads and stream tails — the two surfaces must never
    * disagree on what an old row contains. */
  private def backfill(tf: StructField): Column = {
    val base =
      if (tf.metadata.contains("EXISTS_DEFAULT"))
        org.apache.spark.sql.functions.expr(tf.metadata.getString("EXISTS_DEFAULT"))
      else lit(null)
    base.cast(tf.dataType).as(tf.name)
  }

  /** [[adaptValue]] under the STREAM contract: a nested field added or
    * widened past the stream's schema after start throws (the stream
    * must restart), instead of silently nulling or narrowing. */
  private def adaptValueStrict(src: Column, from: DataType, to: DataType,
      name: String): Column = (from, to) match {
    case (f, t) if f == t => src
    case (f: StructType, t: StructType) =>
      val tByCid = t.fields.map(x => cid(x) -> x).toMap
      val unknown = f.fields.filterNot(x => tByCid.contains(cid(x)))
      if (unknown.nonEmpty) throw new IllegalStateException(
        s"table schema evolved after stream start (new nested field(s) " +
          s"${unknown.map(u => s"$name.${u.name}").mkString(", ")}): " +
          "restart the stream to pick up the evolved schema")
      val fByCid = f.fields.map(x => cid(x) -> x).toMap
      val parts = t.fields.toSeq.map { tf =>
        fByCid.get(cid(tf)) match {
          case Some(sf) => adaptValueStrict(src.getField(sf.name),
            sf.dataType, tf.dataType, s"$name.${tf.name}").as(tf.name)
          case None => lit(null).cast(tf.dataType).as(tf.name)
        }
      }
      when(src.isNotNull, struct(parts: _*))
    case (f: ArrayType, t: ArrayType) =>
      transform(src, x =>
        adaptValueStrict(x, f.elementType, t.elementType, s"$name[]"))
    case (f: MapType, t: MapType) if f.keyType == t.keyType =>
      transform_values(src, (_, v) =>
        adaptValueStrict(v, f.valueType, t.valueType, s"$name{}"))
    case (f, t) =>
      if (!canWiden(f, t))
        throw new IllegalStateException(
          s"column '$name' evolved to ${f.simpleString}, " +
            s"beyond the stream's ${t.simpleString}: restart " +
            "the stream to pick up the evolved schema")
      src.cast(t)
  }

  // ---- path-addressed schema surgery (ALTER TABLE ... s.f ...) --------
  // Shared by LakeTable's evolution ops and the catalog's dry-run
  // validation, so a multi-change ALTER simulates EXACTLY what applying
  // would do. `path` is the full field path (Seq("s","f") = field f of
  // top-level struct s); the last segment names the edited field.

  /** apply `op` to the (possibly nested) struct at `parent`; Nil = the
    * top level. Descends through structs and arrays-of-struct. */
  def transformStructAt(schema: StructType, parent: Seq[String],
      op: StructType => StructType): StructType =
    if (parent.isEmpty) op(schema)
    else {
      val h = parent.head
      val f = schema.fields.find(_.name == h).getOrElse(
        throw new IllegalArgumentException(s"no column '$h'"))
      val inner = f.dataType match {
        case st: StructType => transformStructAt(st, parent.tail, op)
        case ArrayType(st: StructType, n) =>
          ArrayType(transformStructAt(st, parent.tail, op), n)
        case other => throw new IllegalArgumentException(
          s"column '$h' is not a struct (${other.simpleString})")
      }
      StructType(schema.fields.map(x =>
        if (x.name == h) x.copy(dataType = inner) else x))
    }

  def addAt(s: StructType, path: Seq[String], dt: DataType): StructType =
    addAt(s, path, dt, None)

  /** nested ADD COLUMN, optionally with a DEFAULT: the constant lands in
    * the nested field's metadata exactly like a top-level add, and
    * [[adapt]]'s nested rebuild backfills it for every file that
    * predates the field (the caller validates the SQL first) */
  def addAt(s: StructType, path: Seq[String], dt: DataType,
      defaultSql: Option[String]): StructType = {
    val name = path.last
    require(name.nonEmpty && !isInternal(name), s"invalid column name '$name'")
    transformStructAt(s, path.init, st => {
      require(!st.fieldNames.contains(name),
        s"column '${path.mkString(".")}' already exists")
      val minted0 = mintField(name, dt)
      val minted = defaultSql.fold(minted0)(sql => minted0.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(minted0.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", sql).build()))
      // appended fields backfill every pre-existing file — the declared
      // exists-default when present, else null
      StructType(st.fields :+ minted)
    })
  }

  def renameAt(s: StructType, path: Seq[String], newName: String): StructType = {
    val name = path.last
    require(newName.nonEmpty && !isInternal(newName),
      s"invalid new column name '$newName'")
    transformStructAt(s, path.init, st => {
      require(st.fieldNames.contains(name),
        s"no column '${path.mkString(".")}'")
      require(!st.fieldNames.contains(newName),
        s"column '$newName' already exists")
      StructType(st.fields.map(f =>
        if (f.name == name) renameField(f, newName) else f))
    })
  }

  def dropAt(s: StructType, path: Seq[String]): StructType = {
    val name = path.last
    transformStructAt(s, path.init, st => {
      require(st.fieldNames.contains(name),
        s"no column '${path.mkString(".")}'")
      val kept = st.fields.filterNot(_.name == name)
      require(path.init.isEmpty || kept.nonEmpty,
        s"cannot drop the last field of struct '${path.init.mkString(".")}'")
      StructType(kept)
    })
  }

  def widenAt(s: StructType, path: Seq[String], dt: DataType): StructType = {
    val name = path.last
    transformStructAt(s, path.init, st => {
      val f = st.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '${path.mkString(".")}'"))
      require(canWiden(f.dataType, dt),
        s"cannot widen ${f.dataType.simpleString} to ${dt.simpleString}")
      StructType(st.fields.map(x =>
        if (x.name == name) x.copy(dataType = dt) else x))
    })
  }

  /** Target schema for a REBASED write (its commit lost the optimistic
    * race to disjoint interveners): the new head's schema — so a
    * concurrent rename/widen maps this write's old physical names onto
    * their new identity — PLUS any user column of the failed commit the
    * head does not know. Keeping those is what serial re-execution
    * would do: a column this write introduced (or re-introduced after a
    * concurrent drop) lands with THIS write's data, re-minted under a
    * fresh id by the recommit's evolve, so dropped generations never
    * resurrect through it. */
  def rebaseTarget(failed: StructType, head: StructType): StructType = {
    val headCids = head.fields.filterNot(f => isInternal(f.name)).map(cid).toSet
    val headNames = head.fieldNames.toSet
    // a name collision (the intervener dropped AND re-added this very
    // name) cannot be represented twice — the head's definition wins
    val keep = failed.fields.filter(f =>
      !isInternal(f.name) && !headCids.contains(cid(f)) &&
        !headNames.contains(f.name))
    StructType(head.fields ++ keep)
  }

  /** Validate that every retained live file (grouped by its commit
    * schema) can still be adapted to `next` losslessly: for each shared
    * column id the file's physical type must equal or widen to the new
    * type. Called at commit time so a bad evolution fails BEFORE the
    * commit publishes. */
  def validateAgainstLiveFiles(
      next: StructType, liveSchemas: Seq[StructType]): Unit = {
    val nextByCid = next.fields.map(f => cid(f) -> f).toMap
    liveSchemas.foreach { fileSchema =>
      fileSchema.fields.filterNot(f => isInternal(f.name)).foreach { ff =>
        nextByCid.get(cid(ff)).foreach { nf =>
          if (!canStore(ff.dataType, nf.dataType))
            throw new IllegalArgumentException(
              s"schema change would corrupt live files: column '${nf.name}' " +
                s"has live data of type ${ff.dataType.simpleString}, which " +
                s"cannot widen to ${nf.dataType.simpleString}")
        }
      }
    }
  }

  /** can a live file's physical value of `from` be adapted losslessly to
    * `to`? Recursive widen check matched by column id at struct levels —
    * a file field DROPPED from `to` is fine (never selected), a `to`
    * field the file lacks null-backfills. */
  private def canStore(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => true
      case (f: StructType, t: StructType) =>
        val tByCid = t.fields.map(x => cid(x) -> x).toMap
        f.fields.forall(ff => tByCid.get(cid(ff))
          .forall(tf => canStore(ff.dataType, tf.dataType)))
      case (f: ArrayType, t: ArrayType) =>
        canStore(f.elementType, t.elementType)
      case (f: MapType, t: MapType) =>
        f.keyType == t.keyType && (t.valueContainsNull || !f.valueContainsNull) &&
          canStore(f.valueType, t.valueType)
      case (f, t) => canWiden(f, t)
    }
}
