package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Persisted table configuration (`<root>/_log/_table.json`) — the
  * engine's counterpart of Hudi's `hoodie.properties` (the reference
  * configures the same facts per write instead, `glue/HudiJarGlueJob
  * .py:80-85`; persisting them with the table lets SQL-catalog readers
  * and writers resolve a table from its path alone, no options).
  *
  * `schemaJson` carries the declared schema from CREATE TABLE so an
  * empty (never-written) table still answers DESCRIBE/SELECT with the
  * right shape; after the first commit the commit log's schema is
  * authoritative.
  */
final case class TableDescriptor(
    keyCols: Seq[String],
    precombineCol: String,
    partitionCols: Seq[String] = Seq.empty,
    globalIndex: Boolean = false,
    storageType: String = "cow",
    compactEvery: Int = 0,
    hashBuckets: Int = 0,
    statsCols: Seq[String] = Seq.empty,
    clusterCols: Seq[String] = Seq.empty,
    zOrder: Boolean = false,
    bloomKeys: Int = 0,
    /** per-file value-bloom columns ([[LakeTableConfig.bloomCols]]);
      * null-safe via config() for pre-upgrade JSONs */
    bloomCols: Seq[String] = Seq.empty,
    /** per-file exact-sum columns ([[LakeTableConfig.sumCols]]) */
    sumCols: Seq[String] = Seq.empty,
    checks: Map[String, String] = Map.empty,
    /** null-safe via config(): pre-upgrade JSONs deserialize null */
    checkMode: String = "fail",
    schemaJson: String = "",
    /** hidden-partitioning transform per partitionCols entry
      * ([[LakeTableConfig.partitionTransforms]]); empty ≙ all identity */
    partitionTransforms: Seq[String] = Seq.empty,
    /** commit-log checkpoint cadence ([[LakeTableConfig.checkpointEvery]]).
      * Jackson deserializes a pre-upgrade JSON's missing field to 0, so
      * existing tables keep their established (checkpoint-free) behavior
      * until ALTERed; freshly created tables persist the config default. */
    checkpointEvery: Int = 0,
    /** partition-spec evolution history, oldest first, excluding the
      * current spec ([[LakeTableConfig.priorPartitionSpecs]]); null-safe
      * via config() for pre-upgrade JSONs */
    priorPartitionSpecs: Seq[Seq[String]] = Seq.empty,
    /** auto-archive the timeline after every clean
      * ([[LakeTableConfig.archiveOnClean]]); missing in pre-upgrade
      * JSONs deserializes false = established behavior */
    archiveOnClean: Boolean = false,
    /** same-partition OCC auto-retry attempts
      * ([[LakeTableConfig.occRetries]]); missing in pre-upgrade JSONs
      * deserializes 0 = established one-winner behavior */
    occRetries: Int = 0,
    /** predicate/SQL delete execution mode
      * ([[LakeTableConfig.deleteMode]]); null-safe via config() */
    deleteMode: String = "rewrite",
    /** SQL UPDATE execution mode ([[LakeTableConfig.updateMode]]) */
    updateMode: String = "rewrite",
    /** VARIANT/JSON shredding entries ([[LakeTableConfig.shredPaths]]);
      * null-safe via config() for pre-upgrade JSONs */
    shredPaths: Seq[String] = Seq.empty,
    /** when this table IS a materialized view: its maintenance recipe
      * (null on ordinary tables and pre-upgrade JSONs) */
    matView: MatViewDescriptor = null,
    /** roots of materialized views defined over THIS table — consulted
      * by the transparent aggregate-rewrite rule; stale entries (dropped
      * MVs) are skipped there, so this list is advisory, not load-bearing */
    matViews: Seq[String] = Seq.empty,
    /** identity columns ([[LakeTableConfig.identityCols]]); null-safe
      * via config() for pre-upgrade JSONs */
    identityCols: Map[String, String] = Map.empty,
    /** generated columns ([[LakeTableConfig.generatedCols]]) */
    generatedCols: Map[String, String] = Map.empty) {

  def config(root: String): LakeTableConfig = LakeTableConfig(
    root, keyCols, precombineCol, partitionCols, globalIndex, storageType,
    compactEvery, hashBuckets, statsCols, clusterCols, zOrder, bloomKeys,
    Option(bloomCols).getOrElse(Seq.empty),
    Option(sumCols).getOrElse(Seq.empty),
    Option(checks).getOrElse(Map.empty),
    Option(checkMode).getOrElse("fail"),
    partitionTransforms = Option(partitionTransforms).getOrElse(Seq.empty),
    checkpointEvery = checkpointEvery,
    priorPartitionSpecs = Option(priorPartitionSpecs).getOrElse(Seq.empty),
    archiveOnClean = archiveOnClean,
    occRetries = occRetries,
    deleteMode = Option(deleteMode).getOrElse("rewrite"),
    updateMode = Option(updateMode).getOrElse("rewrite"),
    shredPaths = Option(shredPaths).getOrElse(Seq.empty),
    identityCols = Option(identityCols).getOrElse(Map.empty),
    generatedCols = Option(generatedCols).getOrElse(Map.empty))
}

/** Materialized-view maintenance recipe, persisted inside the MV's own
  * [[TableDescriptor]]: the MV *is* a LakeTable (keyed by its
  * dimensions, incrementally maintained by [[MaterializedAgg]]), so it
  * inherits snapshot isolation, time travel and OCC; this record lets
  * `CALL graft.system.refresh_mv` and the transparent rewrite rule
  * ([[graft.sql.GraftMvRewrite]]) reconstruct the maintenance math from
  * disk alone.
  */
final case class MatViewDescriptor(
    /** source table root (absolute path under some warehouse) */
    source: String,
    /** dimension (GROUP BY) columns — the MV table's key */
    dims: Seq[String],
    /** output column → SQL expression for SUM measures (integer-typed:
      * exact under incremental add/subtract) */
    sums: Map[String, String] = Map.empty,
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    /** name the user gave `count(*)`; "n_rows" when not projected (the
      * count is always maintained — it drives the delete-on-zero rule) */
    countCol: String = "n_rows",
    /** whether the defining query projected the count at all (a MV with
      * only sum/min/max measures still maintains the count internally —
      * exact, so the rewrite may still serve a query's count(*) from it
      * — but the column is hidden from the MV's user-visible schema) */
    countExposed: Boolean = true,
    /** original CREATE MATERIALIZED VIEW ... AS text */
    sql: String = "",
    /** WHERE predicate from the MV definition (SQL text over source
      * columns; null/empty = unfiltered). Maintenance filters every
      * delta frame with it; the rewrite requires the query predicate to
      * contain it conjunct-for-conjunct. */
    filterSql: String = null,
    /** star-schema joins from the MV definition (null/empty = single
      * table): each dim equi-joins the fact on SAME-NAMED columns
      * (`USING`-style semantics). Maintenance is incremental over the
      * FACT's change feed while every dim head is unchanged; a moved dim
      * triggers a full rebuild (see [[MaterializedAgg]]). */
    dimJoins: Seq[DimJoin] = Seq.empty,
    /** declared bounded staleness (BigQuery `max_staleness` role,
      * `TBLPROPERTIES (maxStaleness='N')`): the transparent rewrite may
      * serve this MV while the fact head is at most N commits past the
      * MV's applied commit — answers are then pinned to the applied
      * snapshot, the user's declared trade. 0 (default) keeps the exact
      * gate: rewrite only when applied IS the head. Dim movement is
      * never tolerated (a moved dim changes join semantics, not just
      * recency). */
    maxStalenessCommits: Int = 0,
    /** wall-clock staleness budget (`TBLPROPERTIES
      * (maxStaleness='5m')`): the rewrite may serve while every
      * UNAPPLIED source commit is younger than this window — users
      * reason in time, and commit cadence varies wildly, so a commit
      * budget is the wrong unit on a bursty table. Gated on the commit
      * wall-clock timestamps already in the log ([[Commit.tsMillis]]).
      * 0 = no time budget (the commit budget, or the exact gate,
      * applies). */
    maxStalenessMs: Long = 0L)

/** One dimension-side join of a star-schema materialized view.
  * `usingCols` is the legacy same-named (USING-semantics) form; r16
  * adds differently-named equi keys (`ON f.cust_id = d.id`) via the
  * parallel `factKeys`/`dimKeys` lists and LEFT OUTER dims via
  * `joinType` — old descriptors deserialize with the new fields null
  * and normalize through the accessors. */
final case class DimJoin(root: String, usingCols: Seq[String],
    factKeys: Seq[String] = null, dimKeys: Seq[String] = null,
    joinType: String = null) {
  def factKeysN: Seq[String] =
    Option(factKeys).getOrElse(Option(usingCols).getOrElse(Seq.empty))
  def dimKeysN: Seq[String] =
    Option(dimKeys).getOrElse(Option(usingCols).getOrElse(Seq.empty))
  def leftOuter: Boolean = Option(joinType).exists(_.equalsIgnoreCase("left"))
}

object TableDescriptor {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def file(root: String) = new Path(root, "_log/_table.json")

  def fromConfig(cfg: LakeTableConfig, schemaJson: String = ""): TableDescriptor =
    TableDescriptor(cfg.keyCols, cfg.precombineCol, cfg.partitionCols,
      cfg.globalIndex, cfg.storageType, cfg.compactEvery, cfg.hashBuckets,
      cfg.statsCols, cfg.clusterCols, cfg.zOrder, cfg.bloomKeys,
      cfg.bloomCols, cfg.sumCols, cfg.checks,
      cfg.checkMode, schemaJson, cfg.partitionTransforms, cfg.checkpointEvery,
      cfg.priorPartitionSpecs, cfg.archiveOnClean, cfg.occRetries,
      cfg.deleteMode, cfg.updateMode, cfg.shredPaths,
      identityCols = cfg.identityCols, generatedCols = cfg.generatedCols)

  def exists(root: String, hconf: Configuration): Boolean = {
    val p = file(root)
    fs(p, hconf).exists(p)
  }

  def save(root: String, d: TableDescriptor, hconf: Configuration): Unit = {
    val p = file(root)
    val f = fs(p, hconf)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(mapper.writeValueAsBytes(d)) finally out.close()
  }

  def load(root: String, hconf: Configuration): Option[TableDescriptor] = {
    val p = file(root)
    val f = fs(p, hconf)
    if (!f.exists(p)) None
    else {
      val in: java.io.InputStream = f.open(p)
      try Some(mapper.readValue(in, classOf[TableDescriptor]))
      finally in.close()
    }
  }

  private def fs(p: Path, hconf: Configuration): FileSystem =
    LocalFs.of(p, hconf)
}
