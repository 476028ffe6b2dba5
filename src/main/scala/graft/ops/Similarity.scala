package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GQuery, Tables => T}
import graft.lake.{LakeTable, LakeTableConfig}

/** Similarity search over the `embeddings` fixture (SURVEY.md §2.6;
  * BASELINE.json north star: "similarity search").
  *
  * Two paths, mirroring how this is done at 100 TB:
  *  - Brute-force cosine top-k: broadcast the (small) query set against the
  *    corpus — one scan, no shuffle of the corpus, codegen'd higher-order
  *    functions for the dot product. The right baseline when |queries| is
  *    small; cost O(N·|Q|·dim) but embarrassingly parallel.
  *  - LSH (random hyperplanes) bucketed ANN: corpus is pre-bucketed by a
  *    deterministic signature; a query probes only its bucket — the scan
  *    shrinks by ~2^bits. This is the scale path (IVF-style pruning); at
  *    100 TB the bucketed table would be written partitioned by bucket so
  *    probes are partition-pruned scans.
  */
object Similarity {

  private val Dim = 64
  private val NumQueries = 5
  private val TopK = 10

  /** vec_id offset for planted twins: twins take NEGATIVE ids
    * (original - TwinBase), which can never collide with fixture ids
    * (always >= 0) at ANY scale factor — an additive positive offset
    * would silently collide once the corpus outgrew it. Declared BEFORE
    * `queries`: the oracle SQL strings interpolate it at object init,
    * and a later declaration would read as 0 there. */
  private[graft] val TwinBase = 100000L

  // IVF parameters: K cells, nprobe probed per query, Lloyd rounds.
  // Declared BEFORE `queries` for the same init-order reason as
  // TwinBase: annIvfOracleSql interpolates them at object init.
  private val IvfCells = 16
  // nprobe = 10 of K=16 cells: measured on the fixture, recall@10 vs exact top-k is
  // 0.58 at nprobe=4, 0.80 at 8, 0.94 at 10 — mid-similarity neighbors (the
  // fixture's random-embedding top-k lives at cosine ~0.5) spread across
  // cells, so a scan budget of |corpus|·nprobe/K buys recall directly.
  // At production scale K grows with the corpus (√N cells is the usual
  // rule) and nprobe/K shrinks; the OpsSpec recall floor pins this knob.
  private val IvfProbe = 10
  private val IvfIters = 3
  private val IvfAlgo = s"lloyd-int-i$IvfIters-v1"

  /** SemDeDup keep/drop threshold in exact-integer t̂-dot space: t̂
    * components are ≈(x_i/‖x‖)·10⁶, so a dot of c·10¹² ≈ cosine c —
    * 0.93 sits far above the fixture's natural pair ceiling (~0.5) and
    * far below the planted twins (~0.9999), and the integer arithmetic
    * makes the cut engine-exact (declared before `queries` for the same
    * init-order reason as [[IvfCells]]). */
  private val SemThreshold = 930000000000L

  /** Single-pass codegen'd cosine (graft.functions.CosineSimilarity) —
    * widens float elements to double per element, so results are
    * bit-identical to the HOF `aggregate(zip_with(...))` formulation it
    * replaced, and the float arrays need no cast pass.
    */
  private def cosine(a: String, b: String): Column =
    graft.functions.CosineSimilarity.cosineSim(col(a), col(b))

  /** Deterministic ±1 hyperplane weights (LCG on (plane, dim) index) —
    * no RNG state, reproducible across runs and engines. Emitted as
    * INTEGER ±1 because the sign test runs in exact integer arithmetic
    * (see [[bucketExpr]]) so bucket assignment is order-of-summation
    * independent — the property that lets the DuckDB oracle replay the
    * bucketing bit-for-bit (float summation order differs across
    * engines and could flip a borderline sign).
    */
  private def planeWeights(nPlanes: Int): Seq[Seq[Long]] =
    (0 until nPlanes).map { p =>
      (0 until Dim).map { i =>
        val x = (p * Dim + i) * 6364136223846793005L + 1442695040888963407L
        if (((x >>> 33) & 1L) == 1L) 1L else -1L
      }
    }

  /** `planes(p, i, w)` VALUES literal for the oracle SQL — the same ±1
    * weights the Spark plan inlines, 1-based dim index to match DuckDB's
    * generate_subscripts. */
  private def planesValues(nPlanes: Int): String =
    planeWeights(nPlanes).zipWithIndex.flatMap { case (ws, p) =>
      ws.zipWithIndex.map { case (w, i) => s"($p,${i + 1},$w)" }
    }.mkString(", ")

  /** DuckDB replay of the hyperplane-LSH ANN top-k (emb_ann_lsh AND
    * emb_ann_partitioned — the partition-pruned index is candidate-set
    * identical by construction, AnnSpec pins the equality): buckets from
    * the same inlined ±1 planes over micro-scaled integer components
    * (exact, order-independent — see [[bucketExpr]]), then cosine verify
    * + rank inside the candidate buckets. */
  private def annLshOracleSql: String =
    s"""WITH planes(p, i, w) AS (VALUES ${planesValues(6)}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT vec_id, unnest(v) AS xv, generate_subscripts(v, 1) AS i FROM e),
    xi AS (SELECT vec_id, i, CAST(round(xv * 1000000) AS BIGINT) AS sx FROM x),
    dt AS (SELECT xi.vec_id, pl.p, sum(xi.sx * pl.w) AS dp
           FROM xi JOIN planes pl ON pl.i = xi.i GROUP BY 1, 2),
    bk AS (SELECT vec_id,
             CAST(sum(CASE WHEN dp > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
           FROM dt GROUP BY 1),
    nrm AS (SELECT vec_id, sqrt(sum(xv * xv)) AS nv FROM x GROUP BY 1),
    qb AS (SELECT vec_id AS qid, bucket AS qbucket FROM bk WHERE vec_id < $NumQueries),
    cand AS (SELECT qb.qid, b.vec_id FROM bk b
             JOIN qb ON b.bucket = qb.qbucket AND b.vec_id <> qb.qid),
    dots AS (SELECT c.qid, c.vec_id, sum(xa.xv * xb.xv) AS dd
             FROM cand c JOIN x xa ON xa.vec_id = c.qid
             JOIN x xb ON xb.vec_id = c.vec_id AND xb.i = xa.i
             GROUP BY 1, 2),
    scored AS (SELECT d.qid, d.vec_id, round(d.dd / (na.nv * nb.nv), 4) AS sim
               FROM dots d JOIN nrm na ON na.vec_id = d.qid
               JOIN nrm nb ON nb.vec_id = d.vec_id),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, vec_id) AS INT) AS rnk FROM scored)
    SELECT qid, vec_id, sim, rnk FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  /** DuckDB replay of the IVF ANN top-k: the full deterministic Lloyd
    * quantizer unrolled as SQL — seeds (min vec_id per residue class
    * mod K), [[IvfIters]] assignment/update rounds in the exact-integer
    * t̂ space (see [[graft.functions.UnitScaledInts]]: round(x·10⁶),
    * then ·10⁶ quot floor(√Σs²) — one correctly-rounded sqrt of an
    * exactly-representable integer, otherwise pure integer arithmetic,
    * so every engine derives identical centroids), then nprobe nearest
    * cells per query and cosine verify + rank inside them. Truncating
    * integer division is `//` here and Long `/` in Scala — probed
    * identical on negatives (both C-style, sign of dividend).
    */
  /** Shared Lloyd-on-the-base-corpus CTE prefix (e, x, sq, nn, tv,
    * seeds, c0 … c[[IvfIters]]) — the exact-integer quantizer replay
    * used verbatim by both [[annIvfOracleSql]] and
    * [[semanticDedupOracleSql]]. */
  private def ivfLloydCtes: String = {
    val k = IvfCells
    val iters = (1 to IvfIters).map { t =>
      s"""d$t AS (SELECT tv.vec_id, c.cell, sum((tv.t - c.w) * (tv.t - c.w)) AS d2
           FROM tv JOIN c${t - 1} c ON c.i = tv.i GROUP BY 1, 2),
      a$t AS (SELECT vec_id, cell FROM d$t
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1),
      u$t AS (SELECT a.cell, tv.i, CAST(sum(tv.t) AS BIGINT) AS sm, count(*) AS cnt
              FROM a$t a JOIN tv ON tv.vec_id = a.vec_id GROUP BY 1, 2),
      c$t AS (SELECT p.cell, p.i, CAST(coalesce(u.sm // u.cnt, p.w) AS BIGINT) AS w
              FROM c${t - 1} p LEFT JOIN u$t u ON u.cell = p.cell AND u.i = p.i)"""
    }.mkString(",\n    ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT vec_id, unnest(v) AS xv, generate_subscripts(v, 1) AS i FROM e),
    sq AS (SELECT vec_id, i, CAST(round(xv * 1000000) AS BIGINT) AS sx FROM x),
    nn AS (SELECT vec_id,
             CAST(floor(sqrt(CAST(sum(sx * sx) AS DOUBLE))) AS BIGINT) AS isq
           FROM sq GROUP BY 1),
    tv AS (SELECT sq.vec_id, sq.i,
             CASE WHEN nn.isq = 0 THEN 0 ELSE (sq.sx * 1000000) // nn.isq END AS t
           FROM sq JOIN nn ON nn.vec_id = sq.vec_id),
    seeds AS (SELECT CAST(vec_id % $k AS INT) AS cell, min(vec_id) AS vid
              FROM e GROUP BY 1),
    c0 AS (SELECT s.cell, tv.i, tv.t AS w FROM seeds s JOIN tv ON tv.vec_id = s.vid),
    $iters"""
  }

  private def annIvfOracleSql: String =
    s"""WITH $ivfLloydCtes,
    fd AS (SELECT tv.vec_id, c.cell, sum((tv.t - c.w) * (tv.t - c.w)) AS d2
           FROM tv JOIN c$IvfIters c ON c.i = tv.i GROUP BY 1, 2),
    af AS (SELECT vec_id, cell FROM fd
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1),
    probe AS (SELECT vec_id AS qid, cell FROM fd WHERE vec_id < $NumQueries
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) <= $IvfProbe),
    cand AS (SELECT p.qid, a.vec_id FROM af a
             JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.qid),
    nrm AS (SELECT vec_id, sqrt(sum(xv * xv)) AS nv FROM x GROUP BY 1),
    dots AS (SELECT c.qid, c.vec_id, sum(xa.xv * xb.xv) AS dd
             FROM cand c JOIN x xa ON xa.vec_id = c.qid
             JOIN x xb ON xb.vec_id = c.vec_id AND xb.i = xa.i
             GROUP BY 1, 2),
    scored AS (SELECT d.qid, d.vec_id, round(d.dd / (na.nv * nb.nv), 4) AS sim
               FROM dots d JOIN nrm na ON na.vec_id = d.qid
               JOIN nrm nb ON nb.vec_id = d.vec_id),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, vec_id) AS INT) AS rnk FROM scored)
    SELECT qid, vec_id, sim, rnk FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  /** DuckDB replay of SemDeDup (see [[semanticDedup]]): Lloyd centroids
    * on the BASE corpus ([[ivfLloydCtes]]), the PLANTED corpus (base +
    * twins, same formula as [[plantedCorpus]]) assigned to its nearest
    * final centroid, then within-cell exact-integer t̂ dot products — a
    * row keeps iff no smaller-id row in its cell dots ≥
    * [[SemThreshold]] against it. Every step is the same integer
    * arithmetic as the emb_ann_ivf replay, so keep/drop is bit-exact. */
  private def semanticDedupOracleSql: String =
    s"""WITH $ivfLloydCtes,
    px AS (SELECT vec_id, i, xv FROM x
           UNION ALL
           SELECT vec_id - $TwinBase, i,
                  CAST(CAST(xv + 0.001 * ((i - 1) % 3) AS FLOAT) AS DOUBLE)
           FROM x WHERE vec_id < 10),
    psq AS (SELECT vec_id, i, CAST(round(xv * 1000000) AS BIGINT) AS sx FROM px),
    pnn AS (SELECT vec_id,
              CAST(floor(sqrt(CAST(sum(sx * sx) AS DOUBLE))) AS BIGINT) AS isq
            FROM psq GROUP BY 1),
    ptv AS (SELECT psq.vec_id, psq.i,
              CASE WHEN pnn.isq = 0 THEN 0 ELSE (psq.sx * 1000000) // pnn.isq END AS t
            FROM psq JOIN pnn ON pnn.vec_id = psq.vec_id),
    pd AS (SELECT ptv.vec_id, c.cell, sum((ptv.t - c.w) * (ptv.t - c.w)) AS d2
           FROM ptv JOIN c$IvfIters c ON c.i = ptv.i GROUP BY 1, 2),
    asg AS (SELECT vec_id, cell FROM pd
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1),
    cp AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM asg a
           JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    dd AS (SELECT cp.va, cp.vb, sum(ta.t * tb.t) AS dot
           FROM cp JOIN ptv ta ON ta.vec_id = cp.va
           JOIN ptv tb ON tb.vec_id = cp.vb AND tb.i = ta.i
           GROUP BY 1, 2),
    dup AS (SELECT DISTINCT vb FROM dd WHERE dot >= $SemThreshold)
    SELECT a.vec_id, a.cell,
      CASE WHEN dup.vb IS NULL THEN 1 ELSE 0 END AS keep
    FROM asg a LEFT JOIN dup ON dup.vb = a.vec_id
    ORDER BY a.vec_id"""

  /** DuckDB replay of the multi-table LSH near-dup pairs over the
    * PLANTED corpus (fixture + 10 deterministic float-perturbed twins at
    * TwinBase-negative ids, same formula as [[plantedCorpus]]). */
  private def lshNearDupOracleSql: String =
    s"""WITH planes(p, i, w) AS (VALUES ${planesValues(24)}),
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bx AS (SELECT vec_id, unnest(v) AS xv, generate_subscripts(v, 1) AS i FROM base),
    x AS (SELECT vec_id, i, xv FROM bx
          UNION ALL
          SELECT vec_id - $TwinBase, i,
                 CAST(CAST(xv + 0.001 * ((i - 1) % 3) AS FLOAT) AS DOUBLE)
          FROM bx WHERE vec_id < 10),
    xi AS (SELECT vec_id, i, CAST(round(xv * 1000000) AS BIGINT) AS sx FROM x),
    dt AS (SELECT xi.vec_id, pl.p, sum(xi.sx * pl.w) AS dp
           FROM xi JOIN planes pl ON pl.i = xi.i GROUP BY 1, 2),
    bk AS (SELECT vec_id, p // 6 AS tbl,
             CAST(sum(CASE WHEN dp > 0 THEN (1 << (p % 6)) ELSE 0 END) AS INT) AS bucket
           FROM dt GROUP BY vec_id, p // 6),
    cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
             FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
    nrm AS (SELECT vec_id, sqrt(sum(xv * xv)) AS nv FROM x GROUP BY 1),
    dots AS (SELECT c.va, c.vb, sum(xa.xv * xb.xv) AS dd
             FROM cand c JOIN x xa ON xa.vec_id = c.va
             JOIN x xb ON xb.vec_id = c.vb AND xb.i = xa.i
             GROUP BY 1, 2),
    s AS (SELECT d.va, d.vb, round(d.dd / (na.nv * nb.nv), 4) AS sim
          FROM dots d JOIN nrm na ON na.vec_id = d.va
          JOIN nrm nb ON nb.vec_id = d.vb)
    SELECT va, vb, sim FROM s WHERE sim >= 0.5 ORDER BY va, vb"""

  private def corpus(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))

  private def rankTopK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Build-once LSH-partitioned embedding index as a LakeTable: the
    * corpus is written partitioned BY BUCKET, so an ANN probe is a
    * partition-pruned scan — the physical layout behind the
    * "bucketed table at 100 TB" claim, and updatable via upsert.
    */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[String, graft.lake.LakeTable]()

  private def annIndex(s: SparkSession, d: String, nPlanes: Int): graft.lake.LakeTable =
    indexCache.computeIfAbsent(s"$d:$nPlanes", _ => {
      val root = s"/tmp/graft_annidx/${d.replaceAll("[^A-Za-z0-9.]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val t = graft.lake.LakeTable(s, graft.lake.LakeTableConfig(
        root, keyCols = Seq("vec_id"), precombineCol = "vec_id",
        partitionCols = Seq("bucket")))
      t.bulkInsert(corpus(s, d)
        .withColumn("bucket", bucketExpr("v", nPlanes)))
      t
    })

  val queries: Seq[GQuery] = Seq(

    // ---- brute-force cosine top-k (oracle-checked) --------------------
    GQuery("emb_cosine_topk",
      (s, d) => {
        val scored = corpus(s, d)
          .crossJoin(broadcast(queriesDf(s, d)))
          .filter(col("vec_id") =!= col("qid"))
          // round BEFORE ranking so both engines rank identical values
          .withColumn("sim", round(cosine("v", "qv"), 4))
        rankTopK(scored)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT vec_id, unnest(v) AS xv, generate_subscripts(v, 1) AS i FROM e),
        nrm AS (SELECT vec_id, sqrt(sum(xv * xv)) AS nv FROM x GROUP BY 1),
        q AS (SELECT vec_id AS qid, i AS qi, xv AS qx FROM x WHERE vec_id < $NumQueries),
        dots AS (SELECT q.qid, x.vec_id, sum(q.qx * x.xv) AS dt
                 FROM q JOIN x ON x.i = q.qi AND x.vec_id <> q.qid
                 GROUP BY 1, 2),
        scored AS (SELECT d.qid, d.vec_id,
                     round(d.dt / (na.nv * nb.nv), 4) AS sim
                   FROM dots d
                   JOIN nrm na ON na.vec_id = d.qid
                   JOIN nrm nb ON nb.vec_id = d.vec_id)
        SELECT qid, vec_id, sim, rnk FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, vec_id) AS INT) AS rnk
          FROM scored) t
        WHERE rnk <= $TopK ORDER BY qid, rnk""")),

    // ---- top-k over INT8-QUANTIZED vectors (exact integer ranking) ----
    // the compressed-corpus search path: 4× smaller vectors, dot
    // products in integer space — and because integer arithmetic is
    // exact, the ENTIRE ranking is oracle-checkable bit-for-bit (the
    // float-cosine form above must pre-round before ranking)
    GQuery("emb_ann_quantized",
      (s, d) => {
        val q = T.embeddings(s, d)
          .select(col("vec_id"), Prep.quantizeInt8(col("embedding")).as("q"))
        val probes = q.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("q").as("pq"))
        val dots = q.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("dot", expr(
            "aggregate(zip_with(q, pq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("dot").desc, col("vec_id"))
        dots.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("probe_id"), col("vec_id"), col("dot"), col("rn"))
          .orderBy("probe_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings),
        qv AS (SELECT vec_id,
            list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
              ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / m) AS BIGINT) END) AS q
          FROM e),
        p AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < 5),
        d AS (SELECT p.probe_id, qv.vec_id,
            (SELECT CAST(SUM(qv.q[i] * p.pq[i]) AS BIGINT)
             FROM unnest(generate_series(1, len(qv.q))) s(i)) AS dot
          FROM qv, p WHERE qv.vec_id <> p.probe_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                ORDER BY dot DESC, vec_id) AS rn FROM d)
        SELECT probe_id, vec_id, dot, CAST(rn AS INT) AS rn
        FROM r WHERE rn <= 5 ORDER BY probe_id, rn""")),

    // ---- embedding-cosine near-dup dedup (exact all-pairs baseline) ---
    // the corpus-dedup use of similarity: pairs above a cosine threshold.
    // Exact O(N²) is the verification baseline; the LSH-bucketed path
    // below is the scale variant (candidates only within buckets).
    GQuery("emb_neardup_pairs",
      (s, d) => exactNearDupPairs(corpus(s, d), 0.5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT vec_id, unnest(v) AS xv, generate_subscripts(v, 1) AS i FROM e),
        nrm AS (SELECT vec_id, sqrt(sum(xv * xv)) AS nv FROM x GROUP BY 1),
        d AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.xv * b.xv) AS dt
              FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
              GROUP BY 1, 2),
        s AS (SELECT va, vb, round(dt / (na.nv * nb.nv), 4) AS sim
              FROM d JOIN nrm na ON na.vec_id = va JOIN nrm nb ON nb.vec_id = vb)
        SELECT va, vb, sim FROM s WHERE sim >= 0.5 ORDER BY va, vb""")),

    // ---- LSH-bucketed near-dup PAIRS (the production-scale dedup path)
    // Multi-table random-hyperplane LSH: L=4 tables of k=6 planes each;
    // candidate pairs are generated ONLY within a (table, bucket) group —
    // the self-join exchanges (vec_id, table, bucket) scalars, never the
    // embedding payloads, which re-join once for the cosine verify. The
    // exact all-pairs query above stays as the fenced verification
    // baseline (OpsSpec asserts subset + recall on the planted dups);
    // this is the O(N·L + candidates) shape that survives 100 TB.
    //
    // The corpus carries 10 deterministic high-cosine twins (negative
    // vec_ids, same perturbation as OpsSpec's recall test): the fixture's
    // only natural pair sits at cosine ~0.5 where hyperplane-LSH recall is
    // ~0.3 BY DESIGN (tuned for true near-duplicates), so without planted
    // twins the entry returned 0 rows at some SFs and demonstrated
    // nothing. With them it returns ≥10 verified pairs at every SF.
    GQuery("emb_neardup_lsh",
      (s, d) => lshNearDupPairs(plantedCorpus(corpus(s, d)), 0.5),
      Some(lshNearDupOracleSql)),

    // ---- LSH-bucketed ANN (scale path; rows-only, AnnSpec checks recall)
    GQuery("emb_ann_lsh",
      (s, d) => {
        val nPlanes = 6
        val bucketed = corpus(s, d)
          .withColumn("bucket", bucketExpr("v", nPlanes))
        val scored = bucketed
          .join(broadcast(queryBuckets(s, d, nPlanes)),
            col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
          .withColumn("sim", round(cosine("v", "qv"), 4))
        rankTopK(scored)
      },
      Some(annLshOracleSql)),

    // ---- IVF ANN (Lloyd coarse quantizer; oracle-checked) -------------
    // the data-ADAPTIVE bucketing counterpart to the hyperplane LSH
    // above: corpus rows live in their nearest-centroid cell, a query
    // probes its nprobe nearest cells — scan cost |corpus|·nprobe/K.
    // At 100 TB the cells become the partition column of a LakeTable
    // exactly as emb_ann_partitioned does for LSH buckets. The quantizer
    // clusters in the exact-integer t̂ space (UnitScaledInts), so
    // centroids, assignment, and probe choice are all engine-exact and
    // the whole query replays in DuckDB ([[annIvfOracleSql]]).
    GQuery("emb_ann_ivf",
      (s, d) => {
        val centers = ivfCentroids(s, d)
        val cells = assignCells(corpus(s, d), centers)
        // nprobe nearest cells per query in the SAME exact-integer
        // metric assignment uses, driver-side over the K collected
        // centroids (metadata-scale, like the LSH probe set)
        val probes = queriesDf(s, d).collect().toSeq.flatMap { r =>
          val qid = r.getLong(0)
          val t = graft.functions.UnitScaledInts.scaleFloats(r.getSeq[Float](1))
          centers.zipWithIndex.map { case (c, i) =>
            var d2 = 0L; var j = 0
            val lim = math.min(t.length, c.length)
            while (j < lim) { val df = t(j) - c(j); d2 += df * df; j += 1 }
            (i, d2)
          }.sortBy(p => (p._2, p._1)).take(IvfProbe).map(p => (qid, p._1))
        }
        import s.implicits._
        val probeDf = probes.toDF("qid", "cell")
          .join(queriesDf(s, d), "qid") // reattach query vectors
        val scored = cells
          .join(broadcast(probeDf),
            cells("cell") === probeDf("cell") && col("vec_id") =!= col("qid"))
          .withColumn("sim", round(cosine("v", "qv"), 4))
        rankTopK(scored)
      },
      Some(annIvfOracleSql)),

    // ---- partition-pruned ANN over the LSH-partitioned lake index -----
    // same candidates as emb_ann_lsh (AnnSpec asserts equality), but the
    // corpus is a LakeTable partitioned BY BUCKET: the probe resolves its
    // buckets, prunes live files on commit-log metadata, and scans only
    // those partitions — the probe cost is |bucket|, not |corpus|, and
    // the index stays updatable via upsert
    GQuery("emb_ann_partitioned",
      (s, d) => {
        val nPlanes = 6
        val idx = annIndex(s, d, nPlanes)
        val qb = queryBuckets(s, d, nPlanes)
        val probes = qb.select(col("qbucket").cast("string"))
          .distinct().collect().map(_.getString(0)).toSet
        val scored = idx.readPartitions(probes)
          .join(broadcast(qb), col("bucket") === col("qbucket") &&
            col("vec_id") =!= col("qid"))
          .withColumn("sim", round(cosine("v", "qv"), 4))
        rankTopK(scored)
      },
      Some(annLshOracleSql)),

    // ---- SemDeDup: embedding-cluster semantic dedup (oracle-checked) --
    // keep-one-per-near-dup-group WITHIN each IVF cell — pairwise work
    // is cell-bounded (Σ n_c², never N²); see [[semanticDedup]]
    GQuery("emb_semantic_dedup",
      (s, d) => semanticDedup(s, d),
      Some(semanticDedupOracleSql)),

    // ---- k-means clustering surfaced as an operator -------------------
    // the deterministic Lloyd quantizer as a first-class clustering
    // query (cluster cardinalities + canonical member) — the structure
    // SemDeDup and IVF probing build on, and the corpus-partitioning
    // signal a curation pipeline inspects directly (cluster balance,
    // coverage). One shuffle of (cell) scalars; assignment is the
    // codegen'd per-row argmin, centroids load from the persisted lake
    // table.
    GQuery("emb_kmeans_cells",
      (s, d) => assignCells(corpus(s, d), ivfCentroids(s, d))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_members"), min("vec_id").as("min_vec"))
        .orderBy("cell"),
      Some(s"""WITH $ivfLloydCtes,
        fd AS (SELECT tv.vec_id, c.cell, sum((tv.t - c.w) * (tv.t - c.w)) AS d2
               FROM tv JOIN c$IvfIters c ON c.i = tv.i GROUP BY 1, 2),
        af AS (SELECT vec_id, cell FROM fd
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1)
        SELECT cell, count(*) AS n_members, min(vec_id) AS min_vec
        FROM af GROUP BY 1 ORDER BY cell"""))
  )


  /** IVF coarse quantizer: deterministic Lloyd iterations over the
    * EXACT-INTEGER unit vectors t̂ ([[graft.functions.UnitScaledInts]]) —
    * unit-scaled so euclidean cells align with cosine similarity
    * (‖a−b‖² = 2−2·cos on unit vectors), integer so every step (seeding,
    * assignment, centroid update, probe choice) is summation-order-free
    * and replays bit-for-bit in any engine: this is what graduated
    * `emb_ann_ivf` from rows-only to the driver's DuckDB hash gate.
    *
    *  - seeds: the smallest vec_id in each residue class mod K — one
    *    shuffle-free map-side-combined `groupBy(vec_id % K).min`, no
    *    global sort, no RNG (k-means++'s quality edge matters little
    *    here: nprobe/K = 10/16 probes most cells, and the OpsSpec recall
    *    floor pins the outcome).
    *  - [[IvfIters]] Lloyd rounds: assignment is the native one-pass
    *    [[graft.functions.NearestCell]] argmin (lowest cell wins ties);
    *    the update shuffles only (cell, dim) partial sums — K·dim rows
    *    collected to the driver, where the new centroid is the
    *    TRUNCATING integer mean sm quot cnt (empty cells keep their
    *    previous centroid). O(iters) jobs, no MLlib model object.
    *
    * The K centroids are PERSISTED as a [[LakeTable]] versioned with the
    * corpus (the BM25 commit-metadata pattern): the build commit records
    * (k, algo, corpus row count), and any session whose parameters +
    * corpus match loads the K×dim centroid rows (metadata-scale) instead
    * of re-training — the ANN index is reproducible across restarts and
    * cannot silently diverge from the corpus it quantized. A parameter
    * or corpus mismatch rebuilds under a fresh version.
    */
  private val IvfKKey = "graft.ivf.k"
  private val IvfAlgoKey = "graft.ivf.algo"
  private val IvfRowsKey = "graft.ivf.corpus_rows"

  /** per-JVM fast path only — the durable copy is the lake table */
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()

  /** spec hooks: training counter + cache drop to simulate a fresh session */
  private[graft] val ivfTrains = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def ivfCacheReset(): Unit = ivfCache.clear()

  private[graft] def ivfTable(s: SparkSession, d: String): LakeTable =
    LakeTable(s, LakeTableConfig(
      s"/tmp/graft_lake/ivf_${d.replaceAll("[^A-Za-z0-9.]", "_")}",
      keyCols = Seq("cell"), precombineCol = "ver"))

  private def ivfCentroids(s: SparkSession, d: String): Array[Array[Long]] =
    ivfCache.computeIfAbsent(d, _ => {
      val t = ivfTable(s, d)
      val nRows = corpus(s, d).count()
      val persisted =
        if (!t.exists) None
        else {
          val meta = t.log.commits.last.metadata
          if (meta.get(IvfKKey).contains(IvfCells.toString) &&
              meta.get(IvfAlgoKey).contains(IvfAlgo) &&
              meta.get(IvfRowsKey).contains(nRows.toString))
            Some(t.read().select("cell", "centroid").collect()
              .sortBy(_.getInt(0)).map(_.getSeq[Long](1).toArray))
          else None // parameters or corpus moved: retrain below
        }
      persisted.getOrElse {
        ivfTrains.incrementAndGet()
        val tv = corpus(s, d).withColumn("tv",
          graft.functions.UnitScaledInts.unitScaled(col("v")))
        // seeds: smallest vec_id per residue class mod K — map-side-
        // combined agg, no sort, no RNG. Fixture ids are dense from 0,
        // so every class is populated at any SF; an empty class would
        // keep a zero centroid, which the recall-floor spec would flag.
        val seedIds = corpus(s, d)
          .groupBy(pmod(col("vec_id"), lit(IvfCells.toLong)).as("cell"))
          .agg(min(col("vec_id")).as("vid"))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        // fail fast if a residue class is empty: the engine would keep a
        // zero centroid for that cell but the oracle's c0 CTE would LACK
        // the cell entirely, so the two would silently diverge on any
        // corpus without dense-from-0 ids (ADVICE r10)
        require(seedIds.size == IvfCells,
          s"IVF seeding needs every residue class mod $IvfCells populated; " +
            s"got ${seedIds.size} — corpus ids are not dense enough for this seeder")
        val seedRows = tv.filter(col("vec_id").isin(seedIds.values.toSeq: _*))
          .select(col("vec_id"), col("tv")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
        var cents: Array[Array[Long]] = (0 until IvfCells).map(c =>
          seedIds.get(c).flatMap(seedRows.get)
            .getOrElse(new Array[Long](Dim))).toArray
        // Lloyd rounds: one job each — per-row argmin (no shuffle of the
        // corpus), then (cell, dim) partial sums; K·dim rows collect
        for (_ <- 1 to IvfIters) {
          val agg = tv
            .select(graft.functions.NearestCell
                .nearest(col("tv"), cents.toSeq.map(_.toSeq)).as("cell"),
              posexplode(col("tv")).as(Seq("i", "tval")))
            .groupBy(col("cell"), col("i"))
            .agg(sum(col("tval")).as("sm"), count(lit(1)).as("cnt"))
            .collect()
          val next = cents.map(_.clone()) // empty cells keep previous
          agg.foreach { r =>
            // truncating integer mean — same result as DuckDB's `//`
            next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
          }
          cents = next
        }
        import s.implicits._
        val rows = cents.zipWithIndex
          .map { case (c, i) => (i, c.toSeq, 0) }.toSeq
          .toDF("cell", "centroid", "ver")
        if (t.exists) { // stale version: rebuild fresh under new params
          val root = new org.apache.hadoop.fs.Path(t.config.root)
          root.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(root, true)
        }
        ivfTable(s, d).bulkInsert(rows, Map(
          IvfKKey -> IvfCells.toString, IvfAlgoKey -> IvfAlgo,
          IvfRowsKey -> nRows.toString))
        cents
      }
    })

  /** Cell assignment straight from the persisted centroids — the same
    * native one-pass exact-integer argmin the Lloyd rounds use
    * ([[graft.functions.NearestCell]] over [[graft.functions.UnitScaledInts]]),
    * so a restored session needs no model object at all. Ties take the
    * lowest cell, matching the oracle's row_number() tie rule. */
  private def assignCells(c: DataFrame, centers: Array[Array[Long]]): DataFrame =
    c.withColumn("cell", graft.functions.NearestCell.nearest(
        graft.functions.UnitScaledInts.unitScaled(col("v")),
        centers.toSeq.map(_.toSeq)))
      .select(col("vec_id"), col("v"), col("cell"))

  /** exposed so Bench can time the quantizer build separately */
  private[graft] def ensureIvf(s: SparkSession, d: String): Unit = {
    ivfCentroids(s, d); ()
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-cluster
    * semantic dedup — the embedding-side dual of `doc_dedup_semantic`.
    * The corpus is coarse-quantized into the [[IvfCells]] Lloyd cells
    * ([[ivfCentroids]], trained once on the base corpus and PERSISTED as
    * a lake table), and near-duplicate detection runs ONLY WITHIN a
    * cell: a row is dropped iff a smaller-id row in ITS OWN cell has t̂
    * dot ≥ [[SemThreshold]]. Pairwise work is Σ_c n_c² — CELL-bounded,
    * never corpus-bounded (OpsSpec pins the candidate count to exactly
    * Σ_c C(n_c,2)); at 100 TB cells become lake partitions (the
    * emb_ann_partitioned layout) and each cell dedups inside its own
    * partition with no cross-partition shuffle. All arithmetic is the
    * exact-integer t̂ space of the IVF family, so the DuckDB oracle
    * replays keep/drop decisions bit-for-bit.
    *
    * Input is the planted corpus (10 deterministic cosine≈0.9999 twins):
    * like emb_neardup_lsh, the fixture's natural cosine ceiling ~0.5
    * means an unplanted run would drop nothing and demonstrate nothing.
    * Returns (vec_id, cell, keep 1/0) for every planted row.
    */
  private[graft] def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val t = semanticDedupCells(s, d)
    val dups = semanticDupCandidates(t)
      .filter(col("dot") >= SemThreshold)
      .select(col("vb")).distinct()
    t.join(dups, t("vec_id") === dups("vb"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("vb").isNull, 1).otherwise(0).as("keep"))
      .orderBy("vec_id")
  }

  /** planted corpus assigned to its IVF cell with the exact-integer t̂
    * vector attached — split out so OpsSpec can count candidates */
  private[graft] def semanticDedupCells(s: SparkSession, d: String): DataFrame =
    assignCells(plantedCorpus(corpus(s, d)), ivfCentroids(s, d))
      .withColumn("t", graft.functions.UnitScaledInts.unitScaled(col("v")))
      .select(col("vec_id"), col("cell"), col("t"))

  /** within-cell (va < vb) pairs with their exact-integer t̂ dot — split
    * out so OpsSpec can assert the candidate set is cell-bounded */
  private[graft] def semanticDupCandidates(t: DataFrame): DataFrame = {
    val a = t.select(col("vec_id").as("va"), col("cell"), col("t").as("ta"))
    val b = t.select(col("vec_id").as("vb"), col("cell"), col("t").as("tb"))
    a.join(b, "cell").filter(col("va") < col("vb"))
      .withColumn("dot", expr(
        "aggregate(zip_with(ta, tb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .select(col("va"), col("vb"), col("dot"))
  }


  /** Add slightly-perturbed twins (cosine ≈ 0.9999) of the first 10
    * vectors, ids offset to [[TwinBase]]-negative — deterministic, same
    * perturbation as OpsSpec's planted-recall test. Guarantees the LSH
    * near-dup path has true near-duplicates to find at every SF.
    */
  private[graft] def plantedCorpus(c: DataFrame): DataFrame = {
    val twins = c.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") - TwinBase)
      .withColumn("v",
        expr("transform(v, (x, i) -> cast(x + 0.001d * (i % 3) as float))"))
    c.unionByName(twins)
  }

  /** Exact all-pairs near-dup baseline over a (vec_id, v) corpus:
    * O(N²) crossJoin — the fenced VERIFICATION baseline only; the
    * production path is [[lshNearDupPairs]].
    */
  private[graft] def exactNearDupPairs(c: DataFrame, minSim: Double): DataFrame = {
    // spreadSmall on the STREAM side: the cross join is a broadcast
    // nested loop whose cost is the per-row cosine over N² pairs; a
    // 1-split corpus runs the whole quadratic verify on one core
    val a = T.spreadSmall(c).select(col("vec_id").as("va"), col("v").as("x"))
    val b = c.select(col("vec_id").as("vb"), col("v").as("y"))
    a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("sim", round(cosine("x", "y"), 4))
      .filter(col("sim") >= minSim)
      .select(col("va"), col("vb"), col("sim"))
      .orderBy("va", "vb")
  }

  /** Multi-table random-hyperplane LSH near-dup pairs: L tables of k
    * planes each; candidate pairs are generated ONLY within a
    * (table, bucket) group. The self-join exchanges (vec_id, tbl, bucket)
    * scalars — never the embedding payloads, which re-join once for the
    * cosine verify — so the shape is O(N·L + candidates), not O(N²).
    * P(candidate) = 1-(1-p^k)^L with p = 1-θ/π: ≈0.997 at cosine 0.99,
    * ≈0.32 at 0.5 — tuned for true near-duplicates, as in production
    * embedding dedup.
    */
  private[graft] def lshNearDupPairs(
      c: DataFrame, minSim: Double, k: Int = 6, L: Int = 4): DataFrame = {
    val buckets = c.select(col("vec_id"),
        posexplode(graft.functions.HyperplaneBuckets.buckets(col("v"), k, L, Dim)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val a = buckets.as("a"); val b = buckets.as("b")
    val cand = a.join(b,
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .dropDuplicates("va", "vb")
    cand
      .join(c.select(col("vec_id").as("va"), col("v").as("x")), "va")
      .join(c.select(col("vec_id").as("vb"), col("v").as("y")), "vb")
      .withColumn("sim", round(cosine("x", "y"), 4))
      .filter(col("sim") >= minSim)
      .select(col("va"), col("vb"), col("sim"))
      .orderBy("va", "vb")
  }

  /** LSH bucket id: sign bit per hyperplane, packed into an int — the
    * single-table form of [[graft.functions.HyperplaneBuckets]] (native
    * one-pass expression; see its scaladoc for the exact-integer
    * portability contract and why the HOF formulation lost 4x to
    * CSE-blind lambda re-evaluation).
    */
  private def bucketExpr(vcol: String, nPlanes: Int): Column =
    element_at(graft.functions.HyperplaneBuckets.buckets(
      col(vcol), nPlanes, 1, Dim), 1)

  private def queryBuckets(s: SparkSession, d: String, nPlanes: Int) =
    queriesDf(s, d).withColumn("qbucket", bucketExpr("qv", nPlanes))

  /** exposed so Bench can time the index build separately */
  private[graft] def ensureAnnIndex(s: SparkSession, d: String): Unit =
    annIndex(s, d, 6)
}
