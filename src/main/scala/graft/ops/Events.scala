package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GQuery, Tables => T}

/** Event-time operators over the `events` fixture (SURVEY.md §2.5
  * streaming row): tumbling/sliding windows and gap-based sessionization —
  * the batch expressions of the Structured Streaming queries in
  * graft.streaming (same `window()` call works on a stream with a
  * watermark; see StreamingSpec).
  *
  * All time outputs are epoch-milliseconds BIGINT: the fixture has
  * ns-precision timestamps, DuckDB keeps ns while Spark truncates to µs,
  * so raw timestamp outputs would never hash-match (TESTDATA trap).
  */
object Events {

  private val GapMs = 30 * 60 * 1000L // 30-minute session gap

  /** Fingerprint of the source events fixture: (relative path, size,
    * mtime) of every data file. Staging dirs record the fingerprint they
    * were built from in a `_STAGED_FP` marker (leading `_` ⇒ invisible to
    * Spark's file sources); a match means the stage is current and the
    * copy/derive work is skipped entirely. This keeps staging O(listing)
    * on the hot query path — the r9 bench charged a full fixture re-copy
    * to every stream query — while a driver-REGENERATED fixture still
    * re-stages (the r8 trap: a per-JVM once-cache would pin the first
    * copy forever; mtimes change on regeneration, so the marker cannot).
    */
  private def sourceFingerprint(d: String): String = {
    import java.nio.file.{Files, Path => JPath, Paths}
    val src = Paths.get(s"$d/events.parquet")
    // leading version token: bumping it invalidates every staged dir
    // when the staging LAYOUT changes (v2 = flat data files)
    val sb = new StringBuilder("v2\n")
    def walk(p: JPath): Unit =
      if (Files.isDirectory(p)) {
        val listing = Files.list(p)
        try listing.sorted().forEach { c =>
          if (!c.getFileName.toString.startsWith(".")) walk(c)
        } finally listing.close()
      } else sb.append(src.relativize(p)).append('|')
        .append(Files.size(p)).append('|')
        .append(Files.getLastModifiedTime(p).toMillis).append('\n')
    walk(src)
    sb.toString
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val listing = Files.list(p)
        try listing.forEach(deleteRec) finally listing.close()
      }
      Files.delete(p)
    }
  }

  /** Memoized staging dir for one variant: rebuilt by `build` only when
    * the source fixture's fingerprint changed, else served as-is. The
    * dir is wiped before rebuild so leftovers from an older fixture
    * shape (file vs directory, stale sentinel schema) can't survive.
    */
  private def staged(d: String, variant: String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths}
    val dir = s"/tmp/graft_stream_ev/${d.replaceAll("[^A-Za-z0-9.]", "_")}$variant"
    val fp = sourceFingerprint(d)
    val marker = Paths.get(s"$dir/_STAGED_FP")
    this.synchronized {
      val current = Files.exists(marker) && Files.readString(marker) == fp
      if (!current) {
        deleteRec(Paths.get(dir))
        Files.createDirectories(Paths.get(dir))
        build(dir)
        Files.writeString(marker, fp)
      }
    }
    dir
  }

  /** Copy the events fixture's DATA FILES flat into `dir` (f0.parquet,
    * f1.parquet, …). Flattening matters: Spark's file-STREAM source does
    * not descend into non-`key=value` subdirectories, so staging a
    * directory-shaped fixture as `dir/events.parquet/part-*.parquet`
    * yields an empty stream (silently — 0 rows; bitten by the ScaleCheck
    * replicas, whose tables are Spark-written directories). A flat copy
    * serves file and directory fixtures identically.
    */
  private def copyFixtureFlat(d: String, dir: String): Unit = {
    import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
    val src = Paths.get(s"$d/events.parquet")
    var n = -1
    def next(): JPath = { n += 1; Paths.get(s"$dir/f$n.parquet") }
    def walk(from: JPath): Unit =
      if (Files.isDirectory(from)) {
        val listing = Files.list(from)
        try listing.sorted().forEach { p =>
          val name = p.getFileName.toString
          if (!name.startsWith(".") && !name.startsWith("_")) walk(p)
        } finally listing.close()
      } else Files.copy(from, next(), StandardCopyOption.REPLACE_EXISTING)
    walk(src)
    require(n >= 0, s"no data files under $src")
  }

  /** Plain copy of the events fixture into a staging dir (the file-stream
    * source needs a stable directory it can list).
    */
  private def stagePlain(d: String): String =
    staged(d, "")(copyFixtureFlat(d, _))

  /** Staging for the outer-interval-join stream: the plain fixture PLUS a
    * far-future sentinel click+purchase pair that pushes the watermark
    * past every real event (see the stream_outer_interval_join query doc).
    * Dedicated dir: the sentinel must never leak into the plain stage the
    * other stream queries read. Sentinel rows carry the SAME physical ts
    * type as the raw fixture — the file-stream declares raw.schema over
    * both — so epoch-ms is re-encoded per the fixture's actual encoding
    * (ns-as-long / TIMESTAMP_NTZ / timestamp; see Tables.normalizeEventTs
    * for the inventory).
    */
  private def stageOij(s: org.apache.spark.sql.SparkSession, d: String): String =
    staged(d, "_oij") { dir =>
      copyFixtureFlat(d, dir)
      val raw = s.read.parquet(s"$d/events.parquet")
      val rawTsFromMs: org.apache.spark.sql.Column =
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => col("ms") * 1000000L
          case org.apache.spark.sql.types.TimestampNTZType =>
            expr("timestamp_millis(ms)")
              .cast(org.apache.spark.sql.types.TimestampNTZType)
          case _ => expr("timestamp_millis(ms)")
        }
      import s.implicits._
      val maxMs = T.normalizeEventTs(raw)
        .select(max(unix_millis(col("ts")))).head.getLong(0)
      val far = maxMs + 10L * 24 * 3600 * 1000
      // BOTH event types: the join's effective watermark is the MIN
      // across the two inputs, so a purchase-only sentinel would leave
      // the click-side watermark at max(click_ts) − delay and withhold
      // the trailing ~(delay + interval) of real clicks. The sentinel
      // click sits 2h after the sentinel purchase so the two never
      // match each other.
      Seq((-1L, far, -1L, "purchase", 0.0, "{}"),
          (-2L, far + 2L * 3600 * 1000, -1L, "click", 0.0, "{}"))
        .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
        .select(col("event_id"), rawTsFromMs.as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$dir/sentinel.parquet")
    }

  /** Staging for the streaming-dedup query: three mod-time-ordered batch
    * files (fixture, near-duplicates within the watermark delay, far
    * re-sends after state eviction — see the stream_dedup query doc).
    * Derived deterministically from the fixture, so the fingerprint
    * memoization applies: the Spark jobs that derive the batches run once
    * per fixture generation, not once per query invocation.
    */
  private def stageDedup(s: org.apache.spark.sql.SparkSession, d: String): String =
    staged(d, "_dedup") { dir =>
      val raw = s.read.parquet(s"$d/events.parquet")
      val norm = T.normalizeEventTs(raw)
        .withColumn("ts", expr("timestamp_millis(unix_millis(ts))"))
        .select("event_id", "ts", "user_id", "event_type")
      val maxMs = norm.select(max(unix_millis(col("ts")))).head.getLong(0)
      val delayMs = 2L * 3600 * 1000 // dedupStream delay: 2 hours
      val near = norm.filter(col("event_id") % 11 === 0 &&
        unix_millis(col("ts")) >= maxMs - 2 * delayMs)
      val far = norm.filter(col("event_id") % 97 === 0 &&
        unix_millis(col("ts")) < maxMs - 2 * delayMs)
        .withColumn("ts", expr(s"timestamp_millis(${maxMs}L)"))
      Seq(norm, near, far).zipWithIndex.foreach { case (df, i) =>
        val p = s"$dir/f$i.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(p)
        // pin mod times so the file source replays batches in order
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach(f =>
          f.toFile.setLastModified(1000000000000L + i * 60000L))
      }
    }

  /** Pre-build every stream staging variant (Bench build-lane entry): the
    * per-query staging calls then hit the fingerprint fast path, so the
    * timed stream queries measure the stream, not fixture copying — the
    * r9 driver bench charged staging I/O (under ambient contention) to
    * the stream queries themselves.
    */
  def ensureStaged(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    stagePlain(d); stageOij(s, d); stageDedup(s, d)
  }

  /** Run a bounded streaming frame to completion into a memory sink.
    * State-store partition count is dropped to 8 for the run: stateful
    * operators pay a per-partition state-store commit on EVERY
    * micro-batch, so at fixture scale 32 shuffle partitions spend more
    * wall time committing near-empty stores than joining (on a real
    * cluster the conf stays at the site's parallelism — this scoping is
    * about the fixture's micro-batches, not a product default).
    */
  private def runStream(
      s: org.apache.spark.sql.SparkSession, name: String,
      frame: DataFrame, mode: String = "append"): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // fixed, not a conf knob: an A/B of 4 vs 8 measured flat
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = frame.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** File-stream source over a staged events dir, event time normalized
    * ONCE for every stream query through the shared fixture adapter
    * (`Tables.normalizeEventTs`: ns-as-long / TIMESTAMP_NTZ / timestamp
    * fixtures all become proper TimestampType), then ms-truncated —
    * Spark compares event times at µs and DuckDB at ns, so any boundary
    * comparison (join intervals, window edges) must happen in the shared
    * ms space.
    */
  private def eventStream(
      s: org.apache.spark.sql.SparkSession, raw: DataFrame, srcDir: String,
      recursive: Boolean = false): DataFrame = {
    val reader = s.readStream.schema(raw.schema)
    val st = (if (recursive) reader.option("recursiveFileLookup", "true")
              else reader).parquet(srcDir)
    T.normalizeEventTs(st)
      .withColumn("ts", expr("timestamp_millis(unix_millis(ts))"))
  }

  /** Cohort retention triangle: entities cohorted by their first
    * `cohortType` period, counted distinct on every later active period
    * — (cohort, offset, n_active). One entity-key equi-join of the
    * cohort min against distinct activity periods; every aggregate
    * map-side combines. `timeCol` should already be an integer period
    * (e.g. epoch-day) so the math is engine-exact.
    */
  def retention(
      events: DataFrame, entityCol: String, typeCol: String,
      timeCol: String, cohortType: String): DataFrame = {
    val cohort = events.filter(col(typeCol) === cohortType)
      .groupBy(col(entityCol)).agg(min(col(timeCol)).as("cohort_day"))
    val active = events.select(col(entityCol), col(timeCol)).distinct()
    cohort.join(active, entityCol)
      .withColumn("day_offset", col(timeCol) - col("cohort_day"))
      .filter(col("day_offset") >= 0)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col(entityCol)).as("n_active"))
  }

  val queries: Seq[GQuery] = Seq(

    // ---- tumbling event-time window -----------------------------------
    GQuery("ev_hourly_tumbling",
      (s, d) => T.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .select(unix_millis(col("window.start")).as("hour_ms"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy("hour_ms", "event_type"),
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""")),

    // ---- the SAME windowed aggregation, end-to-end as a STREAM --------
    // events parquet → file-source stream → watermark + tumbling window
    // (graft.streaming.Streaming.hourlyCounts) → memory sink, compared
    // against the identical DuckDB oracle as the batch form above: the
    // streaming and batch expressions of one aggregation must converge
    // to the same table (complete output mode ⇒ final result is exact).
    GQuery("stream_hourly_tumbling",
      (s, d) => {
        val srcDir = stagePlain(d)
        val raw = s.read.parquet(s"$d/events.parquet")
        val stream = eventStream(s, raw, srcDir)
        val name = s"stream_hourly_${System.nanoTime()}"
        val q = graft.streaming.Streaming.hourlyCounts(stream)
          .writeStream.outputMode("complete").format("memory")
          .queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).orderBy("hour_ms", "event_type")
      },
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""")),

    // ---- streaming exact dedup (bounded state) -------------------------
    // graft.streaming.Streaming.dedupStream over a 3-batch staged stream
    // (maxFilesPerTrigger=1, mod-time ordered): batch 1 the events
    // fixture, batch 2 VERBATIM copies of recent rows — duplicates
    // arriving within the watermark delay, dropped by key state — and
    // batch 3 re-sends of OLD keys at a fresh event time, after the
    // advancing watermark evicted their state: those are re-emitted,
    // the documented bounded-state contract (duplicates separated
    // farther than the delay route to the batch dedup passes). The
    // oracle is the fixture plus exactly the batch-3 re-sends.
    GQuery("stream_dedup",
      (s, d) => {
        val srcDir = stageDedup(s, d)
        // schema of the staged batches: fixture schema post-normalization
        // (derived from the raw footer only — no Spark job)
        val normSchema = T.normalizeEventTs(s.read.parquet(s"$d/events.parquet"))
          .select("event_id", "ts", "user_id", "event_type").schema
        val stream = s.readStream.schema(normSchema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(srcDir)
        val name = s"stream_dedup_${System.nanoTime()}"
        runStream(s, name, graft.streaming.Streaming
          .dedupStream(stream, "event_id", "2 hours"))
        s.table(name)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"))
          .orderBy("event_id", "ts_ms")
      },
      Some("""WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
          base AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
                   FROM events),
          far AS (SELECT e.event_id, e.user_id, e.event_type, mx.m AS ts_ms
                  FROM events e, mx
                  WHERE e.event_id % 97 = 0
                    AND epoch_ms(e.ts) < mx.m - 14400000)
        SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM far)
        ORDER BY event_id, ts_ms""")),

    // ---- stream-stream interval join ----------------------------------
    // clicks ⋈ purchases per user within 1 hour, BOTH sides unbounded
    // streams: watermarks + the range condition on the event-time
    // columns bound the join state (Spark drops a side's state once the
    // other side's watermark passes the interval), so the join runs
    // indefinitely at fixed memory — the streaming form of funnel
    // attribution. Event times are ms-TRUNCATED before the watermark:
    // the fixture carries ns precision, Spark compares µs and DuckDB ns,
    // so a raw-ts boundary comparison could disagree at the window edge.
    GQuery("stream_interval_join",
      (s, d) => {
        val srcDir = stagePlain(d)
        val raw = s.read.parquet(s"$d/events.parquet")
        def src = eventStream(s, raw, srcDir)
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "1 hour")
        val buys = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
            col("event_id").as("buy_id"))
          .withWatermark("buy_ts", "1 hour")
        val name = s"stream_ij_${System.nanoTime()}"
        val joined = clicks.join(buys,
            col("user_id") === col("buy_user") &&
              col("buy_ts") >= col("click_ts") &&
              col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_id"), col("buy_id"),
            (unix_millis(col("buy_ts")) - unix_millis(col("click_ts"))).as("lag_ms"))
        runStream(s, name, joined)
        s.table(name).orderBy("user_id", "click_id", "buy_id")
      },
      Some("""SELECT a.user_id AS user_id, a.event_id AS click_id,
          b.event_id AS buy_id, epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
        FROM events a JOIN events b ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND epoch_ms(b.ts) >= epoch_ms(a.ts)
         AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 3600000
        ORDER BY a.user_id, click_id, buy_id""")),

    // ---- stream-stream LEFT OUTER interval join -----------------------
    // clicks with NO purchase within the hour (abandoned-cart shape):
    // the outer side emits its NULL rows only when the watermark PASSES
    // the interval bound — on a bounded stream the watermark stalls at
    // max(ts) − delay and the trailing clicks would be silently
    // withheld, so the stage adds a far-future SENTINEL purchase that
    // pushes the watermark past every real click (filtered back out of
    // the result). This is the part of outer-join semantics a batch
    // plan never exercises.
    GQuery("stream_outer_interval_join",
      (s, d) => {
        // staging (fixture copy + far-future sentinel pair) is memoized
        // in stageOij — see its doc for the watermark mechanics
        val srcDir = stageOij(s, d)
        val raw = s.read.parquet(s"$d/events.parquet")
        def src = eventStream(s, raw, srcDir, recursive = true)
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "10 minutes")
        val buys = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
            col("event_id").as("buy_id"))
          .withWatermark("buy_ts", "10 minutes")
        val name = s"stream_oij_${System.nanoTime()}"
        val joined = clicks.join(buys,
            col("user_id") === col("buy_user") &&
              col("buy_ts") >= col("click_ts") &&
              col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .filter(col("buy_id").isNull) // unconverted clicks only
          .select(col("user_id"), col("click_id"))
        runStream(s, name, joined)
        s.table(name).filter(col("user_id") >= 0)
          .orderBy("user_id", "click_id")
      },
      Some("""SELECT a.user_id AS user_id, a.event_id AS click_id
        FROM events a LEFT JOIN events b ON a.user_id = b.user_id
         AND b.event_type = 'purchase'
         AND epoch_ms(b.ts) >= epoch_ms(a.ts)
         AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 3600000
        WHERE a.event_type = 'click' AND b.event_id IS NULL
        ORDER BY a.user_id, click_id""")),

    // ---- STREAMING gap sessionization (session_window, append mode) ---
    // The continuous form of ev_sessionize via the built-in
    // session_window state machine (graft.streaming.Streaming
    // .sessionCounts): per-event [ts, ts+gap) windows merge while they
    // OVERLAP, and append mode emits a session only once the watermark
    // passes its end — the production contract (a session is final when
    // emitted). On a bounded replay the watermark stalls at
    // max(ts) − delay, so the query rides the _oij staging whose
    // far-future sentinel (user_id < 0, filtered back out) pushes the
    // watermark past every real session's end. Oracle note: windows
    // merge on STRICT overlap, so two events exactly `gap` apart start
    // separate sessions — the islands SQL breaks on `diff >= gap`
    // (ev_sessionize's lag/sum form breaks on `diff > gap`; the two
    // agree except at the exact-gap boundary).
    GQuery("stream_session_window",
      (s, d) => {
        val srcDir = stageOij(s, d)
        val raw = s.read.parquet(s"$d/events.parquet")
        val stream = eventStream(s, raw, srcDir, recursive = true)
        val name = s"stream_sess_${System.nanoTime()}"
        runStream(s, name, graft.streaming.Streaming
          .sessionCounts(stream, "30 minutes"))
        s.table(name).filter(col("user_id") >= 0)
          .orderBy("user_id", "start_ms")
      },
      Some(s"""WITH g AS (
          SELECT user_id, event_id, epoch_ms(ts) AS tms,
            CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= $GapMs
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        sess AS (
          SELECT user_id, tms,
            CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
          FROM g)
        SELECT user_id, min(tms) AS start_ms, max(tms) + $GapMs AS end_ms,
          count(*) AS n_events
        FROM sess GROUP BY user_id, sid ORDER BY user_id, start_ms""")),

    // ---- custom-state streaming op (flatMapGroupsWithState) -----------
    // Per-user running totals through the arbitrary-state escape hatch
    // (graft.streaming.Streaming.runningCents), replayed one file per
    // micro-batch so state genuinely accumulates ACROSS batches. Update
    // mode emits one row per (user, batch-with-data); the final total
    // per user is the update with the highest event count (counts are
    // strictly increasing per key). Values pre-scaled to integer cents
    // so the accumulated sum is exact under any batch split — the
    // oracle is then a plain batch aggregate.
    GQuery("stream_running_totals",
      (s, d) => {
        val srcDir = stagePlain(d)
        val raw = s.read.parquet(s"$d/events.parquet")
        import s.implicits._
        val stream = s.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir)
        val src = T.normalizeEventTs(stream)
          .select(col("user_id"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .as[graft.streaming.Streaming.UserCents]
        val name = s"stream_rt_${System.nanoTime()}"
        graft.streaming.Streaming.withRocksDbStateStore(s) {
          runStream(s, name, graft.streaming.Streaming.runningCents(src).toDF(),
            mode = "update")
        }
        val latest = Window.partitionBy(col("user_id"))
          .orderBy(col("n_events").desc)
        s.table(name)
          .withColumn("rn", row_number().over(latest)).filter(col("rn") === 1)
          .select("user_id", "n_events", "total_cents")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM events GROUP BY 1 ORDER BY user_id""")),

    // ---- sliding event-time window (1h width, 30m slide) --------------
    GQuery("ev_sliding_window",
      (s, d) => T.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_millis(col("window.start")).as("win_start_ms"),
          col("event_type"), col("n_events"))
        .orderBy("win_start_ms", "event_type"),
      Some("""WITH e AS (SELECT epoch_ms(ts) AS tms, event_type FROM events),
        w AS (SELECT unnest([ (tms // 1800000) * 1800000,
                              (tms // 1800000) * 1800000 - 1800000 ]) AS win_start_ms,
                     event_type
              FROM e)
        SELECT win_start_ms, event_type, count(*) AS n_events
        FROM w GROUP BY 1, 2 ORDER BY win_start_ms, event_type""")),

    // ---- gap-based sessionization (30-minute inactivity) --------------
    GQuery("ev_sessionize",
      (s, d) => {
        // order by ms-truncated time on BOTH engines: DuckDB sees ns
        // precision, Spark µs — ordering on raw ts could disagree
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(unix_millis(col("ts")), col("event_id"))
        val gap = unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser)
        T.events(s, d)
          .withColumn("new_sess",
            when(gap.isNull || gap > GapMs, lit(1)).otherwise(lit(0)))
          .withColumn("session_id", sum(col("new_sess")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(unix_millis(col("ts"))).as("start_ms"),
            (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("duration_ms"))
          .orderBy("user_id", "session_id")
      },
      Some(s"""WITH g AS (
          SELECT user_id, event_id, epoch_ms(ts) AS tms,
            CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > $GapMs
                 THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        s AS (
          SELECT user_id, tms,
            CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM g)
        SELECT user_id, session_id, count(*) AS n_events,
          min(tms) AS start_ms, max(tms) - min(tms) AS duration_ms
        FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""")),

    // ---- cohort retention: signup-day cohorts × activity-day offsets --
    // all time math in integer epoch-DAYS (floor of epoch-ms), so the
    // triangle is engine-exact with no date/timezone semantics at all
    GQuery("ev_retention",
      (s, d) => retention(
        T.events(s, d).select(col("user_id"), col("event_type"),
          floor(unix_millis(col("ts")) / lit(86400000L)).as("day")),
        "user_id", "event_type", "day", "signup")
        .orderBy("cohort_day", "day_offset"),
      Some("""WITH days AS (
          SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day,
            event_type
          FROM events),
        cohort AS (SELECT user_id, min(day) AS cohort_day FROM days
                   WHERE event_type = 'signup' GROUP BY 1),
        active AS (SELECT DISTINCT user_id, day FROM days)
        SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
          CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
        FROM cohort c JOIN active a USING (user_id)
        WHERE a.day - c.cohort_day >= 0
        GROUP BY 1, 2 ORDER BY cohort_day, day_offset"""))
  )
}
