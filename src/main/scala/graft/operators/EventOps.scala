package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{KeyedEvent, StatefulSessionJob}
import graft.streaming.WaveHarness.{batch, drive, driveSides, driveWaves,
  msBounds, stageKeyFor, withRocksDb}

/** Event-stream analytics over the `events` table: JSON property
  * extraction, sessionization, and time-bucketed pivots — the batch twins
  * of the streaming operators in graft.streaming.
  *
  * `ts` is normalized to integer epoch micros up front via the
  * schema-dispatched [[graft.Tables.eventMicros]] (the fixture has shipped
  * as both nanos-as-Long and timestamp[us]); all arithmetic stays in
  * integer micros — double math would lose precision at 1e18.
  */
object EventOps {

  /** Session gap: a new session starts after 4 h of user inactivity. */
  val SessionGapMicros: Long = 4L * 3600 * 1000000

  private[graft] def withMicros(df: DataFrame): DataFrame =
    df.withColumn("us", Tables.eventMicros(df))

  /** JSON property extraction (the reference's from_json analog over the
    * props column) via regexp — P2's schema-less cousin; group stats per
    * event type.
    */
  def eventsJsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val eventsJsonPropsOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |       round(AVG(k), 4) AS avg_k,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gap-based sessionization: lag + cumulative-sum session ids, then
    * per-session rollup. One shuffle on user_id; the window sort and the
    * session aggregate share that partitioning (verified in PlanSpec).
    * Streaming twin: `session_window($"ts", "4 hours")` in
    * graft.streaming.SessionStreamJob.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionsFrom(withMicros(Tables.events(spark, dir)))

  /** The session build shared by [[eventsSessionize]] and
    * [[eventsSessionizeLate]]: lag + cumulative-sum ids over a
    * (user_id, event_id, us, value) frame, then per-session rollup.
    */
  private def sessionsFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SessionGapMicros, lit(1L)).otherwise(lit(0L)))
      .withColumn("session_idx", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        round(sum(col("value")), 5).as("sum_value"))
      .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_sec"), col("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val eventsSessionizeOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |                   > ${SessionGapMicros} THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sessions AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |       MIN(us) AS start_us, MAX(us) AS end_us,
      |       (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
      |       round(SUM(value), 5) AS sum_value
      |FROM sessions
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Simulated micro-batch count and allowed lateness for
    * [[eventsSessionizeLate]]. The 7-day delay is sized to the 30-day
    * fixture span so both the keep and the drop path carry real rows.
    */
  val LateChunks = 10
  val LateDelayMicros: Long = 7L * 24 * 3600 * 1000000

  /** Deterministic pseudo-arrival chunk (md5 permutation of the
    * ingestion id) — the simulated micro-batch assignment shared by BOTH
    * late-data twins ([[eventsSessionizeLate]], [[eventsAttribution]])
    * and mirrored verbatim by [[arrivalChunkSql]] in their oracles, so
    * the chunking definition cannot drift between the twins.
    */
  private def arrivalChunk: Column =
    expr("conv(substring(md5(cast(event_id AS string)), 1, 15), 16, 10)")
      .cast("long") % LateChunks

  private val arrivalChunkSql =
    s"CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % $LateChunks"

  /** Batch twin of the STREAMING sessionize's watermark semantics
    * (SessionStreamJob.sessionize): rows older than
    * `watermark = max(event time of prior micro-batches) - delay` are
    * DROPPED before sessionization — Spark updates the watermark at
    * micro-batch boundaries, so the twin chunks arrival into
    * [[LateChunks]] pseudo-batches and takes the running max over prior
    * chunks. The fixture arrives almost perfectly time-ordered (which
    * never exercises the drop path), so arrival order is simulated by a
    * deterministic md5 permutation of the ingestion id — reproduced
    * value-for-value by the oracle.
    *
    * Scale shape: the chunk-max table is [[LateChunks]] rows, so the
    * running-max window is trivial and the watermark joins back as a
    * broadcast — the corpus side stays map-only until the one session
    * shuffle on user_id.
    */
  def eventsSessionizeLate(spark: SparkSession, dir: String): DataFrame = {
    val e = withMicros(Tables.events(spark, dir))
      .withColumn("chunk", arrivalChunk)
    val cm = e.groupBy(col("chunk")).agg(max(col("us")).as("cmax"))
    val prior = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = cm.select(col("chunk"),
      (max(col("cmax")).over(prior) - LateDelayMicros).as("wm"))
    val kept = e.join(broadcast(wm), Seq("chunk"))
      .filter(col("wm").isNull || col("us") >= col("wm"))
      .drop("chunk", "wm")
    sessionsFrom(kept)
  }

  val eventsSessionizeLateOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         $arrivalChunkSql AS chunk
      |  FROM events),
      |cm AS (SELECT chunk, MAX(us) AS cmax FROM e GROUP BY chunk),
      |wm AS (
      |  SELECT chunk, MAX(cmax) OVER (ORDER BY chunk
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         - ${LateDelayMicros} AS wm
      |  FROM cm),
      |kept AS (
      |  SELECT e.user_id, e.event_id, e.value, e.us
      |  FROM e JOIN wm USING (chunk) WHERE wm IS NULL OR us >= wm),
      |flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |                   > ${SessionGapMicros} THEN 1 ELSE 0 END AS new_sess
      |  FROM kept),
      |sessions AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |       MIN(us) AS start_us, MAX(us) AS end_us,
      |       (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
      |       round(SUM(value), 5) AS sum_value
      |FROM sessions
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Arrival waves for the hand-built oracle drives' file-driven runs.
    *
    * r16 (VERDICT r15 #1b): 4 -> 2. Every consumer carves ASCENDING
    * time buckets, so no row is ever late under the two-batch-lagged
    * watermark for ANY chunk count (rows in batch k exceed every
    * earlier batch's max, hence exceed lwm(k) = runningMax(<=k-2) -
    * delay), and every one of these drives' oracles is plain batch SQL
    * with no wave/batch-sequence term — the declared output is
    * carving-independent by construction (and spec-pinned where a
    * harness spec exists: TwsQuotaSpec / TwsQuantileSpec assert
    * report-set carving-independence directly). Two data waves keep
    * every scenario class the drives exist to evidence — cross-batch
    * state merge/carry at the wave-0/wave-1 boundary, and
    * timeout/watermark tail emission via the two sentinel waves — while
    * cutting each drive's micro-batch count by a third (the per-batch
    * machinery floor is the measured bench wall; the RANDOM-carving
    * fuzz drives, whose batch sequences are semantics, are untouched).
    */
  val StatefulChunks = 2

  /** The (key, ms, value) wave frame shared by the sessionize drives:
    * real rows bucketed into [[StatefulChunks]] ascending time waves,
    * plus two far-future sentinel rows in their own waves — the first
    * advances max event time, the second executes with that watermark so
    * every event-time timeout / window close fires.
    */
  private def sessionWaveFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapMs = SessionGapMicros / 1000L
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("user_id").as("key"), expr("us div 1000").as("ms"),
        coalesce(col("value"), lit(0.0)).as("value"))
    val bounds = msBounds(ev, "session_wave_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    ev.withColumn("wave", expr(s"(ms - $lo) div $width"))
      .unionByName(Seq(
        (-1L, hi + 3 * gapMs, 0.0, StatefulChunks.toLong),
        (-2L, hi + 6 * gapMs, 0.0, StatefulChunks + 1L))
        .toDF("key", "ms", "value", "wave"))
  }

  /** The flatMapGroupsWithState session job (StatefulSessionJob), driven
    * END-TO-END through the DuckDB oracle: the events table is staged
    * into [[StatefulChunks]] time-bucketed parquet waves (each a
    * distributed write — the corpus never touches the driver), a
    * file-source stream consumes them one wave per micro-batch, and two
    * far-future sentinel waves push the watermark past every open
    * session so the event-time timeouts emit the tails. Ascending
    * time-bucket arrival means no row is ever late, so the oracle is
    * plain gap sessionization at the job's millisecond resolution.
    *
    * This closes the custom-state operator's evidence gap: in-batch gap
    * splits, cross-batch merges, AND timeout-driven tail emission all
    * land in one result DuckDB reproduces. Scale shape: the operator
    * itself is hash-partitioned by key with O(1) state per key; the
    * memory sink + per-wave `repartition(1)` here are the oracle
    * harness's arrival simulation, not the production path (any
    * distributed sink works, waves arrive as real files).
    */
  def eventsSessionizeStateful(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = SessionGapMicros / 1000L
    driveWaves(spark, sessionWaveFrame(spark, dir),
      "key LONG, ms LONG, value DOUBLE", StatefulChunks + 2L,
      "fmgws_oracle",
      stageKey = Some(stageKeyFor("session_wave", dir))) { src =>
      import src.sparkSession.implicits._
      StatefulSessionJob.sessionize(
        src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
          col("value")).as[KeyedEvent],
        gapMs).toDF()
    }
      .filter(col("key") >= 0L)
      .select(col("key").as("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"),
        round(col("sum_value") + lit(1e-9), 5).as("sum_value"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** The transformWithState session job (TwsSessionJob — Spark 4's
    * successor API to flatMapGroupsWithState: named RocksDB-backed
    * state + first-class event-time timers), driven END-TO-END through
    * the same wave harness and checked against the SAME oracle as the
    * old-API job: identical session semantics, different state
    * machinery. The RocksDB provider is scoped to the drive (the new
    * API does not run on the HDFS-backed default).
    */
  def eventsSessionizeTws(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = SessionGapMicros / 1000L
    withRocksDb(spark) {
      driveWaves(spark, sessionWaveFrame(spark, dir),
        "key LONG, ms LONG, value DOUBLE", StatefulChunks + 2L,
        "tws_oracle",
        stageKey = Some(stageKeyFor("session_wave", dir))) { src =>
        import src.sparkSession.implicits._
        graft.streaming.TwsSessionJob.sessionize(
          src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
            col("value")).as[KeyedEvent],
          gapMs).toDF()
      }
    }
      .filter(col("key") >= 0L)
      .select(col("key").as("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"),
        round(col("sum_value") + lit(1e-9), 5).as("sum_value"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** Semi-structured props through Spark 4's VARIANT type: `parse_json`
    * once into the binary variant encoding, then typed path extraction
    * with `variant_get` — the engine's answer to schemaless JSON columns
    * at scale (shredded binary access instead of per-row string
    * re-parsing; contrast [[eventsJsonProps]], the regexp path over the
    * same column). The DuckDB oracle extracts the same path with its
    * JSON operators — two independent semi-structured engines, one
    * ground truth. `schema_of_variant` inference is asserted in
    * EventOps' spec coverage (VariantSpec) since DuckDB has no
    * equivalent string to compare.
    */
  def eventsVariantProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  val eventsVariantPropsOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       MIN(k) AS min_k, MAX(k) AS max_k,
      |       round(AVG(k), 4) AS avg_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-user RFM feature vector — the feature-store shape: one pass
    * over events builds recency (seconds since the user's last event,
    * against the corpus max as "now"), frequency (events per active
    * day), monetary (purchase value sum) and shape features (distinct
    * types, mean inter-event gap). One keyed shuffle, partial+final
    * aggregation; the corpus-max "now" broadcasts as a 1-row frame. At
    * 100 TB this is the nightly feature job whose output feeds training
    * joins — every feature here is a pure aggregate, so the job is
    * incremental-friendly (all of them merge from partials).
    */
  def eventsUserFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    val now = ev.agg(max(col("us")).as("now_us"))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("monetary"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        expr("count(DISTINCT event_type)").as("n_types"),
        expr("count(DISTINCT us div 86400000000)").as("active_days"))
      .crossJoin(broadcast(now))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("monetary"),
        expr("(now_us - last_us) div 1000000").as("recency_sec"),
        round(col("n_events") / col("active_days"), 4)
          .as("events_per_active_day"),
        when(col("n_events") > 1,
          expr("((last_us - first_us) div (n_events - 1)) div 1000000"))
          .as("mean_gap_sec"),
        col("n_types"))
      .orderBy(col("user_id"))
  }

  val eventsUserFeaturesOracle: String =
    """WITH e AS (SELECT user_id, event_type, value,
      |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events),
      |now_t AS (SELECT MAX(us) AS now_us FROM e),
      |g AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_purchases,
      |         round(SUM(CASE WHEN event_type = 'purchase' THEN value
      |                        ELSE 0.0 END), 2) AS monetary,
      |         MIN(us) AS first_us, MAX(us) AS last_us,
      |         COUNT(DISTINCT event_type) AS n_types,
      |         COUNT(DISTINCT us // 86400000000) AS active_days
      |  FROM e GROUP BY user_id)
      |SELECT user_id, n_events, n_purchases, monetary,
      |       (now_us - last_us) // 1000000 AS recency_sec,
      |       round(n_events / CAST(active_days AS DOUBLE), 4)
      |         AS events_per_active_day,
      |       CASE WHEN n_events > 1
      |            THEN ((last_us - first_us) // (n_events - 1)) // 1000000
      |       END AS mean_gap_sec,
      |       n_types
      |FROM g CROSS JOIN now_t
      |ORDER BY user_id""".stripMargin

  /** Embargo gap for [[eventsTimeSplit]] (1 day in micros). */
  val EmbargoUs = 86400000000L

  /** Time-based train/test split with an EMBARGO gap — the forecasting
    * split that [[graft.operators.DedupOps]]' leakage-safe split is to
    * dedup: the cutoff sits at 80% of the observed time range, training
    * takes everything at least [[EmbargoUs]] BEFORE the cutoff, test
    * takes everything at-or-after it, and the embargo band between is
    * dropped so near-boundary leakage (a label window crossing the
    * cutoff) is impossible by construction. Pure integer arithmetic on
    * the corpus min/max — deterministic at every scale, no sampling.
    */
  def eventsTimeSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    val bounds = broadcast(ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .select(col("lo"), col("hi"),
        (col("lo") + expr("((hi - lo) * 4) div 5")).as("cutoff")))
    ev.crossJoin(bounds)
      .withColumn("split",
        when(col("us") <= col("cutoff") - EmbargoUs, "train")
          .when(col("us") >= col("cutoff"), "test")
          .otherwise("embargo"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))
      .orderBy(col("split"))
  }

  val eventsTimeSplitOracle: String =
    s"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi,
      |             MIN(us) + ((MAX(us) - MIN(us)) * 4) // 5 AS cutoff
      |      FROM e)
      |SELECT CASE WHEN us <= cutoff - $EmbargoUs THEN 'train'
      |            WHEN us >= cutoff THEN 'test'
      |            ELSE 'embargo' END AS split,
      |       COUNT(*) AS n, MIN(us) AS min_us, MAX(us) AS max_us
      |FROM e CROSS JOIN b
      |GROUP BY split ORDER BY split""".stripMargin

  /** Incident window width for [[eventsMergeIntervals]] (10 min). */
  val IncidentWidthMs = 600000L

  /** Day bucket for the interval-union sweep. */
  val MergeDayMs = 86400000L

  /** Interval union (merge-overlaps) — total "incident coverage" time:
    * every error event opens a [[IncidentWidthMs]] window; overlapping
    * windows merge into disjoint covered intervals. The classic
    * formulation is a GLOBAL sort + running-max sweep, which does not
    * scale; this one exploits that set union distributes over clipping:
    * each interval is clipped into its (at most two) covering day
    * buckets, and the sweep — islands via `s > max(e) over preceding` —
    * runs INSIDE each day partition. The merged coverage is identical
    * (clipping at bucket edges preserves the union; a merged interval
    * that crossed midnight appears as two bucket-clipped intervals whose
    * union is the same point set), and the plan is one explode (×<=2)
    * plus one day-partitioned window + aggregate — no global sort ever.
    * The DuckDB twin runs the same clipped algebra, so the
    * decomposition itself is oracle-checked.
    */
  def eventsMergeIntervals(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    val inc = ev.filter(col("event_type") === "error")
      .select(expr("us div 1000").as("s0"))
      .withColumn("e0", col("s0") + IncidentWidthMs)
    val pieces = inc
      .withColumn("day", explode(sequence(expr(s"s0 div $MergeDayMs"),
        expr(s"(e0 - 1) div $MergeDayMs"))))
      .select(col("day"),
        greatest(col("s0"), col("day") * MergeDayMs).as("s"),
        least(col("e0"), (col("day") + 1) * MergeDayMs).as("e"))
    val w = Window.partitionBy(col("day")).orderBy(col("s"), col("e"))
    val maxPrev = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = pieces
      .withColumn("new_island",
        when(maxPrev.isNull || col("s") > maxPrev, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("day"), col("island"))
      .agg(min(col("s")).as("start_ms"), max(col("e")).as("end_ms"),
        count(lit(1)).as("n_pieces"))
      .withColumn("dur_ms", col("end_ms") - col("start_ms"))
      .select(col("day"), col("start_ms"), col("end_ms"), col("n_pieces"),
        col("dur_ms"))
      .orderBy(col("start_ms"))
  }

  val eventsMergeIntervalsOracle: String =
    s"""WITH inc AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS s0,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 + $IncidentWidthMs AS e0
      |  FROM events WHERE event_type = 'error'),
      |pieces AS (
      |  SELECT day,
      |         greatest(s0, day * $MergeDayMs) AS s,
      |         least(e0, (day + 1) * $MergeDayMs) AS e
      |  FROM (SELECT s0, e0,
      |          unnest(range(s0 // $MergeDayMs, (e0 - 1) // $MergeDayMs + 1)) AS day
      |        FROM inc)),
      |isl AS (
      |  SELECT *, CASE WHEN maxprev IS NULL OR s > maxprev THEN 1 ELSE 0 END
      |         AS new_island
      |  FROM (SELECT *, MAX(e) OVER (PARTITION BY day ORDER BY s, e
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS maxprev
      |        FROM pieces)),
      |grp AS (
      |  SELECT *, SUM(new_island) OVER (PARTITION BY day ORDER BY s, e
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl)
      |SELECT day, MIN(s) AS start_ms, MAX(e) AS end_ms,
      |       COUNT(*) AS n_pieces, MAX(e) - MIN(s) AS dur_ms
      |FROM grp GROUP BY day, island
      |ORDER BY start_ms""".stripMargin

  /** Sliding (hopping) window width / slide for [[eventsSlidingWindow]]:
    * 10-minute windows every 5 minutes, so each event lands in exactly
    * width/slide = 2 overlapping windows.
    */
  val SlideWidthMs = 600000L
  val SlideStepMs = 300000L

  /** Overlapping sliding-window aggregation through Spark's native
    * `window(col, width, slide)` TVF — the time-bucketing shape the
    * tumbling twins (weather_minutely_sum, events_hourly_pivot) cannot
    * express: each event is replicated into width/slide buckets BEFORE
    * the partial aggregation, so the overlap costs map-side row
    * replication (×2 here), never a self-join or re-scan, and the
    * aggregate itself stays one keyed shuffle. The DuckDB twin makes
    * the replication explicit (unnest of each event's two covering
    * window starts) — the two formulations agreeing is what pins
    * Spark's epoch-aligned, half-open [start, start+width) semantics.
    */
  def eventsSlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    ev.select(timestamp_micros(col("us")).as("t"),
        col("event_type"), col("value"))
      .groupBy(window(col("t"), s"$SlideWidthMs milliseconds",
        s"$SlideStepMs milliseconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  val eventsSlidingWindowOracle: String =
    s"""SELECT ws AS window_start_ms, event_type, COUNT(*) AS n,
      |       round(SUM(value), 2) AS sum_value
      |FROM (
      |  SELECT unnest([(ms // $SlideStepMs) * $SlideStepMs,
      |                 (ms // $SlideStepMs) * $SlideStepMs - $SlideStepMs]) AS ws,
      |         event_type, value
      |  FROM (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms,
      |               event_type, value FROM events))
      |GROUP BY ws, event_type
      |ORDER BY ws, event_type""".stripMargin

  /** The STREAMING twin of [[eventsSlidingWindow]] — Spark's canonical
    * structured-streaming aggregation: the same sliding `window()` agg
    * run in APPEND mode under a 0-delay watermark, driven through
    * ascending time waves; a window emits exactly once, when the
    * watermark proves it closed. Two far-future sentinel rows (a
    * filtered-out event type) push the final watermark past every real
    * window, so the finalized stream output must equal the BATCH
    * sliding-window result row-for-row — the two entries share one
    * DuckDB oracle, which is the strongest equivalence statement the
    * harness can make: batch plan, streaming state machine, and DuckDB
    * all agree on the same bytes. State is bounded by the watermark
    * horizon (windows inside width of the front), not the stream.
    */
  def eventsWindowStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("event_type"), expr("us div 1000").as("ms"), col("value"))
    val bounds = msBounds(ev, "window_stream_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    val frame = ev.withColumn("wave", expr(s"(ms - $lo) div $width"))
      .unionByName(Seq(
        ("\u0000s1", hi + 2 * SlideWidthMs, 0.0, StatefulChunks.toLong),
        ("\u0000s2", hi + 4 * SlideWidthMs, 0.0, StatefulChunks + 1L))
        .toDF("event_type", "ms", "value", "wave"))
    driveWaves(spark, frame, "event_type STRING, ms LONG, value DOUBLE",
      StatefulChunks + 2L, "win_stream") { src =>
      src.select(col("event_type"), timestamp_millis(col("ms")).as("t"),
          col("value"))
        .withWatermark("t", "0 seconds")
        .groupBy(window(col("t"), s"$SlideWidthMs milliseconds",
          s"$SlideStepMs milliseconds"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
    }
      .filter(!col("event_type").startsWith("\u0000"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  /** Hourly admission cap for [[eventsQuotaStream]]. */
  val QuotaCapPerHour = 2L

  /** Watermark-finalized streaming admission quotas (TwsQuotaJob — the
    * MapState-by-time-bucket + event-time-timer shape), driven
    * END-TO-END through the oracle: each (user, hour) report emits
    * exactly once, when the watermark proves the bucket closed, so the
    * result is micro-batch-carving-independent and DuckDB reproduces it
    * as a plain grouped aggregate with a LEAST cap.
    */
  def eventsQuotaStream(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    withRocksDb(spark) {
      driveWaves(spark, sessionWaveFrame(spark, dir),
        "key LONG, ms LONG, value DOUBLE", StatefulChunks + 2L,
        "tws_quota", statePartitions = 4,
        stageKey = Some(stageKeyFor("session_wave", dir))) { src =>
        import src.sparkSession.implicits._
        graft.streaming.TwsQuotaJob.quota(
          src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
            col("value")).as[KeyedEvent],
          hourMs, QuotaCapPerHour).toDF()
      }
    }
      .filter(col("key") >= 0L)
      .select(col("key").as("user_id"), col("hour_ms"),
        col("n_events"), col("n_admitted"), col("n_throttled"))
      .orderBy(col("user_id"), col("hour_ms"))
  }

  val eventsQuotaStreamOracle: String =
    s"""SELECT user_id,
      |       (epoch_us(CAST(ts AS TIMESTAMP)) // 1000 // 3600000) * 3600000
      |         AS hour_ms,
      |       COUNT(*) AS n_events,
      |       LEAST(COUNT(*), $QuotaCapPerHour) AS n_admitted,
      |       COUNT(*) - LEAST(COUNT(*), $QuotaCapPerHour) AS n_throttled
      |FROM events
      |GROUP BY user_id, hour_ms
      |ORDER BY user_id, hour_ms""".stripMargin

  /** Lookback depth for [[eventsPatternStream]]. */
  val PatternLookback = 5

  /** The ListState pattern detector (TwsPatternJob — "purchase with a
    * signup among the user's previous 5 events"), driven END-TO-END
    * through the oracle: a COUNT-based lookback is a ring-buffer
    * predicate no interval join expresses, and the oracle reproduces it
    * as a max-over-rows-window in plain SQL. Wave order can't move
    * results: in-batch processing sorts by (ms, type) and the ring
    * carries across batches, so the emitted set equals the batch window
    * — only if ListState actually persists the tail between
    * micro-batches.
    */
  def eventsPatternStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("user_id"), col("event_type"), expr("us div 1000").as("ms"))
    val bounds = msBounds(ev, "pattern_stream_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    withRocksDb(spark) {
      driveWaves(spark,
        ev.withColumn("wave", expr(s"(ms - $lo) div $width")),
        "user_id LONG, event_type STRING, ms LONG", StatefulChunks.toLong,
        "tws_pattern") { src =>
        import src.sparkSession.implicits._
        graft.streaming.TwsPatternJob.detect(
          src.select(col("user_id").as("key"),
            timestamp_millis(col("ms")).as("eventTs"),
            col("event_type").as("etype")).as[graft.streaming.TypedEvent],
          trigger = "purchase", antecedent = "signup",
          lookback = PatternLookback).toDF()
      }
    }
      .select(col("key").as("user_id"),
        unix_millis(col("hit_ts")).as("hit_ms"))
      .orderBy(col("user_id"), col("hit_ms"))
  }

  val eventsPatternStreamOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
      |  FROM events),
      |w AS (
      |  SELECT user_id, ms, event_type,
      |         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ms, event_type
      |                 ROWS BETWEEN $PatternLookback PRECEDING AND 1 PRECEDING)
      |           AS has_antecedent
      |  FROM e)
      |SELECT user_id, ms AS hit_ms
      |FROM w WHERE event_type = 'purchase' AND has_antecedent = 1
      |ORDER BY user_id, hit_ms""".stripMargin

  /** The MapState first-occurrence log (TwsFirstSeenJob), driven
    * END-TO-END: a row per (user, event type) carrying the FIRST
    * sighting's timestamp, emitted exactly once across waves — richer
    * than [[eventsDedupStream]]'s key-set (the first-seen ms must also
    * be right, so in-batch ordering and the cross-batch map both land
    * in the oracle). Oracle is a plain MIN(ms) GROUP BY.
    */
  def eventsFirstSeenStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("user_id"), col("event_type"), expr("us div 1000").as("ms"))
    val bounds = msBounds(ev, "firstseen_stream_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    withRocksDb(spark) {
      driveWaves(spark,
        ev.withColumn("wave", expr(s"(ms - $lo) div $width")),
        "user_id LONG, event_type STRING, ms LONG", StatefulChunks.toLong,
        "tws_firstseen") { src =>
        import src.sparkSession.implicits._
        graft.streaming.TwsFirstSeenJob.firstSeen(
          src.select(col("user_id").as("key"),
            timestamp_millis(col("ms")).as("eventTs"),
            col("event_type").as("etype")).as[graft.streaming.TypedEvent])
          .toDF()
      }
    }
      .select(col("key").as("user_id"), col("etype").as("event_type"),
        unix_millis(col("first_ts")).as("first_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val eventsFirstSeenStreamOracle: String =
    """SELECT user_id, event_type,
      |       MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 1000) AS first_ms
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** WARM-STARTED streaming sessionization (the lakehouse
    * backfill-then-stream bootstrap, transformWithState initial state):
    * the fixture's first half is sessionized in BATCH; each key's last
    * (still-open) session becomes the stream's initial state; the
    * second half arrives as waves and continues — or timer-closes —
    * those sessions. The oracle is ONE batch sessionization over the
    * whole corpus: batch-closed sessions + stream output must
    * reconstruct it exactly, which holds only if state adoption,
    * cross-boundary merging, and the adopted sessions' timers all work.
    */
  def eventsSessionizeWarm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapMs = SessionGapMicros / 1000L
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("user_id").as("key"), expr("us div 1000").as("ms"),
        coalesce(col("value"), lit(0.0)).as("value"))
    val bounds = msBounds(ev, "sessionize_warm_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val split = lo + (hi - lo) / 2
    // batch sessionization of the first half at the stream's ms
    // resolution and (ms, value) tie order
    val w = Window.partitionBy(col("key")).orderBy(col("ms"), col("value"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = ev.filter(col("ms") < split)
      .withColumn("prev", lag(col("ms"), 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull ||
        col("ms") - col("prev") > gapMs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(run))
      .groupBy(col("key"), col("sid"))
      .agg(min(col("ms")).as("start"), max(col("ms")).as("end"),
        count(lit(1)).as("n"), sum(col("value")).as("sum"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("start").desc)))
    // each key's LAST first-half session may continue into the stream —
    // it bootstraps the state; every earlier one is final as-is
    val bootstrap = marked.filter(col("rn") === 1)
      .select(col("key"), col("start"), col("end"), col("n"), col("sum"))
      .as[(Long, Long, Long, Long, Double)]
      .map { case (k, st, en, n, sm) =>
        (k, graft.streaming.OpenSession(st, en, n, sm))
      }
    val finals = marked.filter(col("rn") > 1)
      .select(col("key").as("user_id"), col("start").as("start_ms"),
        col("end").as("end_ms"), col("n").as("n_events"),
        col("sum").as("sum_raw"))
    val width2 = (hi - split) / 2 + 1
    val staged = ev.filter(col("ms") >= split)
      .withColumn("wave", expr(s"(ms - $split) div $width2"))
      .unionByName(Seq(
        (-1L, hi + 3 * gapMs, 0.0, 2L),
        (-2L, hi + 6 * gapMs, 0.0, 3L))
        .toDF("key", "ms", "value", "wave"))
    val streamed = withRocksDb(spark) {
      driveWaves(spark, staged, "key LONG, ms LONG, value DOUBLE", 4L,
        "tws_warm") { src =>
        graft.streaming.TwsSessionJob.sessionizeWarm(
          src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
            col("value")).as[KeyedEvent],
          bootstrap, gapMs).toDF()
      }
    }
      .filter(col("key") >= 0L)
      .select(col("key").as("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"), col("sum_value").as("sum_raw"))
    finals.unionByName(streamed)
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"),
        round(col("sum_raw") + lit(1e-9), 5).as("sum_value"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** The DECLARATIVE streaming sessionize (SessionStreamJob.sessionize's
    * `session_window` aggregation), driven END-TO-END through the DuckDB
    * oracle with the same wave harness — completing the set: all four
    * stateful streaming operators (custom-state sessionize, session
    * _window, interval join, watermarked dedup) now land in DuckDB-
    * checked results. Semantics note mirrored EXACTLY by the oracle:
    * `session_window` merges on STRICT overlap (next < prev_end, i.e. a
    * gap exactly equal to the window splits), where the custom-state
    * twin merges on <=; and the emitted session end is
    * `last event + gap`, not the last event itself.
    */
  def eventsSessionizeWindow(spark: SparkSession, dir: String): DataFrame = {
    driveWaves(spark, sessionWaveFrame(spark, dir),
      "key LONG, ms LONG, value DOUBLE", StatefulChunks + 2L,
      "swin_oracle",
      stageKey = Some(stageKeyFor("session_wave", dir))) { src =>
      graft.streaming.SessionStreamJob.sessionize(
        src.select(col("key").as("user_id"),
          timestamp_millis(col("ms")).as("ets"), col("value")),
        col("ets"), col("user_id"), "4 hours", "10 minutes")
    }
      .filter(col("key") >= 0L)
      .select(col("key").as("user_id"),
        unix_millis(col("session_start")).as("start_ms"),
        unix_millis(col("session_end")).as("end_ms"),
        col("n_events"),
        round(col("sum_value") + lit(1e-9), 5).as("sum_value"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  val eventsSessionizeWindowOracle: String =
    s"""WITH e AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms,
      |         coalesce(value, 0) AS value
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, value) IS NULL
      |                OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, value)
      |                   >= ${SessionGapMicros / 1000L} THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sessions AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, value
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ms) AS start_ms,
      |       MAX(ms) + ${SessionGapMicros / 1000L} AS end_ms,
      |       COUNT(*) AS n_events,
      |       round(SUM(value) + 1e-9, 5) AS sum_value
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_ms""".stripMargin

  val eventsSessionizeStatefulOracle: String =
    s"""WITH e AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms,
      |         coalesce(value, 0) AS value
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, value) IS NULL
      |                OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, value)
      |                   > ${SessionGapMicros / 1000L} THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |sessions AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, value
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
      |       COUNT(*) AS n_events,
      |       round(SUM(value) + 1e-9, 5) AS sum_value
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_ms""".stripMargin

  /** Attribution lookback shared by [[eventsAttribution]] and
    * [[eventsAttributionStream]]: a click joins the views by the same
    * user within the preceding 4 hours (sized so the fixture produces
    * real matches — the 10-minute streaming default finds only a
    * handful).
    */
  val AttributionWindowMicros: Long = 4L * 3600 * 1000000

  /** The stream-stream interval join (SessionStreamJob.attributeClicks),
    * driven END-TO-END through the DuckDB oracle: views and clicks are
    * staged into parallel time-bucketed parquet waves (distributed
    * writes), two file-source streams consume them wave-for-wave, and
    * the watermarked interval join emits each (view, click-within-4h)
    * attribution pair as both sides arrive. Ascending arrival means no
    * row is ever late, so the complete emitted set equals the plain
    * batch interval join DuckDB runs — while state eviction (view rows
    * expire once the watermark passes view_ts + window) runs for real
    * underneath. Complements [[eventsAttribution]], the batch twin of
    * the DROP side of the same watermark semantics.
    */
  def eventsAttributionStream(spark: SparkSession, dir: String): DataFrame =
    attributionDrive(spark, dir, "ssj_attr", Nil) {
      (views, clicks) => graft.streaming.SessionStreamJob
        .attributeClicks(views, clicks, "4 hours", "10 minutes")
    }
      .select(col("user_id"), unix_millis(col("view_ts")).as("view_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
      .orderBy(col("user_id"), col("view_ms"), col("click_ms"))

  /** The two-sided wave drive shared by the attribution drives: views
    * and clicks carved into [[StatefulChunks]] ascending time waves, one
    * file stream per side (projected to `user_id` + `view_ts` /
    * `click_ts`), and one sentinel wave per `sentinelOffsetsMs` entry on
    * BOTH sides at `hi + offset` — the join watermark is the min over
    * inputs, so a one-sided sentinel would never advance it. Sentinel
    * rows carry negative user ids. Returns the drive's sink table.
    */
  private def attributionDrive(spark: SparkSession, dir: String,
      name: String, sentinelOffsetsMs: Seq[Long])(
      query: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import spark.implicits._
    val ev = withMicros(Tables.events(spark, dir))
      .filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type"), expr("us div 1000").as("ms"))
    val bounds = msBounds(ev, "attribution_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    val sentinels = sentinelOffsetsMs.zipWithIndex.flatMap { case (off, i) =>
      Seq("view", "click").map(side =>
        (side, -(i + 1L), hi + off, StatefulChunks + i.toLong))
    }.toDF("side", "user_id", "ms", "wave")
    // ONE staged write for both sides: partitioned by (side, wave), so
    // the corpus scan runs once and release is a rename either way
    val frame = ev.withColumn("wave", expr(s"(ms - $lo) div $width"))
      .select(col("event_type").as("side"), col("user_id"), col("ms"),
        col("wave"))
      .unionByName(sentinels)
    val sideSchema = "user_id LONG, ms LONG"
    driveSides(spark, frame, Seq("view" -> sideSchema, "click" -> sideSchema),
      StatefulChunks + sentinelOffsetsMs.size.toLong, name) {
      case Seq(views, clicks) =>
        query(
          views.select(col("user_id"), timestamp_millis(col("ms")).as("view_ts")),
          clicks.select(col("user_id"), timestamp_millis(col("ms")).as("click_ts")))
    }
  }

  /** The LEFT OUTER stream-stream interval join, driven end-to-end:
    * unmatched views may only emit with a NULL click AFTER the
    * watermark proves no matching click can still arrive — the
    * state-eviction emission path, the trickiest stream-stream join
    * semantic. Sentinel waves on BOTH streams (the join watermark is
    * the min over inputs) push the watermark past every view's match
    * window so the full outer result flushes; ascending arrival means
    * the emitted set equals the plain batch left join.
    */
  def eventsAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    val winMs = AttributionWindowMicros / 1000L
    attributionDrive(spark, dir, "ssjo_attr", Seq(3 * winMs, 6 * winMs)) {
      (views, clicks) => graft.streaming.SessionStreamJob
        .attributeClicks(views, clicks, "4 hours", "10 minutes",
          joinType = "leftOuter")
    }
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), unix_millis(col("view_ts")).as("view_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
      .orderBy(col("user_id"), col("view_ms"), col("click_ms"))
  }

  val eventsAttributionOuterOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
      |  FROM events),
      |v AS (SELECT user_id, ms FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, ms FROM e WHERE event_type = 'click')
      |SELECT v.user_id, v.ms AS view_ms, c.ms AS click_ms
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |  AND c.ms >= v.ms AND c.ms <= v.ms + ${AttributionWindowMicros / 1000L}
      |ORDER BY v.user_id, view_ms, click_ms""".stripMargin

  /** MULTI-STATEFUL streaming pipeline driven end-to-end: the
    * stream-stream interval join feeds a windowed aggregation INSIDE
    * the same streaming query (Spark 4's chained-stateful support) —
    * daily attributed-click counts per user. The aggregate can only
    * emit once the join-delayed global watermark passes each day
    * window, so the result proves watermark propagation THROUGH the
    * join, not just the join itself. Double-sided sentinel waves flush
    * both operators; ascending arrival makes the oracle the plain batch
    * join + day rollup.
    */
  def eventsAttributionRollup(spark: SparkSession, dir: String): DataFrame = {
    val winMs = AttributionWindowMicros / 1000L
    attributionDrive(spark, dir, "ssjr_rollup", Seq(5 * winMs, 10 * winMs)) {
      (views, clicks) => graft.streaming.SessionStreamJob
        .attributeClicks(views, clicks, "4 hours", "10 minutes")
        .groupBy(col("user_id"), window(col("click_ts"), "1 day").as("day"))
        .agg(count(lit(1)).as("n_attributed"))
        .select(col("user_id"), col("day.start").as("day_start"),
          col("n_attributed"))
    }
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), unix_millis(col("day_start")).as("day_ms"),
        col("n_attributed"))
      .orderBy(col("user_id"), col("day_ms"))
  }

  val eventsAttributionRollupOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
      |  FROM events),
      |v AS (SELECT user_id, ms FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, ms FROM e WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT v.user_id, c.ms AS click_ms
      |  FROM v JOIN c ON v.user_id = c.user_id
      |    AND c.ms >= v.ms AND c.ms <= v.ms + ${AttributionWindowMicros / 1000L})
      |SELECT user_id, (click_ms // 86400000) * 86400000 AS day_ms,
      |       COUNT(*) AS n_attributed
      |FROM pairs
      |GROUP BY user_id, day_ms
      |ORDER BY user_id, day_ms""".stripMargin

  val eventsAttributionStreamOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
      |  FROM events),
      |v AS (SELECT user_id, ms FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, ms FROM e WHERE event_type = 'click')
      |SELECT v.user_id, v.ms AS view_ms, c.ms AS click_ms
      |FROM v JOIN c ON v.user_id = c.user_id
      |  AND c.ms >= v.ms AND c.ms <= v.ms + ${AttributionWindowMicros / 1000L}
      |ORDER BY v.user_id, view_ms, click_ms""".stripMargin

  /** Batch twin of the STREAM-STREAM interval join
    * (SessionStreamJob.attributeClicks): view->click attribution where
    * BOTH input streams are watermarked. Semantics reproduced here:
    * (1) each stream's watermark is the max event time seen in PRIOR
    * micro-batches minus the delay; (2) the query's global watermark is
    * the MIN across the two streams (Spark's default
    * multipleWatermarkPolicy); (3) rows older than the global watermark
    * are dropped from either side before joining; (4) survivors join on
    * user equality bounded by [[AttributionWindowMicros]]. Arrival order
    * is the same deterministic md5 permutation as
    * [[eventsSessionizeLate]], chunked into [[LateChunks]] pseudo-batches.
    *
    * Scale shape: the per-chunk max table is [[LateChunks]] rows
    * (broadcast back), the corpus side stays map-only until the one
    * equality-shuffle on user_id; the interval predicate evaluates
    * post-join with per-user fan-out bounded by the lookback window.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = withMicros(Tables.events(spark, dir))
      .filter(col("event_type").isin("view", "click"))
      .withColumn("chunk", arrivalChunk)
    val cm = e.groupBy(col("chunk")).agg(
      max(when(col("event_type") === "view", col("us"))).as("vmax"),
      max(when(col("event_type") === "click", col("us"))).as("cmax"))
    val prior = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // STRICT min of the two stream watermarks: if EITHER stream has seen
    // no prior data its watermark hasn't started, so the global watermark
    // is undefined and nothing drops — Spark's least() skips NULLs, which
    // would wrongly advance the global watermark on the other stream
    // alone (min-of-streams policy violation on skewed arrivals)
    val vrun = max(col("vmax")).over(prior)
    val crun = max(col("cmax")).over(prior)
    val wm = cm.select(col("chunk"),
      (when(vrun.isNull || crun.isNull, lit(null).cast("long"))
        .otherwise(least(vrun, crun)) - LateDelayMicros).as("wm"))
    val kept = e.join(broadcast(wm), Seq("chunk"))
      .filter(col("wm").isNull || col("us") >= col("wm"))
    val v = kept.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("vus"))
    val c = kept.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("click_id"),
        col("us").as("cus"))
    v.join(c, col("user_id") === col("c_uid") &&
        col("cus") >= col("vus") &&
        col("cus") <= col("vus") + AttributionWindowMicros)
      .select(col("user_id"), col("view_id"), col("click_id"),
        expr("(cus - vus) div 1000000").as("lag_sec"))
      .orderBy(col("user_id"), col("view_id"), col("click_id"))
  }

  val eventsAttributionOracle: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         $arrivalChunkSql AS chunk
      |  FROM events WHERE event_type IN ('view', 'click')),
      |cm AS (
      |  SELECT chunk,
      |         MAX(CASE WHEN event_type = 'view' THEN us END) AS vmax,
      |         MAX(CASE WHEN event_type = 'click' THEN us END) AS cmax
      |  FROM e GROUP BY chunk),
      |wm AS (
      |  SELECT chunk,
      |         CASE WHEN vr IS NULL OR cr IS NULL THEN NULL
      |              ELSE least(vr, cr) - ${LateDelayMicros} END AS wm
      |  FROM (
      |    SELECT chunk,
      |           MAX(vmax) OVER (ORDER BY chunk
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vr,
      |           MAX(cmax) OVER (ORDER BY chunk
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cr
      |    FROM cm)),
      |kept AS (
      |  SELECT e.user_id, e.event_id, e.event_type, e.us
      |  FROM e JOIN wm USING (chunk) WHERE wm IS NULL OR us >= wm),
      |v AS (SELECT user_id, event_id AS view_id, us AS vus
      |      FROM kept WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, us AS cus
      |      FROM kept WHERE event_type = 'click')
      |SELECT v.user_id, view_id, click_id, (cus - vus) // 1000000 AS lag_sec
      |FROM v JOIN c ON v.user_id = c.user_id
      | AND cus >= vus AND cus <= vus + ${AttributionWindowMicros}
      |ORDER BY v.user_id, view_id, click_id""".stripMargin

  /** Hour-of-day x event-type pivot via conditional aggregation (the
    * shuffle-once form of PIVOT).
    */
  def eventsHourlyPivot(spark: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) =
      sum(when(col("event_type") === lit(t), 1L).otherwise(0L)).as(s"n_$t")
    withMicros(Tables.events(spark, dir))
      .withColumn("hour", hour(timestamp_micros(col("us"))).cast("long"))
      .groupBy(col("hour"))
      .agg(cnt("click"), cnt("purchase"), cnt("error"), cnt("signup"), cnt("view"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"))
  }

  val eventsHourlyPivotOracle: String =
    """SELECT CAST(EXTRACT(hour FROM make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  round(SUM(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1 ORDER BY hour""".stripMargin

  /** Deterministic per-group sampling via the custom
    * [[graft.functions.BottomKByHash]] aggregate: 5 consistent samples
    * per event type in one pass (map-side partial heaps, k rows per group
    * per partition at the shuffle — never a per-group sort).
    */
  def eventsSampleBottomK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BottomKByHash.register(spark)
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id").cast("string").as("val"))
      .groupBy(col("event_type"))
      .agg(expr("bottom_k_by_hash(val, 5)").as("sample"))
      .select(col("event_type"), posexplode(col("sample")).as(Seq("pos", "val")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"), col("val"))
      .orderBy(col("event_type"), col("rk"))
  }

  val eventsSampleBottomKOracle: String =
    """SELECT event_type, CAST(rk AS BIGINT) AS rk, val
      |FROM (SELECT event_type, CAST(event_id AS VARCHAR) AS val,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY md5(CAST(event_id AS VARCHAR)), CAST(event_id AS VARCHAR)) AS rk
      |      FROM events)
      |WHERE rk <= 5
      |ORDER BY event_type, rk""".stripMargin

  /** Ordered funnel analysis (signup -> view -> click -> purchase): each
    * step's first occurrence must strictly follow the previous step's.
    * Every step is one filter + user-keyed aggregation; the step joins
    * stay co-partitioned on user_id, so the whole funnel is a chain of
    * bounded user-keyed shuffles — no event-level self-join.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    def firstAfter(step: String, prev: DataFrame, prevCol: String, outCol: String) =
      ev.filter(col("event_type") === step)
        .join(prev, "user_id")
        .filter(col("us") > col(prevCol))
        .groupBy(col("user_id"), col(prevCol))
        .agg(min(col("us")).as(outCol))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = firstAfter("view", s1, "t1", "t2")
    val s3 = firstAfter("click", s2.select("user_id", "t2"), "t2", "t3")
    val s4 = firstAfter("purchase", s3.select("user_id", "t3"), "t3", "t4")
    def step(no: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(no.toLong).as("step_no"), lit(name).as("step"), col("n_users"))
    step(1, "signup", s1)
      .unionAll(step(2, "view", s2))
      .unionAll(step(3, "click", s3))
      .unionAll(step(4, "purchase", s4))
      .orderBy(col("step_no"))
  }

  val eventsFunnelOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'click' AND us > t2 GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, MIN(us) AS t4 FROM e JOIN s3 USING (user_id)
      |       WHERE event_type = 'purchase' AND us > t3 GROUP BY e.user_id)
      |SELECT CAST(1 AS BIGINT) AS step_no, 'signup' AS step, COUNT(*) AS n_users FROM s1
      |UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
      |UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
      |UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
      |ORDER BY step_no""".stripMargin

  /** Markov next-event transition matrix: per-user event sequences
    * (lead over one user-keyed window — the only corpus-sized shuffle)
    * collapse into (prev, next) pair counts, a map-side-combinable
    * aggregate whose key space is |event types|² regardless of corpus
    * size, then per-prev transition probabilities over that tiny table.
    * The product-analytics "what happens after X" primitive; at 100 TB
    * the reduce side stays a few dozen rows.
    */
  def eventsTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wp = Window.partitionBy(col("prev_type"))
    withMicros(Tables.events(spark, dir))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wp) + lit(1e-9), 4))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val eventsTransitionsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS prev_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |           AS next_type
      |  FROM e),
      |c AS (
      |  SELECT prev_type, next_type, COUNT(*) AS n
      |  FROM pairs WHERE next_type IS NOT NULL
      |  GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |       round(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type) + 1e-9, 4) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Modified-z-score cut for [[eventsOutliers]]: 3.5 / 0.6745 rendered
    * as ONE literal so both engines multiply the same double.
    */
  val OutlierCut = 5.1891

  /** Robust per-type outlier detection — median / MAD (the
    * telemetry-cleaning primitive that survives the skew that wrecks
    * mean/stddev): exact discrete medians (percentile_disc picks an
    * actual data value, so both engines agree bit-for-bit — no
    * interpolation arithmetic to align), deviations against a broadcast
    * per-type table, outlier = |v - med| > 5.1891·MAD. Three scans, but
    * the joined side is |event types| rows (broadcast) and each pass is
    * map-only around one tiny aggregate; at 100 TB swap the GK sketch in
    * for the medians (q_approx_agg) — the flag logic is unchanged.
    */
  def eventsOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"), col("med"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"),
        count(lit(1)).as("n_rows"))
    dev.join(broadcast(mad.select(col("event_type"), col("mad"))), "event_type")
      .groupBy(col("event_type"))
      .agg(sum(when(col("adev") > lit(OutlierCut) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .join(mad, "event_type")
      .select(col("event_type"), col("n_rows"), col("med"), col("mad"),
        col("n_outliers"),
        round(col("n_outliers") / col("n_rows").cast("double") + lit(1e-9), 4)
          .as("outlier_frac"))
      .orderBy(col("event_type"))
  }

  val eventsOutliersOracle: String =
    s"""WITH v AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |m AS (
      |  SELECT event_type, quantile_disc(value, 0.5) AS med,
      |         COUNT(*) AS n_rows
      |  FROM v GROUP BY event_type),
      |d AS (
      |  SELECT v.event_type, abs(v.value - m.med) AS adev
      |  FROM v JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, quantile_disc(adev, 0.5) AS mad
      |  FROM d GROUP BY event_type),
      |o AS (
      |  SELECT d.event_type,
      |         SUM(CASE WHEN d.adev > $OutlierCut * md.mad THEN 1 ELSE 0 END)
      |           AS n_outliers
      |  FROM d JOIN md USING (event_type) GROUP BY d.event_type)
      |SELECT m.event_type, m.n_rows, m.med, md.mad,
      |       CAST(o.n_outliers AS BIGINT) AS n_outliers,
      |       round(o.n_outliers * 1.0 / m.n_rows + 1e-9, 4) AS outlier_frac
      |FROM m JOIN md USING (event_type) JOIN o USING (event_type)
      |ORDER BY m.event_type""".stripMargin

  /** Daily activity rollup — DAU / new users / cumulative users, the
    * dashboard staple: one user-day distinct pass and one per-user
    * first-day aggregate share the user_id exchange; the daily frames
    * join on a days-sized key space and the cumulative sum runs over
    * that tiny frame. COUNT(DISTINCT) stays inside a day partition —
    * never a running distinct over the corpus (the trap shape); at
    * 100 TB the distinct pass swaps for HLL partials (q_approx_agg)
    * with the rollup unchanged.
    */
  def eventsActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = withMicros(Tables.events(spark, dir))
      .select(col("user_id"), expr("us div 86400000000").as("day"))
    val daily = e.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("active_users"))
    val firstSeen = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("day"), col("n_events"), col("active_users"),
        col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  val eventsActiveUsersOracle: String =
    """WITH e AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |daily AS (
      |  SELECT day, COUNT(*) AS n_events,
      |         COUNT(DISTINCT user_id) AS active_users
      |  FROM e GROUP BY day),
      |fs AS (
      |  SELECT day, COUNT(*) AS new_users FROM (
      |    SELECT user_id, MIN(day) AS day FROM e GROUP BY user_id)
      |  GROUP BY day)
      |SELECT d.day, d.n_events, d.active_users,
      |       coalesce(fs.new_users, 0) AS new_users,
      |       CAST(SUM(coalesce(fs.new_users, 0)) OVER (ORDER BY d.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_users
      |FROM daily d LEFT JOIN fs USING (day)
      |ORDER BY d.day""".stripMargin

  /** Top event paths — the funnel-DISCOVERY primitive ("which 3-step
    * journeys actually happen", where [[eventsFunnel]] checks one
    * prescribed journey): two leads over the same user-keyed window
    * (ONE corpus shuffle, shared sort) form every consecutive
    * event-type trigram, whose global counts are map-side-combinable
    * with a key space of |types|³ regardless of corpus size; top-20
    * plans as TakeOrderedAndProject.
    */
  def eventsPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    withMicros(Tables.events(spark, dir))
      .withColumn("p2", lead(col("event_type"), 1).over(w))
      .withColumn("p3", lead(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull && col("p3").isNotNull)
      .groupBy(col("event_type").as("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p1"), col("p2"), col("p3"))
      .limit(20)
  }

  val eventsPathsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |t AS (
      |  SELECT event_type AS p1,
      |         lead(event_type, 1) OVER w AS p2,
      |         lead(event_type, 2) OVER w AS p3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      |SELECT p1, p2, p3, COUNT(*) AS n
      |FROM t WHERE p2 IS NOT NULL AND p3 IS NOT NULL
      |GROUP BY p1, p2, p3
      |ORDER BY n DESC, p1, p2, p3
      |LIMIT 20""".stripMargin

  /** Winsorization — the gentler sibling of [[eventsOutliers]]'s cut:
    * clip values into the per-type [p01, p99] band instead of flagging
    * them. `percentile_disc` picks actual data values (no interpolation
    * arithmetic to align across engines); the percentile table is
    * |event types| rows, broadcast back over one map-only clipping pass.
    * At 100 TB the exact percentiles swap for the GK sketch
    * (q_approx_agg) with the clip logic unchanged.
    */
  def eventsWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val pct = ev.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY value)").as("p_lo"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p_hi"))
    ev.join(broadcast(pct), "event_type")
      .withColumn("clipped",
        least(greatest(col("value"), col("p_lo")), col("p_hi")))
      .groupBy(col("event_type"), col("p_lo"), col("p_hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("p_lo") ||
          col("value") > col("p_hi"), 1L).otherwise(0L)).as("n_clipped"),
        round(avg(col("value")) + lit(1e-9), 4).as("mean_raw"),
        round(avg(col("clipped")) + lit(1e-9), 4).as("mean_wins"))
      .select(col("event_type"), col("n"), col("p_lo"), col("p_hi"),
        col("n_clipped"), col("mean_raw"), col("mean_wins"))
      .orderBy(col("event_type"))
  }

  val eventsWinsorizeOracle: String =
    """WITH v AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |p AS (
      |  SELECT event_type, quantile_disc(value, 0.01) AS p_lo,
      |         quantile_disc(value, 0.99) AS p_hi
      |  FROM v GROUP BY event_type)
      |SELECT v.event_type, COUNT(*) AS n, p.p_lo, p.p_hi,
      |       CAST(SUM(CASE WHEN v.value < p.p_lo OR v.value > p.p_hi
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |       round(AVG(v.value) + 1e-9, 4) AS mean_raw,
      |       round(AVG(least(greatest(v.value, p.p_lo), p.p_hi)) + 1e-9, 4)
      |         AS mean_wins
      |FROM v JOIN p USING (event_type)
      |GROUP BY v.event_type, p.p_lo, p.p_hi
      |ORDER BY v.event_type""".stripMargin

  /** Z-order (Morton) clustering stats — the data-layout primitive
    * behind multi-dimensional file pruning (OPTIMIZE ZORDER BY): the
    * codegen'd [[graft.functions.ZInterleave]] key interleaves
    * (user_id, epoch-day) bits, and range-bucketing on it stands in for
    * the file boundaries a layout rewrite would produce. The per-bucket
    * min/max table IS the demonstration: both dimensions' ranges stay
    * narrow simultaneously, so a predicate on EITHER column prunes
    * buckets — a single-column sort narrows only its leading column
    * (ZInterleaveSpec quantifies the difference). Map-only except the
    * bucket rollup, whose key space is the bucket count.
    */
  def eventsZorder(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ZInterleave.register(spark)
    // 8-bit keys in both dims (user residue x epoch-hour residue) so the
    // interleave genuinely mixes comparable-cardinality dimensions at
    // every fixture SF; bucket = z >> 8 cuts the space into 16x16 tiles
    withMicros(Tables.events(spark, dir))
      .select(expr("user_id & 255").as("x"),
        expr("(us div 3600000000) & 255").as("y"))
      .withColumn("z", expr("z_interleave16(x, y)"))
      .withColumn("bucket", expr("z >> 8"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("bucket"))
  }

  val eventsZorderOracle: String =
    """WITH e AS (
      |  SELECT user_id & 255 AS x,
      |         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600) & 255 AS y
      |  FROM events),
      |z AS (
      |  SELECT x, y,
      |         CAST(list_sum(list_transform(range(16),
      |           b -> (((x >> b) & 1) << (2 * b))
      |              + (((y >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS z
      |  FROM e)
      |SELECT (z >> 8) AS bucket, COUNT(*) AS n,
      |       MIN(x) AS min_x, MAX(x) AS max_x,
      |       MIN(y) AS min_y, MAX(y) AS max_y
      |FROM z
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** The watermarked streaming dedup (SessionStreamJob
    * .dedupWithinWatermark), driven END-TO-END through the DuckDB
    * oracle with the same wave harness as [[eventsSessionizeStateful]]:
    * every (user_id, event_type) key must be emitted EXACTLY once
    * across all arrival waves — the multiplicity is the assertion, and
    * it holds only if the dedup state actually persists across
    * micro-batches. The 60-day delay exceeds the fixture's span, so no
    * state expires and the oracle is plain DISTINCT. (The row-value
    * nondeterminism of which duplicate survives is projected away: the
    * output is the key set itself.)
    */
  def eventsDedupStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
      .select(col("user_id"), col("event_type"), expr("us div 1000").as("ms"))
    val bounds = msBounds(ev, "dedup_stream_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    driveWaves(spark,
      ev.withColumn("wave", expr(s"(ms - $lo) div $width")),
      "user_id LONG, event_type STRING, ms LONG", StatefulChunks.toLong,
      "dds_out") { src =>
      graft.streaming.SessionStreamJob
        .dedupWithinWatermark(
          src.select(col("user_id"), col("event_type"),
            timestamp_millis(col("ms")).as("ets")),
          col("ets"), Seq("user_id", "event_type"), "60 days")
        .select(col("user_id"), col("event_type"))
    }
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val eventsDedupStreamOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** PII-style redaction over the props payload: mask every digit run,
    * count masked runs. Pure map-side regexp — the redaction pass a
    * training pipeline runs over every document, shaped to scan-project
    * with zero shuffle.
    */
  def eventsRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "<NUM>").as("props_redacted"),
        (size(split(col("props"), "[0-9]+")) - 1).cast("long").as("n_redacted"))
      .orderBy(col("event_id"))

  val eventsRedactOracle: String =
    """SELECT event_id,
      |       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
      |       CAST(len(string_split_regex(props, '[0-9]+')) - 1 AS BIGINT) AS n_redacted
      |FROM events ORDER BY event_id""".stripMargin

  /** Pairwise time-series similarity: Pearson correlation between users'
    * hourly activity profiles. Profiles pre-aggregate to (user, hour)
    * before the hour-aligned self-join, so the join input is key-space
    * sized; correlation is computed from explicit co-moment sums (not the
    * corr() aggregate) so the arithmetic is identical algebra in both
    * engines. Rounded inputs + 4-dp output keep double sums cross-engine
    * stable.
    */
  def eventsSeriesCorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = withMicros(Tables.events(spark, dir))
      .filter(col("user_id") < 5)
      .withColumn("hour", hour(timestamp_micros(col("us"))).cast("long"))
      .groupBy(col("user_id"), col("hour"))
      .agg(round(sum(col("value")), 5).as("v"))
    val joined = hourly.as("a").join(hourly.as("b"),
        col("a.hour") === col("b.hour") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"),
        col("a.v").as("x"), col("b.v").as("y"))
    joined.groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("varx", col("n_hours") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_hours") * col("syy") - col("sy") * col("sy"))
      .select(col("ua"), col("ub"), col("n_hours"),
        // a zero-variance series has no defined correlation: NULL, not
        // NaN. Guard each factor — a product of two tiny NEGATIVE fp
        // residuals would sneak past a den2 <= 0 check as positive.
        when(col("varx") <= 0 || col("vary") <= 0, lit(null).cast("double"))
          .otherwise(round((col("n_hours") * col("sxy") - col("sx") * col("sy"))
            / sqrt(col("varx") * col("vary")), 4))
          .as("pearson"))
      .orderBy(col("ua"), col("ub"))
  }

  val eventsSeriesCorrOracle: String =
    """WITH hourly AS (
      |  SELECT user_id,
      |         CAST(EXTRACT(hour FROM make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour,
      |         round(SUM(value), 5) AS v
      |  FROM events WHERE user_id < 5
      |  GROUP BY user_id, 2),
      |j AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, a.v AS x, b.v AS y
      |  FROM hourly a JOIN hourly b
      |    ON a.hour = b.hour AND a.user_id < b.user_id),
      |m AS (
      |  SELECT ua, ub, COUNT(*) AS n_hours,
      |         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
      |         SUM(x*x) AS sxx, SUM(y*y) AS syy
      |  FROM j GROUP BY ua, ub),
      |d AS (
      |  SELECT *, n_hours * sxx - sx * sx AS varx,
      |         n_hours * syy - sy * sy AS vary
      |  FROM m)
      |SELECT ua, ub, n_hours,
      |       CASE WHEN varx <= 0 OR vary <= 0 THEN NULL
      |            ELSE round((n_hours * sxy - sx * sy) / sqrt(varx * vary), 4) END AS pearson
      |FROM d ORDER BY ua, ub""".stripMargin

  /** Cohort-retention matrix — the product-analytics staple next to the
    * funnel: cohort = a user's first-seen DAY, cell
    * (cohort_date, day_offset) counts users from that cohort active
    * offset days later. Plan shape: ONE user_id shuffle computes the
    * first-seen day AND the distinct active-day set together
    * (`min` + `collect_set` share the exchange, both with map-side
    * partials), so there is no self-join and no second exchange — the
    * naive first-seen ⋈ distinct-activity formulation shuffles the
    * events scan twice on different keys. Per-user state is bounded by
    * the distinct-day horizon (the retention window), and post-explode
    * (user, day) pairs are unique by set-ness so the final count needs
    * no distinct. The final key space is days x days regardless of
    * event volume.
    */
  def eventsCohortRetention(spark: SparkSession, dir: String): DataFrame =
    withMicros(Tables.events(spark, dir))
      .select(col("user_id"), to_date(timestamp_micros(col("us"))).as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_d"), collect_set(col("d")).as("days"))
      .select(col("cohort_d"), explode(col("days")).as("d"))
      .groupBy(col("cohort_d"),
        datediff(col("d"), col("cohort_d")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort_d").cast("string").as("cohort_date"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_date"), col("day_offset"))

  val eventsCohortRetentionOracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |f AS (SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, d FROM e)
      |SELECT CAST(cohort_d AS STRING) AS cohort_date,
      |       CAST(d - cohort_d AS BIGINT) AS day_offset,
      |       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY cohort_d, d - cohort_d
      |ORDER BY cohort_date, day_offset""".stripMargin

  /** OHLC resample — the time-series downsampling staple: per user per
    * hour, the first (open) and last (close) `value` by event time plus
    * the high/low extremes. Open/close are single-pass `min_by`/`max_by`
    * over a (us, event_id) struct key; the composite makes the selection
    * deterministic under same-microsecond ties. Plan shape: ONE keyed
    * shuffle with map-side partial aggregation (the struct ordering key
    * is not hash-buffer-mutable, so Spark plans SortAggregate — a
    * per-partition sort by the GROUP keys feeding streaming partials,
    * never a time-ordered window over the corpus, and the shuffle still
    * carries only per-(user, hour) state: four doubles + a count).
    * No rounding: open/high/low/close are exact row selections, not
    * accumulations, so both engines return bit-identical doubles.
    */
  def eventsOhlc(spark: SparkSession, dir: String): DataFrame =
    withMicros(Tables.events(spark, dir))
      .select(col("user_id"), expr("us div 3600000000").as("hour_idx"),
        col("us"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("hour_idx"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("us"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("close"))
      .orderBy(col("user_id"), col("hour_idx"))

  val eventsOhlcOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |h AS (
      |  SELECT user_id, value, us // 3600000000 AS hour_idx,
      |         row_number() OVER (PARTITION BY user_id, us // 3600000000
      |                            ORDER BY us, event_id) AS rn_a,
      |         row_number() OVER (PARTITION BY user_id, us // 3600000000
      |                            ORDER BY us DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT user_id, hour_idx, COUNT(*) AS n,
      |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |       MAX(value) AS high, MIN(value) AS low,
      |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close
      |FROM h GROUP BY user_id, hour_idx
      |ORDER BY user_id, hour_idx""".stripMargin

  /** Gaps-and-islands state intervals (the SCD-2 build shape): collapse
    * each user's consecutive runs of the same event_type — ordered by
    * (event time, ingestion id) — into validity intervals
    * [start_us, end_us] with a run length. The lag + cumulative-flag-sum
    * island id is the textbook formulation; both windows and the final
    * rollup share ONE user_id exchange (same plan contract as
    * sessionize, PlanSpec-asserted shape). Per-user window state is a
    * single lag row, so partitions stream. Grouping by event_type along
    * with the island id is safe (it is constant within a run) and avoids
    * a first()-style selection.
    */
  def eventsStateIntervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withMicros(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("event_type"), col("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), lit(1L)).otherwise(lit(0L)))
      .withColumn("run_idx", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("run_idx"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .orderBy(col("user_id"), col("run_idx"))
  }

  val eventsStateIntervalsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |         CASE WHEN lag(event_type) OVER
      |                (PARTITION BY user_id ORDER BY us, event_id) IS DISTINCT FROM event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM e),
      |runs AS (
      |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_idx
      |  FROM flagged)
      |SELECT user_id, run_idx, event_type, COUNT(*) AS n_events,
      |       MIN(us) AS start_us, MAX(us) AS end_us
      |FROM runs GROUP BY user_id, run_idx, event_type
      |ORDER BY user_id, run_idx""".stripMargin

  /** SCD-2 point-in-time enrichment: build a slowly-changing dimension
    * from the click stream (each distinct (user, time) click is a new
    * attribute VERSION; `lead` closes the previous version's validity,
    * the newest version stays open-ended), then enrich each purchase
    * with the version in effect at purchase time. The lookup composes
    * [[JoinOps.asOfJoin]] — same single-shuffle plan — so "point in
    * time against versioned intervals" costs no more than a plain as-of
    * match; the version id and validity bounds ride along in the match
    * struct. Same-instant clicks collapse via `max_by(value, event_id)`
    * BEFORE versioning, which keeps both version numbering and the
    * as-of tie deterministic.
    */
  def eventsScd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("eff_from"))
    val dim = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("us"))
      .agg(round(max_by(col("value"), col("event_id")), 2).as("attr"))
      .withColumnRenamed("us", "eff_from")
      .withColumn("ver", row_number().over(wVer).cast("long"))
      .withColumn("eff_to", lead(col("eff_from"), 1).over(wVer))
    val fact = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    JoinOps.asOfJoin(fact, dim, "user_id", "us", "eff_from")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("asof.ver").as("ver"), col("asof.attr").as("attr"),
        col("asof.eff_from").as("eff_from"), col("asof.eff_to").as("eff_to"))
      .orderBy(col("event_id"))
  }

  val eventsScd2LookupOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |d0 AS (
      |  SELECT user_id, us AS eff_from,
      |         round(max_by(value, event_id), 2) AS attr
      |  FROM e WHERE event_type = 'click' GROUP BY user_id, us),
      |dim AS (
      |  SELECT *, row_number() OVER w AS ver, lead(eff_from) OVER w AS eff_to
      |  FROM d0 WINDOW w AS (PARTITION BY user_id ORDER BY eff_from)),
      |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.us AS purchase_us,
      |       dim.ver, dim.attr, dim.eff_from, dim.eff_to
      |FROM p ASOF LEFT JOIN dim
      |  ON p.user_id = dim.user_id AND p.us >= dim.eff_from
      |ORDER BY p.event_id""".stripMargin

  /** Streaming percentile monitoring (TwsQuantileJob: one DDSketch
    * buffer per key on transformWithState ValueState), driven
    * END-TO-END and reconciled against BOTH ground truths in one
    * report: the streamed final sketch must (a) equal the batch
    * `dd_sketch` aggregate BIT-FOR-BIT — DDSketch state is a pure
    * function of the observed multiset, so wave carving must not move
    * it — and (b) land inside the hard relative-α bound of the exact
    * `percentile_disc` order statistics. DuckDB reproduces the exact
    * columns; both reconciliation results ride as constant-true
    * booleans (the q_approx_agg convention).
    */
  def eventsQuantileStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = withMicros(Tables.events(spark, dir))
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), expr("us div 1000").as("ms"))
    val bounds = msBounds(ev, "quantile_stream_" + dir)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / StatefulChunks + 1
    val alpha = StatsOps.DdAlpha
    val streamed = withRocksDb(spark) {
      driveWaves(spark,
        ev.withColumn("wave", expr(s"(ms - $lo) div $width")),
        "event_type STRING, value DOUBLE, ms LONG", StatefulChunks.toLong,
        "tws_ddq") { src =>
        import src.sparkSession.implicits._
        graft.streaming.TwsQuantileJob.quantiles(
          src.select(col("event_type").as("key"), col("value"))
            .as[graft.streaming.ValObs], alpha)
          .toDF()
      }
    }
    // final cumulative report per key = the emission with the largest n
    val wFin = Window.partitionBy(col("key")).orderBy(col("n").desc)
    val fin = streamed.withColumn("rk", row_number().over(wFin))
      .filter(col("rk") === 1)
      .select(col("key").as("event_type"), col("n"),
        col("p50"), col("p95"), col("p99"))
    graft.functions.DdSketch.register(spark)
    val batch = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr(s"dd_sketch(value, $alpha)").as("sk"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("p50_exact"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
          .as("p95_exact"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)")
          .as("p99_exact"),
        count(lit(1)).as("n_rows"))
    def ok(est: Column, exact: Column): Column =
      abs(est - exact) <= lit(alpha * 1.001) * exact
    fin.join(batch, "event_type")
      .select(col("event_type"), col("n_rows"),
        col("p50_exact"), col("p95_exact"), col("p99_exact"),
        (col("n") === col("n_rows")).as("n_matches"),
        (col("p50") === col("sk.p50") && col("p95") === col("sk.p95") &&
          col("p99") === col("sk.p99")).as("stream_equals_batch"),
        ok(col("p50"), col("p50_exact")).as("ok_p50"),
        ok(col("p95"), col("p95_exact")).as("ok_p95"),
        ok(col("p99"), col("p99_exact")).as("ok_p99"))
      .orderBy(col("event_type"))
  }

  val eventsQuantileStreamOracle: String =
    """SELECT event_type, COUNT(*) AS n_rows,
      |       quantile_disc(value, 0.5) AS p50_exact,
      |       quantile_disc(value, 0.95) AS p95_exact,
      |       quantile_disc(value, 0.99) AS p99_exact,
      |       TRUE AS n_matches, TRUE AS stream_equals_batch,
      |       TRUE AS ok_p50, TRUE AS ok_p95, TRUE AS ok_p99
      |FROM events WHERE value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The wave drives — every registered query whose wall time is
    * micro-batch machinery. Registered via [[drive]] so membership here
    * IS membership in [[streamingQueryNames]] (one registration, both
    * surfaces), and the harness's registration tripwire enforces the
    * converse at first execution.
    */
  private val driveQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      drive("events_quantile_stream", eventsQuantileStream _),
      drive("events_quota_stream", eventsQuotaStream _),
      drive("events_window_stream", eventsWindowStream _),
      drive("events_sessionize_stateful", eventsSessionizeStateful _),
      drive("events_sessionize_window", eventsSessionizeWindow _),
      drive("events_sessionize_tws", eventsSessionizeTws _),
      drive("events_sessionize_warm", eventsSessionizeWarm _),
      drive("events_pattern_stream", eventsPatternStream _),
      drive("events_firstseen_stream", eventsFirstSeenStream _),
      drive("events_attribution_stream", eventsAttributionStream _),
      drive("events_attribution_outer", eventsAttributionOuter _),
      drive("events_attribution_rollup", eventsAttributionRollup _),
      drive("events_dedup_stream", eventsDedupStream _))

  /** Names Bench bills to `streaming_sec`; fed into
    * [[graft.SparkEntry.streamingQueries]].
    */
  val streamingQueryNames: Set[String] = driveQueries.keySet

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    batch("events_scd2_lookup", eventsScd2Lookup _),
    batch("events_variant_props", eventsVariantProps _),
    batch("events_sliding_window", eventsSlidingWindow _),
    batch("events_merge_intervals", eventsMergeIntervals _),
    batch("events_user_features", eventsUserFeatures _),
    batch("events_time_split", eventsTimeSplit _),
    batch("events_ohlc", eventsOhlc _),
    batch("events_state_intervals", eventsStateIntervals _),
    batch("events_cohort_retention", eventsCohortRetention _),
    batch("events_series_corr", eventsSeriesCorr _),
    batch("events_funnel", eventsFunnel _),
    batch("events_transitions", eventsTransitions _),
    batch("events_outliers", eventsOutliers _),
    batch("events_redact", eventsRedact _),
    batch("events_sample_bottomk", eventsSampleBottomK _),
    batch("events_json_props", eventsJsonProps _),
    batch("events_sessionize", eventsSessionize _),
    batch("events_sessionize_late", eventsSessionizeLate _),
    batch("events_paths", eventsPaths _),
    batch("events_active_users", eventsActiveUsers _),
    batch("events_winsorize", eventsWinsorize _),
    batch("events_zorder", eventsZorder _),
    batch("events_attribution", eventsAttribution _),
    batch("events_hourly_pivot", eventsHourlyPivot _)) ++ driveQueries

  def oracles: Map[String, String] = Map(
    "events_quantile_stream" -> eventsQuantileStreamOracle,
    "events_scd2_lookup" -> eventsScd2LookupOracle,
    "events_quota_stream" -> eventsQuotaStreamOracle,
    "events_variant_props" -> eventsVariantPropsOracle,
    "events_sliding_window" -> eventsSlidingWindowOracle,
    // the streaming twin is oracle-checked against the SAME batch SQL:
    // finalized append-mode output must equal the batch sliding window
    "events_window_stream" -> eventsSlidingWindowOracle,
    "events_merge_intervals" -> eventsMergeIntervalsOracle,
    "events_user_features" -> eventsUserFeaturesOracle,
    "events_time_split" -> eventsTimeSplitOracle,
    "events_ohlc" -> eventsOhlcOracle,
    "events_state_intervals" -> eventsStateIntervalsOracle,
    "events_cohort_retention" -> eventsCohortRetentionOracle,
    "events_series_corr" -> eventsSeriesCorrOracle,
    "events_funnel" -> eventsFunnelOracle,
    "events_transitions" -> eventsTransitionsOracle,
    "events_outliers" -> eventsOutliersOracle,
    "events_redact" -> eventsRedactOracle,
    "events_sample_bottomk" -> eventsSampleBottomKOracle,
    "events_json_props" -> eventsJsonPropsOracle,
    "events_sessionize" -> eventsSessionizeOracle,
    "events_sessionize_late" -> eventsSessionizeLateOracle,
    "events_sessionize_stateful" -> eventsSessionizeStatefulOracle,
    "events_sessionize_window" -> eventsSessionizeWindowOracle,
    "events_sessionize_tws" -> eventsSessionizeStatefulOracle,
    "events_sessionize_warm" -> eventsSessionizeStatefulOracle,
    "events_pattern_stream" -> eventsPatternStreamOracle,
    "events_firstseen_stream" -> eventsFirstSeenStreamOracle,
    "events_attribution_stream" -> eventsAttributionStreamOracle,
    "events_attribution_outer" -> eventsAttributionOuterOracle,
    "events_attribution_rollup" -> eventsAttributionRollupOracle,
    "events_dedup_stream" -> eventsDedupStreamOracle,
    "events_paths" -> eventsPathsOracle,
    "events_active_users" -> eventsActiveUsersOracle,
    "events_winsorize" -> eventsWinsorizeOracle,
    "events_zorder" -> eventsZorderOracle,
    "events_attribution" -> eventsAttributionOracle,
    "events_hourly_pivot" -> eventsHourlyPivotOracle)
}
