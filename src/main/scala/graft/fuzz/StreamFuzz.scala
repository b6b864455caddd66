package graft.fuzz

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.EventOps
import graft.streaming.WaveHarness

import scala.util.Random

/** Differential fuzzing of the STREAMING state machine — the surface the
  * hand-built oracle drives cover with one scenario each: seeded
  * generators pick watermark delay, window geometry, and a RANDOM wave
  * carving of the events fixture (pure md5 shuffle, or time-buckets with
  * md5 jitter), drive the real micro-batch machinery through
  * [[WaveHarness.driveWaves]], and check the finalized output against a
  * DuckDB oracle that REPLAYS Spark's watermark semantics in plain SQL.
  *
  * Unlike the ascending-wave drives (where no row is ever late), random
  * carving makes rows arrive out of order, so the late-data drop path,
  * watermark lag, and cross-batch state merging all execute on every
  * seed. The oracle encodes the exact semantics pinned empirically by
  * WmProbeSpec against Spark 4.1:
  *
  *  - One released wave == one micro-batch (single staged file per
  *    wave, no maxFilesPerTrigger). Empty waves produce no batch.
  *  - The watermark DURING batch k is `E(k) = max(0, runningMax(max
  *    event ms of batches 0..k-1) - delay)`; it appears in progress as
  *    `eventTime.watermark`.
  *  - LATE-ROW FILTERING lags one batch (SPARK-40925, two-watermark
  *    policy): batch k filters with `L(k) = E(k-1)` — the running max
  *    through batch k-2 minus delay. In the oracle this is a running
  *    MAX window over `2 PRECEDING`.
  *  - Streaming windowed aggregation drops a (row, window) pair iff
  *    `window_end <= L` (window-based: a row whose own time is below
  *    the watermark still counts into a window straddling it).
  *  - transformWithState drops a row iff `eventTs <= L` (row-based,
  *    inclusive boundary).
  *  - Within a batch, input rows are processed BEFORE event-time
  *    timers fire, so a row landing in a bucket that closes in the
  *    same batch is counted into the closing report, not split.
  *
  * For families A/B, emission is append-on-finalize and no window/
  * bucket can emit twice (proved in each family's Scaladoc), so the
  * finalized output is a pure function of {kept rows} and the oracle is
  * one batch aggregate. Family C (session windows) is NOT such a pure
  * function — a kept row can re-open an overlapping session after
  * emission — so its oracle replays the batch sequence stage by stage
  * (see [[genSession]]).
  *
  * Scale shape: identical to the covered operators — the corpus-sized
  * work is one distributed staging write + the streaming job's own
  * keyed shuffles; the carving hash is map-side; `driveWaves`' 1-file
  * staging is the oracle harness's arrival simulation, not the
  * production path.
  */
object StreamFuzz {

  /** Seed floors, one per family (disjoint ranges — a new family never
    * changes an earlier seed's rendering, the QueryFuzz convention).
    */
  val AggSeedFloor = 12000L
  val QuotaSeedFloor = 12500L
  val SessionSeedFloor = 13000L
  val JoinSeedFloor = 13500L
  val DedupSeedFloor = 14000L
  val DedupWmSeedFloor = 14500L
  val JoinExtSeedFloor = 15000L
  val ChainSeedFloor = 15500L
  val UnionSeedFloor = 16000L
  val AggAggSeedFloor = 16500L
  val Chain3SeedFloor = 17000L
  val TwsJoinSeedFloor = 17500L
  val DedupAggSeedFloor = 18000L
  val JoinJoinSeedFloor = 18500L
  val DedupJoinSeedFloor = 19000L
  val AggJoinSeedFloor = 19500L
  // QueryFuzz owns [20000, 40000) in the shared fuzz_q name prefix
  // (26xxx used so far, growing upward), so streaming families continue
  // at 40000+ regardless of future QueryFuzz growth; generate/twinFor
  // throw on seeds in the batch-owned gap
  val BatchOwnedFloor = 20000L
  val AggJoinOuterSeedFloor = 40000L
  val UnionJoinSeedFloor = 40500L
  val TwsAggSeedFloor = 41000L
  val DedupSessSeedFloor = 41500L
  val JoinDedupSeedFloor = 42000L
  val SessRollupSeedFloor = 42500L

  case class SGen(seed: Long,
      build: (SparkSession, String) => DataFrame, sql: String)

  /** Harness-side knobs a seed can be re-driven under WITHOUT changing
    * its semantics — the finalized output (and therefore the seed's
    * DuckDB oracle) must be invariant to all of them:
    *
    *  - `restart`: kill the query right after releasing the wave past
    *    the midpoint (no processAllAvailable — its batch is un-awaited)
    *    and resume from the checkpoint into an exactly-once file sink.
    *  - `filesPerWave`: stage each wave as several salted files, so
    *    micro-batches are multi-file and multi-partition at the source.
    *  - `statePartitions`: override the shuffle/state partition count
    *    (family default otherwise) — keyed state must be partition-
    *    count-invariant.
    *
    * `tag` keeps the drive's memory-sink/checkpoint name disjoint from
    * the plain rendering of the same seed (e.g. `sfz_agg_r12000`).
    */
  case class DriveCfg(tag: String = "", restart: Boolean = false,
      filesPerWave: Int = 1, statePartitions: Option[Int] = None) {
    def killAfter(nWaves: Int): Option[Long] =
      if (restart) Some(nWaves / 2L) else None
  }

  /** Watermark-delay menu in ms. Shuffle carving randomizes arrival
    * completely, so the lagged watermark sits near the global max from
    * batch 2 on — small delays would drop nearly everything; the
    * shuffle menu starts at 6 h so every seed keeps a meaningful rows
    * subset AND drops a meaningful rows subset. Jitter carving keeps
    * arrival loosely time-ordered (disorder bounded by one time
    * bucket), so small delays exercise the drop path without draining
    * the stream.
    */
  private val ShuffleDelaysMs = Seq(6L * 3600000, 24L * 3600000, 72L * 3600000)
  private val JitterDelaysMs = Seq(0L, 60000L, 3600000L)

  /** The Spark half of the carving (DuckDB twin: [[waveSql]]): shuffle
    * hashes the ingestion id into a uniform wave; jitter buckets time
    * ascending and nudges each row ±1 bucket. `lo`/`width` are the
    * fixture's global min ms and the time-bucket width (jitter only).
    */
  private def carving(mode: String, seed: Long, nWaves: Int,
      lo: Long, width: Long): org.apache.spark.sql.Column =
    mode match {
      case "shuffle" =>
        expr(s"conv(substring(md5(concat(cast(event_id as string)," +
          s" '_s$seed')), 1, 15), 16, 10)").cast("long") % nWaves
      case _ => // jitter: ascending time buckets, each row nudged ±1
        val j = expr(s"conv(substring(md5(concat(cast(event_id as string)," +
          s" '_j$seed')), 1, 15), 16, 10)").cast("long") % 3 - 1
        least(greatest(expr(s"(ms - ${lo}L) div ${width}L") + j,
          lit(0L)), lit(nWaves - 1L))
    }

  /** The DuckDB carving twin of [[carving]]'s Column: shuffle hashes the
    * ingestion id; jitter buckets on the `lo`/`w` columns the bounds CTE
    * carries through `raw`.
    */
  private def waveSql(mode: String, seed: Long, nWaves: Int): String =
    mode match {
      case "shuffle" =>
        s"CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) ||" +
          s" '_s$seed'), 1, 15) AS BIGINT) % $nWaves"
      case _ =>
        s"LEAST(GREATEST((ms - lo) // w + " +
          s"(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '_j$seed')," +
          s" 1, 15) AS BIGINT) % 3 - 1), 0), ${nWaves - 1})"
    }

  /** The oracle's fixture CTEs up to `raw` (the DuckDB twin of
    * [[carve]]): `raw` holds `event_id`, the `cols`, the event time as
    * `ms`, and in jitter mode the carving bounds `lo` / bucket width `w`
    * — computed by a `bounds` CTE over the same `where` subset, since
    * the Scala side's bounds are over the projected subset too (one
    * boundary row on the full-table bounds flips a wave).
    */
  private def rawCtes(mode: String, nWaves: Int, cols: String,
      where: String = ""): String = {
    val ms = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000"
    val filter = if (where.isEmpty) "" else s"\n  WHERE $where"
    if (mode == "jitter")
      s"""bounds AS (SELECT MIN($ms) AS lo,
        |  (MAX($ms) - MIN($ms)) // $nWaves + 1 AS w
        |  FROM events$filter),
        |raw AS (
        |  SELECT event_id, $cols, $ms AS ms, bounds.lo AS lo, bounds.w AS w
        |  FROM events CROSS JOIN bounds$filter)""".stripMargin
    else
      s"""raw AS (
        |  SELECT event_id, $cols, $ms AS ms
        |  FROM events$filter)""".stripMargin
  }

  /** The lagged-watermark CTEs shared by both families' oracles:
    * `b` = per-(non-empty-)wave max ms — the batch sequence; `l` = the
    * late-filter watermark each batch actually applied, `E(k-1)` =
    * running max through batch k-2 minus delay (NULL -> 0 for the
    * first two batches, where the watermark is still the initial 0).
    */
  private def lateWmCtes(delayMs: Long): String =
    s"""b AS (SELECT wave, MAX(ms) AS mx FROM e GROUP BY wave),
      |l AS (SELECT wave,
      |        COALESCE(GREATEST(MAX(mx) OVER (ORDER BY wave
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
      |          - $delayMs, 0), 0) AS lwm
      |      FROM b)""".stripMargin

  /** A seed's carved fixture: the projected events with the seed's
    * `wave` column, and the projection's max ms (the sentinel waves sit
    * past it).
    */
  private case class Carved(rows: DataFrame, hi: Long)

  /** Carve the events fixture for one seed: `project` maps the
    * micro-timestamped events (`us`) to the family's columns, which
    * must include `event_id` and `ms`; jitter mode buckets over the
    * projection's own time bounds.
    */
  private def carve(spark: SparkSession, dir: String, seed: Long,
      mode: String, nWaves: Int)(project: DataFrame => DataFrame): Carved = {
    val ev = project(EventOps.withMicros(Tables.events(spark, dir)))
    val bounds = WaveHarness.msBounds(ev, s"sfz_b${seed}_$dir")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    Carved(ev.withColumn("wave",
      carving(mode, seed, nWaves, lo, (hi - lo) / nWaves + 1)), hi)
  }

  /** Drive a seed's carved frame plus its two sentinel waves through
    * the wave harness under `cfg`: the drive is named
    * `sfz_<family>_<tag><seed>`, and every cfg of one seed shares one
    * staging. `stateParts` is the family's default state width.
    */
  private def driveFamily(spark: SparkSession, dir: String, family: String,
      seed: Long, cfg: DriveCfg, frame: DataFrame, schema: String,
      nWaves: Int, stateParts: Int = 1)(
      transform: DataFrame => DataFrame): DataFrame =
    WaveHarness.driveWaves(spark, frame, schema, nWaves + 2L,
      s"sfz_${family}_${cfg.tag}$seed",
      statePartitions = cfg.statePartitions.getOrElse(stateParts),
      filesPerWave = cfg.filesPerWave,
      restartAfter = cfg.killAfter(nWaves),
      stageKey = Some(WaveHarness.stageKeyFor(s"sfz_${family}_$seed", dir)))(
      transform)

  /** Family A — streaming sliding-window aggregation under random
    * arrival. Geometry: width = m * slide (m in 1..2), so each kept row
    * lands in m windows; the oracle unnests the m covering starts and
    * keeps pairs with `ws + width > L(batch)`.
    *
    * No-duplicate-emission argument: window W emits at the first batch
    * N with `W.end <= E(N)`; any later row for W arrives at batch
    * M > N and is filtered because `L(M) = E(M-1) >= E(N) >= W.end`.
    */
  private[graft] case class AggP(nWaves: Int, mode: String, delay: Long,
      slide: Long, m: Int) {
    def width: Long = m * slide
  }

  private[graft] def aggP(seed: Long): AggP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    AggP(nWaves, mode, delay,
      Seq(300000L, 900000L, 3600000L)(rnd.nextInt(3)), 1 + rnd.nextInt(2))
  }

  private def genAgg(seed: Long, cfg: DriveCfg): SGen = {
    val p = aggP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val slide = p.slide; val m = p.m; val width = p.width

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("event_type"),
          expr("us div 1000").as("ms"), col("value")))
      val margin = delay + 3 * width + 10000000L
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          ("\u0000s1", hi + margin, 0.0, nWaves.toLong),
          ("\u0000s2", hi + 2 * margin, 0.0, nWaves + 1L))
          .toDF("event_type", "ms", "value", "wave"))
      driveFamily(spark, dir, "agg", seed, cfg, frame,
        "event_type STRING, ms LONG, value DOUBLE", nWaves) { src =>
        src.select(col("event_type"), timestamp_millis(col("ms")).as("t"),
            col("value"))
          .withWatermark("t", s"$delay milliseconds")
          .groupBy(window(col("t"), s"$width milliseconds",
            s"$slide milliseconds"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
              .as("sum_value"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("n"), col("sum_value"))
      }
        .filter(!col("event_type").startsWith("\u0000"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }

    // identical carving + lagged watermark replayed in DuckDB; jitter
    // mode carries the fixture bounds (lo, bucket width w) through the
    // raw CTE so the carving reads exactly like the Scala twin
    val starts = (0 until m)
      .map(k => s"(ms // $slide) * $slide - ${k.toLong * slide}")
      .mkString("[", ", ", "]")
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "event_type, value")},
        |e AS (SELECT event_type, ms, value, ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |x AS (
        |  SELECT event_type, unnest($starts) AS ws, value, wave FROM e),
        |p AS (
        |  SELECT x.event_type, x.ws, x.value, l.lwm
        |  FROM x JOIN l USING (wave))
        |SELECT ws AS window_start_ms, event_type, COUNT(*) AS n,
        |       round(SUM(value) * (1.0 + 1e-12), 2) AS sum_value
        |FROM p WHERE ws + $width > lwm
        |GROUP BY ws, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin
    SGen(seed, build, sql)
  }

  /** Family B — transformWithState admission quotas (MapState by time
    * bucket + event-time timers) under random arrival. The oracle keeps
    * rows with `ms > L(batch)` and re-counts buckets in batch SQL.
    *
    * No-duplicate-report argument: bucket h sweeps at the first batch N
    * with `h + bucket <= E(N)`; a later row for h at batch M > N has
    * `ms < h + bucket <= E(N) <= E(M-1) = L(M)` — filtered (inclusive
    * boundary), so the swept bucket never reopens. Rows landing in the
    * sweeping batch itself are counted first (input-before-timers,
    * probed).
    */
  private[graft] case class QuotaP(nWaves: Int, mode: String, delay: Long,
      bucket: Long, cap: Long)

  private[graft] def quotaP(seed: Long): QuotaP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    QuotaP(nWaves, mode, delay,
      Seq(3600000L, 6L * 3600000L, 24L * 3600000L)(rnd.nextInt(3)),
      Seq(1L, 2L, 5L)(rnd.nextInt(3)))
  }

  private def genQuota(seed: Long, cfg: DriveCfg): SGen = {
    val p = quotaP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket; val cap = p.cap

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"),
          coalesce(col("value"), lit(0.0)).as("value")))
      val margin = delay + 3 * bucket + 10000000L
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, 0.0, nWaves.toLong),
          (-2L, hi + 2 * margin, 0.0, nWaves + 1L))
          .toDF("key", "ms", "value", "wave"))
      WaveHarness.withRocksDb(spark) {
        driveFamily(spark, dir, "quota", seed, cfg, frame,
          "key LONG, ms LONG, value DOUBLE", nWaves, stateParts = 4) { src =>
          graft.streaming.TwsQuotaJob.quota(
            src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
              col("value")).as[graft.streaming.KeyedEvent],
            bucket, cap, s"$delay milliseconds").toDF()
        }
      }
        .filter(col("key") >= 0L)
        .select(col("key").as("user_id"), col("hour_ms"),
          col("n_events"), col("n_admitted"), col("n_throttled"))
        .orderBy(col("user_id"), col("hour_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id")},
        |e AS (SELECT user_id, ms, ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |kept AS (
        |  SELECT e.user_id, e.ms FROM e JOIN l USING (wave)
        |  WHERE e.ms > l.lwm)
        |SELECT user_id, (ms // $bucket) * $bucket AS hour_ms,
        |       COUNT(*) AS n_events,
        |       LEAST(COUNT(*), $cap) AS n_admitted,
        |       COUNT(*) - LEAST(COUNT(*), $cap) AS n_throttled
        |FROM kept GROUP BY user_id, hour_ms
        |ORDER BY user_id, hour_ms""".stripMargin
    SGen(seed, build, sql)
  }

  private[graft] case class SessionP(nWaves: Int, mode: String,
      delay: Long, gap: Long)

  private[graft] def sessionP(seed: Long): SessionP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    SessionP(nWaves, mode, delay,
      Seq(3600000L, 4L * 3600000L, 12L * 3600000L)(rnd.nextInt(3)))
  }

  /** Family C — native `session_window` aggregation (the merging
    * SessionWindowStateStore — a third state machine: per-row sessions
    * merged across batches) under random arrival. Pinned semantics
    * (WmProbeSpec): a row is dropped iff its pre-merge session end
    * `ms + gap <= L` (end-based, inclusive); rows exactly `gap` apart
    * MERGE (inclusive boundary), `gap + 1` splits; a session is EMITTED
    * at the first batch whose eviction watermark E(k) reaches its
    * merged end (inclusive).
    *
    * Unlike families A/B, the finalized output is NOT a pure function
    * of the kept rows: the kept filter is `ms + gap > L`, so a kept row
    * can land BELOW an already-emitted session's end (`ms in
    * (L - gap, e]`) and re-open an OVERLAPPING new session — the real
    * drive produces overlapping per-key session rows (observed on the
    * fixture). The oracle therefore REPLAYS the batch sequence: one
    * generated stage per wave, each re-sessionizing the still-open rows
    * (window functions partitioned by (key, open)), then marking
    * components whose end <= E(k) as emitted at stage k — empty waves
    * produce no batch, so their stage carries a has-batch guard and
    * passes through. Stage count = nWaves + 2 <= 8; the unroll is
    * generated, never hand-maintained.
    */
  private def genSession(seed: Long, cfg: DriveCfg): SGen = {
    val p = sessionP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val gap = p.gap
    val margin = delay + 3 * gap + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"),
          coalesce(col("value"), lit(0.0)).as("value")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, 0.0, nWaves.toLong),
          (-2L, hi + 2 * margin, 0.0, nWaves + 1L))
          .toDF("key", "ms", "value", "wave"))
      driveFamily(spark, dir, "sess", seed, cfg, frame,
        "key LONG, ms LONG, value DOUBLE", nWaves) { src =>
        src.select(col("key"), timestamp_millis(col("ms")).as("t"),
            col("value"))
          .withWatermark("t", s"$delay milliseconds")
          .groupBy(session_window(col("t"), s"$gap milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
              .as("sum_value"))
          .select(col("key").as("user_id"),
            unix_millis(col("session_window.start")).as("start_ms"),
            unix_millis(col("session_window.end")).as("end_ms"),
            col("n_events"), col("sum_value"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("start_ms"))
    }

    // one generated replay stage per wave: stage k re-sessionizes the
    // open rows and emits components whose end <= E(k) (the eviction
    // watermark of batch k = running max event ms over batches < k,
    // minus delay), guarded on the wave actually having rows (no batch
    // => no eviction). The (user_id, open) window partition keeps
    // closed/unarrived rows inert without a filtered window.
    def stage(k: Long, prev: String): String = {
      val ek = s"(SELECT COALESCE(GREATEST(MAX(mx) - $delay, 0), 0)" +
        s" FROM b WHERE wave < $k)"
      val hasBatch = s"(SELECT COUNT(*) FROM b WHERE wave = $k) > 0"
      s"""s$k AS (
        |  SELECT user_id, ms, value, wave,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN $k ELSE est END AS est,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN sid ELSE esid END AS esid
        |  FROM (
        |    SELECT *, MAX(ms) OVER (PARTITION BY user_id, open, sid)
        |              + $gap AS comp_end
        |    FROM (
        |      SELECT *, SUM(ns) OVER (PARTITION BY user_id, open ORDER BY ms
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM (
        |        SELECT *, CASE WHEN NOT open THEN NULL
        |          WHEN lag(ms) OVER (PARTITION BY user_id, open ORDER BY ms)
        |            IS NULL THEN 1
        |          WHEN ms - lag(ms) OVER (PARTITION BY user_id, open
        |            ORDER BY ms) > $gap THEN 1 ELSE 0 END AS ns
        |        FROM (SELECT user_id, ms, value, wave, est, esid,
        |                (est IS NULL AND wave <= $k) AS open
        |              FROM $prev)))))""".stripMargin
    }
    val nStages = nWaves + 2
    val stages = (0L until nStages)
      .map(k => stage(k, if (k == 0) "s_init" else s"s${k - 1}"))
      .mkString(",\n")
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, value")},
        |e AS (SELECT user_id, ms, value, ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |b0 AS (SELECT wave, MAX(ms) AS mx FROM e GROUP BY wave),
        |hb AS (SELECT MAX(ms) AS hi FROM e),
        |b AS (SELECT * FROM b0
        |      UNION ALL SELECT $nWaves, hi + $margin FROM hb
        |      UNION ALL SELECT ${nWaves + 1}, hi + 2 * $margin FROM hb),
        |l AS (SELECT wave,
        |        COALESCE(GREATEST(MAX(mx) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |          - $delay, 0), 0) AS lwm
        |      FROM b),
        |kept AS (
        |  SELECT e.user_id, e.ms, e.value, e.wave FROM e JOIN l USING (wave)
        |  WHERE e.ms + $gap > l.lwm),
        |s_init AS (
        |  SELECT user_id, ms, value, wave,
        |         CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS esid
        |  FROM kept),
        |$stages
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + $gap AS end_ms,
        |       COUNT(*) AS n_events,
        |       round(SUM(value) * (1.0 + 1e-12), 2) AS sum_value
        |FROM s${nStages - 1} GROUP BY user_id, est, esid
        |ORDER BY user_id, start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family C drive: the same staged replay
    * as the DuckDB oracle, looped over the wave sequence. The per-batch
    * max-event-time table (|waves| rows — watermarks are driven by ALL
    * arriving rows, late ones included, because event-time stats are
    * collected upstream of the late filter) is collected driver-side to
    * produce the per-stage eviction scalars — harness bookkeeping, not
    * a data collect.
    */
  def sessionTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = sessionP(seed)
      val margin = p.delay + 3 * p.gap + 10000000L
      val base = keptBase(spark, dir, p.mode, seed, p.nWaves, p.delay,
        keyed = true)
      val realMx: Map[Long, Long] = base.groupBy(col("wave"))
        .agg(max(col("ms")).as("mx")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hi = realMx.values.max
      val mxByWave = realMx +
        (p.nWaves.toLong -> (hi + margin)) +
        ((p.nWaves + 1).toLong -> (hi + 2 * margin))
      def ewm(k: Long): Long = {
        val prior = mxByWave.filter(_._1 < k).values
        if (prior.isEmpty) 0L else math.max(0L, prior.max - p.delay)
      }
      var df = base.filter(col("ms") + p.gap > col("lwm"))
        .select(col("key"), col("ms"), col("value"), col("wave"))
        .withColumn("est", lit(null).cast("long"))
        .withColumn("esid", lit(null).cast("long"))
      (0L until (p.nWaves + 2L)).foreach { k =>
        val hasBatch = mxByWave.contains(k)
        val wOpen = Window.partitionBy(col("key"), col("open"))
          .orderBy(col("ms"))
        val wCum = wOpen.rowsBetween(Window.unboundedPreceding, 0)
        val wComp = Window.partitionBy(col("key"), col("open"), col("sid"))
        df = df
          .withColumn("open", col("est").isNull && col("wave") <= k)
          .withColumn("ns", when(!col("open"), lit(null))
            .when(lag(col("ms"), 1).over(wOpen).isNull, 1)
            .when(col("ms") - lag(col("ms"), 1).over(wOpen) > p.gap, 1)
            .otherwise(0))
          .withColumn("sid", sum(col("ns")).over(wCum))
          .withColumn("comp_end", max(col("ms")).over(wComp) + p.gap)
          .withColumn("emit",
            col("open") && lit(hasBatch) && col("comp_end") <= ewm(k))
          .withColumn("est", when(col("emit"), k).otherwise(col("est")))
          .withColumn("esid", when(col("emit"), col("sid"))
            .otherwise(col("esid")))
          .drop("open", "ns", "sid", "comp_end", "emit")
      }
      df.groupBy(col("key"), col("est"), col("esid"))
        .agg(min(col("ms")).as("start_ms"),
          (max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
            .as("sum_value"))
        .select(col("key").as("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_ms"))
    }

  /** The kept-rows frame shared by both IN-SPARK batch twins: the
    * carved events plus each row's lagged late-filter watermark `lwm`.
    * The watermark table is |waves| rows, so its single-partition
    * ordering window is trivial and the join back is a broadcast.
    */
  private def keptBase(spark: SparkSession, dir: String, mode: String,
      seed: Long, nWaves: Int, delay: Long,
      keyed: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = carve(spark, dir, seed, mode, nWaves) { ev0 =>
      if (keyed)
        ev0.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"),
          coalesce(col("value"), lit(0.0)).as("value"))
      else
        ev0.select(col("event_id"), col("event_type"),
          expr("us div 1000").as("ms"), col("value"))
    }.rows.drop("event_id")
    val wPrev2 = Window.orderBy(col("wave"))
      .rowsBetween(Window.unboundedPreceding, -2)
    val l = e.groupBy(col("wave")).agg(max(col("ms")).as("mx"))
      .select(col("wave"),
        coalesce(greatest(max(col("mx")).over(wPrev2) - lit(delay),
          lit(0L)), lit(0L)).as("lwm"))
    e.join(broadcast(l), Seq("wave"))
  }

  /** IN-SPARK batch twin of the Family A drive — the oracle SQL's
    * semantics replayed with DataFrame ops, so StreamFuzzSpec can sweep
    * seeds differentially without DuckDB: streaming machinery vs batch
    * plan, same engine, byte-equal expected.
    */
  def aggTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val p = aggP(seed)
      val base = keptBase(spark, dir, p.mode, seed, p.nWaves, p.delay,
        keyed = false)
      base
        .withColumn("ws", explode(array((0 until p.m).map(k =>
          expr(s"(ms div ${p.slide}) * ${p.slide} - ${k * p.slide}")): _*)))
        .filter(col("ws") + p.width > col("lwm"))
        .groupBy(col("ws"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
            .as("sum_value"))
        .select(col("ws").as("window_start_ms"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }

  /** IN-SPARK batch twin of the Family B drive. */
  def quotaTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val p = quotaP(seed)
      val base = keptBase(spark, dir, p.mode, seed, p.nWaves, p.delay,
        keyed = true)
      base
        .filter(col("ms") > col("lwm"))
        .groupBy(col("key").as("user_id"),
          (expr(s"ms div ${p.bucket}") * p.bucket).as("hour_ms"))
        .agg(count(lit(1)).as("n_events"),
          least(count(lit(1)), lit(p.cap)).as("n_admitted"),
          (count(lit(1)) - least(count(lit(1)), lit(p.cap)))
            .as("n_throttled"))
        .orderBy(col("user_id"), col("hour_ms"))
    }

  private[graft] case class JoinP(nWaves: Int, mode: String, delay: Long,
      window: Long, joinType: String)

  private[graft] def joinP(seed: Long): JoinP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    JoinP(nWaves, mode, delay,
      Seq(600000L, 3600000L, 21600000L)(rnd.nextInt(3)),
      if (rnd.nextBoolean()) "inner" else "left_outer")
  }

  /** Family D — stream-stream interval join (StreamingSymmetricHashJoin,
    * a fourth state machine: two watermarked sides, condition-derived
    * state eviction) under random arrival. The carved frame keeps only
    * view/click events; the drive splits it into two watermarked sides
    * and interval-joins clicks to views within `window`.
    *
    * Pinned semantics (WmProbeSpec): each side drops late input on its
    * OWN event time, inclusive (`ts <= L`), with the lagged watermark —
    * NOT on a condition-extended horizon — and the query's watermark is
    * the MIN across both sides' watermark operators. Purity: a pair
    * (v, c) can never be lost to eviction — a view evicted at batch K
    * requires `v.ts + window < E(K)`, so any later kept click has
    * `c.ts > L(M) >= E(K) > v.ts + window`, outside the interval (and
    * symmetrically for clicks) — so inner output = kept_v JOIN kept_c,
    * and the outer's null-extension is the same join's unmatched side
    * (an unmatched view emits exactly once, at eviction; the matching
    * click that would contradict it is impossible by the same bound).
    */
  private def genJoin(seed: Long, cfg: DriveCfg): SGen =
    genJoinWith(joinP(seed), seed, cfg)

  /** Family G — the two stream-stream join types family D leaves out,
    * FULL OUTER and LEFT SEMI, on the same interval-join geometry and
    * oracle machinery (genJoinWith is shared; only the join clause and
    * the output projection differ). Purity extends family D's argument
    * symmetrically: an unmatched CLICK null-extends exactly once at
    * click-state eviction (a later kept view that would match it is
    * impossible — eviction needs the view-side watermark past the
    * click's match horizon, so any later kept view lies outside the
    * interval), and a SEMI view emits exactly once iff some kept click
    * matches (the match is never lost to eviction, so the emitted set
    * is the EXISTS filter over kept rows). Seed parity picks the type —
    * even = full_outer, odd = left_semi — so every seed block exercises
    * both.
    */
  private def genJoinExt(seed: Long, cfg: DriveCfg): SGen =
    genJoinWith(joinPExt(seed), seed, cfg)

  private[graft] def joinPExt(seed: Long): JoinP =
    joinP(seed).copy(joinType =
      if (seed % 2 == 0) "full_outer" else "left_semi")

  /** The WITH-prefix shared by the join-shaped oracles (families D, G,
    * H): carve view/click rows into waves, replay the two-sided lagged
    * watermark — L is the MIN of the two sides' running maxes (each
    * over ITS rows in batches <= k-2); a side with no rows yet pins L
    * to the initial 0 — and close with the `kept` rows CTE. The jitter
    * bounds are over the view/click SUBSET — the Scala side computes
    * lo/hi after the event-type filter, and one boundary row on the
    * full-table bounds flips wave (caught by seed 13501's first DuckDB
    * run).
    */
  private def joinKeptCtes(mode: String, seed: Long, nWaves: Int,
      delay: Long): String = {
    s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click')")},
      |e AS (SELECT user_id, event_type, ms,
      |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
      |bw AS (SELECT wave,
      |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
      |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc
      |       FROM e GROUP BY wave),
      |l AS (SELECT wave,
      |        CASE WHEN MAX(mv) OVER lag2 IS NULL
      |               OR MAX(mc) OVER lag2 IS NULL THEN 0
      |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2,
      |               MAX(mc) OVER lag2) - $delay, 0) END AS lwm
      |      FROM bw
      |      WINDOW lag2 AS (ORDER BY wave
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
      |kept AS (
      |  SELECT e.user_id, e.event_type, e.ms, e.wave
      |  FROM e JOIN l USING (wave) WHERE e.ms > l.lwm)""".stripMargin
  }

  private def genJoinWith(p: JoinP, seed: Long, cfg: DriveCfg): SGen = {
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val window = p.window
    val margin = delay + 3 * window + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "join", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(col("ms")).as("view_ts"))
          .withWatermark("view_ts", s"$delay milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        val joined = views.join(clicks,
          expr(s"vuser = cuser AND click_ts >= view_ts AND " +
            s"click_ts <= view_ts + interval $window millisecond"),
          p.joinType)
        p.joinType match {
          case "left_semi" =>
            joined.select(col("vuser").as("user_id"),
              unix_millis(col("view_ts")).as("view_ms"))
          case "full_outer" =>
            joined.select(coalesce(col("vuser"), col("cuser"))
                .as("user_id"),
              unix_millis(col("view_ts")).as("view_ms"),
              unix_millis(col("click_ts")).as("click_ms"))
          case _ =>
            joined.select(col("vuser").as("user_id"),
              unix_millis(col("view_ts")).as("view_ms"),
              unix_millis(col("click_ts")).as("click_ms"))
        }
      }
        .filter(col("user_id") >= 0L)
        .orderBy(
          (if (p.joinType == "left_semi") Seq("user_id", "view_ms")
           else Seq("user_id", "view_ms", "click_ms")).map(col): _*)
    }

    val sql =
      s"""${joinKeptCtes(mode, seed, nWaves, delay)}
        |${p.joinType match {
            case "left_semi" =>
              s"""SELECT v.user_id AS user_id, v.ms AS view_ms
                 |FROM (SELECT user_id, ms FROM kept
                 |      WHERE event_type = 'view') v
                 |WHERE EXISTS (SELECT 1 FROM kept c
                 |  WHERE c.event_type = 'click' AND c.user_id = v.user_id
                 |    AND c.ms >= v.ms AND c.ms <= v.ms + $window)
                 |ORDER BY user_id, view_ms""".stripMargin
            case "full_outer" =>
              s"""SELECT COALESCE(v.user_id, c.user_id) AS user_id,
                 |       v.ms AS view_ms, c.ms AS click_ms
                 |FROM (SELECT user_id, ms FROM kept
                 |      WHERE event_type = 'view') v
                 |FULL JOIN (SELECT user_id, ms FROM kept
                 |      WHERE event_type = 'click') c
                 |  ON v.user_id = c.user_id AND c.ms >= v.ms
                 |     AND c.ms <= v.ms + $window
                 |ORDER BY user_id, view_ms, click_ms""".stripMargin
            case t =>
              s"""SELECT v.user_id AS user_id, v.ms AS view_ms, c.ms AS click_ms
                 |FROM (SELECT user_id, ms FROM kept WHERE event_type = 'view') v
                 |${if (t == "inner") "JOIN" else "LEFT JOIN"}
                 |  (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
                 |  ON v.user_id = c.user_id AND c.ms >= v.ms
                 |     AND c.ms <= v.ms + $window
                 |ORDER BY v.user_id, view_ms, click_ms""".stripMargin
          }}""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family D drive. */
  def joinTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinTwinWith(joinP(seed), seed)

  /** IN-SPARK batch twin of the Family G drive. */
  def joinExtTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinTwinWith(joinPExt(seed), seed)

  private def joinTwinWith(p: JoinP, seed: Long)
      : (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
      val v = kept.filter(col("event_type") === "view")
        .select(col("user_id"), col("ms").as("view_ms"))
      val c = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ms").as("click_ms"))
      val joined = v.join(c, col("user_id") === col("cuser") &&
          col("click_ms") >= col("view_ms") &&
          col("click_ms") <= col("view_ms") + p.window,
        p.joinType)
      (p.joinType match {
        case "left_semi" =>
          joined.select(col("user_id"), col("view_ms"))
        case "full_outer" =>
          joined.select(coalesce(col("user_id"), col("cuser"))
            .as("user_id"), col("view_ms"), col("click_ms"))
        case _ =>
          joined.select(col("user_id"), col("view_ms"), col("click_ms"))
      }).orderBy(
        (if (p.joinType == "left_semi") Seq("user_id", "view_ms")
         else Seq("user_id", "view_ms", "click_ms")).map(col): _*)
    }

  private[graft] case class ChainP(nWaves: Int, mode: String, delay: Long,
      joinW: Long, aggW: Long)

  private[graft] def chainP(seed: Long): ChainP = {
    val j = joinP(seed)
    // independent draw for the rollup width (joinP consumed its RNG)
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    ChainP(j.nWaves, j.mode, j.delay, j.window,
      Seq(3600000L, 21600000L, 86400000L)(rnd.nextInt(3)))
  }

  /** Family H — CHAINED stateful operators (an 8th state-machine
    * surface): the family-D inner interval join FEEDING a tumbling
    * windowed aggregation inside ONE streaming query, so correctness
    * requires the watermark to propagate THROUGH the join (Spark 4
    * multi-stateful support). Random arrival makes this strictly harder
    * than the ascending hand drive (`events_attribution_rollup`): the
    * join sides drop late input while the downstream agg evicts on the
    * join's simulated output watermark.
    *
    * Oracle purity, on top of family D's kept-pairs argument (inner
    * output = kept_v JOIN kept_c, no pair lost to eviction or emitted
    * twice):
    *
    *  - the agg's watermark is the join's PROPAGATED output watermark
    *    `wm_out = E - joinW` (view state evicts at `v.ts < E - joinW`,
    *    click state at `c.ts < E`; the propagated value is the min);
    *  - NO pair is dropped by the agg's late filter into a window that
    *    has not emitted: every pair the join emits at batch M carries
    *    `c.ts > E(M-1)` (a kept click, or a stored click that survived
    *    batch M-1 eviction), while the agg's lagged late filter is
    *    `wm_out(M-1) <= E(M-1)` — and a (pair, window) is dropped iff
    *    `W.end <= wm_out(M-1)`, which needs `W.end <= E(M-1) < c.ts`,
    *    impossible for the window CONTAINING c.ts; such a drop can only
    *    hit windows already evicted (eviction at batch M-1 used the
    *    same `wm_out(M-1)`), so emitted windows are never re-fed;
    *  - a window evicted at batch N (`wm_out(N) >= W.end`) never sees a
    *    later pair at all: `c.ts > E(M-1) >= E(N) = wm_out(N) + joinW
    *    >= W.end + joinW > W.end` puts the click outside W.
    *
    * The finalized output is therefore the PURE tumbling rollup of the
    * kept pairs — the oracle closes family D's kept CTE under one
    * GROUP BY. Sentinel pairs ride through BOTH stateful operators and
    * are dropped on the sink table (family D's convention) — an
    * in-query sentinel filter is NOT safe: Catalyst pushes it below the
    * EventTimeWatermark nodes, the scan eliminates the sentinel rows,
    * and the watermark freezes with every real window stuck in state.
    * `sum_lag_ms` sums exact BIGINT click-view gaps — no float
    * tolerance in the differential compare.
    */
  private def genChain(seed: Long, cfg: DriveCfg): SGen = {
    val p = chainP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val joinW = p.joinW; val aggW = p.aggW
    val margin = delay + 3 * joinW + 3 * aggW + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "chain", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(col("ms")).as("view_ts"))
          .withWatermark("view_ts", s"$delay milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        // sentinel pairs ride THROUGH both stateful operators and are
        // dropped on the sink table below — an in-query filter here
        // (`vuser >= 0`) gets predicate-pushed below the
        // EventTimeWatermark nodes (and inferred onto the click side via
        // the equi-join key), eliminating the sentinel rows AT THE SCAN:
        // the watermark then never advances and no window ever flushes
        // (empirically bitten — every sentinel batch read `in=0`)
        views.join(clicks,
          expr(s"vuser = cuser AND click_ts >= view_ts AND " +
            s"click_ts <= view_ts + interval $joinW millisecond"), "inner")
          .groupBy(col("vuser"), org.apache.spark.sql.functions
            .window(col("click_ts"), s"$aggW milliseconds"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(unix_millis(col("click_ts")) - unix_millis(col("view_ts")))
              .as("sum_lag_ms"))
          .select(col("vuser").as("user_id"),
            unix_millis(col("window.start")).as("window_start_ms"),
            col("n_pairs"), col("sum_lag_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("window_start_ms"))
    }

    val sql =
      s"""${joinKeptCtes(mode, seed, nWaves, delay)},
        |pairs AS (
        |  SELECT v.user_id, v.ms AS view_ms, c.ms AS click_ms
        |  FROM (SELECT user_id, ms FROM kept WHERE event_type = 'view') v
        |  JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |    ON v.user_id = c.user_id AND c.ms >= v.ms
        |       AND c.ms <= v.ms + $joinW)
        |SELECT user_id, (click_ms // $aggW) * $aggW AS window_start_ms,
        |       COUNT(*) AS n_pairs,
        |       CAST(SUM(click_ms - view_ms) AS BIGINT) AS sum_lag_ms
        |FROM pairs GROUP BY user_id, window_start_ms
        |ORDER BY user_id, window_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family H drive: the family-D inner twin
    * supplies the kept pairs, closed under the same tumbling rollup.
    */
  def chainTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val p = chainP(seed)
      joinTwinWith(JoinP(p.nWaves, p.mode, p.delay, p.joinW, "inner"),
          seed)(spark, dir)
        .groupBy(col("user_id"),
          expr(s"(click_ms div ${p.aggW}) * ${p.aggW}")
            .as("window_start_ms"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("click_ms") - col("view_ms")).as("sum_lag_ms"))
        .select(col("user_id"), col("window_start_ms"),
          col("n_pairs"), col("sum_lag_ms"))
        .orderBy(col("user_id"), col("window_start_ms"))
    }

  private[graft] case class DedupP(nWaves: Int, mode: String, delay: Long,
      bucket: Long)

  private[graft] def dedupP(seed: Long): DedupP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    DedupP(nWaves, mode, delay,
      Seq(3600000L, 21600000L, 86400000L)(rnd.nextInt(3)))
  }

  /** Family E — streaming deduplication (StreamingDeduplicateExec, a
    * fifth state machine: one state row per distinct key, evicted by the
    * event-time column in the dedup key) under random arrival. The drive
    * floors each row's time to a bucket and dedups on (key, bucket);
    * output is the distinct (key, bucket) set with only key columns
    * projected, so within-batch "first row wins" nondeterminism cannot
    * surface.
    *
    * Pinned semantics (WmProbeSpec dedup probe): late filter lags one
    * batch, is row-based and INCLUSIVE (`bt <= L` dropped — on the
    * BUCKET time, the watermarked column). Purity: re-emission after
    * state eviction is impossible — eviction of (k, bt) at batch N needs
    * `bt <= E(N)`, and a later retry kept at batch M > N needs
    * `bt > L(M) = E(M-1) >= E(N)`, a contradiction — so the finalized
    * output is exactly DISTINCT over the kept rows, one batch aggregate
    * in the oracle (floor is monotone, so per-wave max bucket = floored
    * per-wave max and the lagged-watermark CTEs apply to `bt` verbatim).
    */
  private def genDedup(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms")))
      val margin = delay + 3 * bucket + 10000000L
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, nWaves.toLong),
          (-2L, hi + 2 * margin, nWaves + 1L))
          .toDF("key", "ms", "wave"))
      driveFamily(spark, dir, "dedup", seed, cfg, frame,
        "key LONG, ms LONG", nWaves) { src =>
        src.select(col("key"),
            timestamp_millis(expr(s"(ms div ${bucket}L) * ${bucket}L"))
              .as("bt"))
          .withWatermark("bt", s"$delay milliseconds")
          .dropDuplicates("key", "bt")
          .select(col("key").as("user_id"),
            unix_millis(col("bt")).as("bucket_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("bucket_ms"))
    }

    // `e` exposes the BUCKET time as `ms`, so the shared lagged-watermark
    // CTEs apply unchanged; kept = strict > (inclusive drop), output =
    // plain DISTINCT (purity per the Scaladoc argument)
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id")},
        |e AS (SELECT user_id, (ms // $bucket) * $bucket AS ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |kept AS (
        |  SELECT e.user_id, e.ms FROM e JOIN l USING (wave)
        |  WHERE e.ms > l.lwm)
        |SELECT DISTINCT user_id, ms AS bucket_ms FROM kept
        |ORDER BY user_id, bucket_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family E drive. */
  def dedupTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = dedupP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"))).rows
        .drop("event_id")
        .withColumn("bt", expr(s"(ms div ${p.bucket}L) * ${p.bucket}L"))
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("bt")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - lit(p.delay),
            lit(0L)), lit(0L)).as("lwm"))
      e.join(broadcast(l), Seq("wave"))
        .filter(col("bt") > col("lwm"))
        .select(col("key").as("user_id"), col("bt").as("bucket_ms"))
        .distinct()
        .orderBy(col("user_id"), col("bucket_ms"))
    }

  private[graft] case class DedupWmP(nWaves: Int, mode: String, w0: Long,
      delay: Long)

  private[graft] def dedupWmP(seed: Long): DedupWmP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 4 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val w0 = Seq(3600000L, 21600000L)(rnd.nextInt(2))
    // 2*delay in {w0/2, 1.5*w0, 3*w0}: re-emission needs an appearance
    // gap g with (g-2)*w0 + (jmax - j_key) >= 2*delay, so each tier
    // re-emits at a different gap and the largest tier's boundary case
    // (j_key == that wave's max jitter, Δ == 0) lands exactly on the
    // INCLUSIVE eviction bound the probe pinned
    DedupWmP(nWaves, mode, w0, w0 * Seq(1L, 3L, 6L)(rnd.nextInt(3)) / 4)
  }

  /** Per-(key,wave) deterministic jitter within [0, w0/2): the synthetic
    * timeline's sub-wave offset, hashed from the KEY so every row of one
    * (key, wave) pair carries the identical event time — within-batch
    * "first row wins" cannot surface, and the stored TTL expiry is a
    * pure function of (key, first-kept wave).
    */
  private def keyJitterCol(seed: Long, jR: Long): org.apache.spark.sql.Column =
    expr(s"conv(substring(md5(concat(cast(key as string), '_t$seed')), 1," +
      s" 15), 16, 10)").cast("long") % jR

  private def keyJitterSql(seed: Long, jR: Long): String =
    s"CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_t$seed')," +
      s" 1, 15) AS BIGINT) % $jR"

  /** Keep a (key, wave) appearance iff its pair-hash survives — thins
    * ~1/3 of appearances so per-key wave sequences have GAPS (dense
    * shuffle carving would otherwise put every key in every wave and the
    * re-emission path would starve).
    */
  private def presenceCol(seed: Long): org.apache.spark.sql.Column =
    expr(s"conv(substring(md5(concat(cast(key as string), '_p'," +
      s" cast(wave as string), '_f$seed')), 1, 15), 16, 10)")
      .cast("long") % 3 =!= 0

  private def presenceSql(seed: Long): String =
    s"CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_p' ||" +
      s" CAST(wave AS VARCHAR) || '_f$seed'), 1, 15) AS BIGINT) % 3 <> 0"

  /** Family F — streaming TTL deduplication
    * (StreamingDeduplicateWithinWatermarkExec, a sixth state machine:
    * expiry = first-seen event time + delay, never refreshed by
    * duplicates, INCLUSIVE eviction sweep after each batch) under random
    * arrival. The drive rebuilds each row's event time on a synthetic
    * per-wave timeline t = (wave+1)*w0 + jitter(key), monotone across
    * waves, so no row is ever late (t - L(w) >= 2*w0 - w0/2 + delay > 0
    * and t >= w0 > 0 clears the initial-watermark drop) and the oracle
    * reduces to the probe-pinned re-emission rule alone: a retry in
    * batch w re-emits iff L(w) >= expiry of its key's last emission
    * (eviction in batch n removes expiry <= E(n), and E(w-1) = L(w) —
    * WmProbeSpec's dropDuplicatesWithinWatermark probe). The per-key
    * emission CHAIN (each emission restarts the TTL) is a sequential
    * fold over that key's appearances — a recursive CTE in DuckDB, an
    * `aggregate` higher-order fold in the batch twin.
    */
  private def genDedupWm(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupWmP(seed)
    val nWaves = p.nWaves; val jR = p.w0 / 2

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, p.mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms")))
      val margin = 3 * p.delay + 10000000L
      val frame = ev.drop("event_id")
        .filter(presenceCol(seed))
        .withColumn("ms",
          (col("wave") + 1) * p.w0 + keyJitterCol(seed, jR))
        .unionByName(Seq(
          (-1L, (nWaves + 1L) * p.w0 + margin, nWaves.toLong),
          (-2L, (nWaves + 1L) * p.w0 + 2 * margin, nWaves + 1L))
          .toDF("key", "ms", "wave"))
      driveFamily(spark, dir, "dwm", seed, cfg, frame,
        "key LONG, ms LONG", nWaves) { src =>
        src.select(col("key"), timestamp_millis(col("ms")).as("t"))
          .withWatermark("t", s"${p.delay} milliseconds")
          .dropDuplicatesWithinWatermark("key")
          .select(col("key").as("user_id"), unix_millis(col("t"))
            .as("emit_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("emit_ms"))
    }

    // `e` exposes the synthetic per-(key,wave) time as `ms`, so the
    // shared lagged-watermark CTEs apply unchanged; the recursive `em`
    // CTE walks each key's appearances in wave order carrying the live
    // expiry (emission: lwm >= expiry, probe-pinned inclusive; the
    // anchor always emits — no prior state, expiry seeded at -1)
    val sql =
      s"""WITH RECURSIVE ${rawCtes(p.mode, nWaves, "user_id")},
        |c AS (SELECT user_id, ${waveSql(p.mode, seed, nWaves)} AS wave
        |      FROM raw),
        |e AS (SELECT DISTINCT user_id AS key,
        |        (wave + 1) * ${p.w0} + ${keyJitterSql(seed, jR)} AS ms, wave
        |      FROM c WHERE ${presenceSql(seed)}),
        |${lateWmCtes(p.delay)},
        |a AS (SELECT e.key, e.wave, e.ms, l.lwm,
        |        ROW_NUMBER() OVER (PARTITION BY e.key ORDER BY e.wave)
        |          AS idx
        |      FROM e JOIN l USING (wave)),
        |em AS (
        |  SELECT key, idx, ms, TRUE AS emitted,
        |         ms + ${p.delay} AS expiry
        |  FROM a WHERE idx = 1
        |  UNION ALL
        |  SELECT a.key, a.idx, a.ms, a.lwm >= em.expiry,
        |         CASE WHEN a.lwm >= em.expiry THEN a.ms + ${p.delay}
        |              ELSE em.expiry END
        |  FROM em JOIN a ON a.key = em.key AND a.idx = em.idx + 1)
        |SELECT key AS user_id, ms AS emit_ms FROM em WHERE emitted
        |ORDER BY user_id, emit_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family F drive: the same per-key chain
    * as the recursive oracle CTE, folded with the `aggregate`
    * higher-order function over each key's wave-sorted appearances.
    */
  def dedupWmTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = dedupWmP(seed); val jR = p.w0 / 2
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"))).rows
        .filter(presenceCol(seed))
        .select(col("key"), col("wave"),
          ((col("wave") + 1) * p.w0 + keyJitterCol(seed, jR)).as("t"))
        .distinct()
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("t")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - lit(p.delay),
            lit(0L)), lit(0L)).as("lwm"))
      e.join(broadcast(l), Seq("wave"))
        .groupBy(col("key"))
        .agg(sort_array(collect_list(
          struct(col("wave"), col("t"), col("lwm")))).as("apps"))
        .select(col("key").as("user_id"), explode(expr(
          s"""aggregate(apps,
             |  named_struct('expiry', CAST(-1 AS BIGINT),
             |    'emits', CAST(array() AS ARRAY<BIGINT>)),
             |  (acc, x) -> IF(x.lwm >= acc.expiry,
             |    named_struct('expiry', x.t + ${p.delay}L,
             |      'emits', concat(acc.emits, array(x.t))),
             |    acc),
             |  acc -> acc.emits)""".stripMargin)).as("emit_ms"))
        .orderBy(col("user_id"), col("emit_ms"))
    }

  private[graft] case class UnionP(nWaves: Int, mode: String,
      delayV: Long, delayC: Long, width: Long)

  private[graft] def unionP(seed: Long): UnionP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val menu = if (mode == "shuffle") ShuffleDelaysMs else JitterDelaysMs
    UnionP(nWaves, mode, menu(rnd.nextInt(3)), menu(rnd.nextInt(3)),
      Seq(3600000L, 21600000L, 86400000L)(rnd.nextInt(3)))
  }

  /** Family I — UNION of two independently-watermarked branches feeding
    * one tumbling windowed aggregation, with DIFFERENT per-branch
    * delays. New surface vs families A (one watermark node) and D (two
    * nodes, equal delays, at a join): the global watermark under
    * `multipleWatermarkPolicy=min` is the MIN of the per-NODE values
    * `max(0, runmax_side - delay_side)` — the min is taken AFTER each
    * node subtracts its own delay, so the slower-delayed branch gates
    * eviction for both. The oracle's lagged filter is
    * `L(k) = max(0, min(runmax_v(k-2) - delayV, runmax_c(k-2) - delayC))`
    * (`max(0, min(a-dv, b-dc)) = min(max(0, a-dv), max(0, b-dc))`, so
    * clamp placement is immaterial; a side with no rows yet pins L to
    * the initial 0 exactly as family D's NULL branch).
    *
    * Emission purity is family A's argument verbatim (append windowed
    * agg, window-end-based drops with the single global lagged
    * watermark): the finalized output is the pure rollup of (row,
    * window) pairs with `window_end > L(wave)`.
    */
  private def genUnion(seed: Long, cfg: DriveCfg): SGen = {
    val p = unionP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val width = p.width
    val margin = p.delayV + p.delayC + 3 * width + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "union", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("event_type"), timestamp_millis(col("ms")).as("t"),
            col("user_id"))
          .withWatermark("t", s"${p.delayV} milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("event_type"), timestamp_millis(col("ms")).as("t"),
            col("user_id"))
          .withWatermark("t", s"${p.delayC} milliseconds")
        // no in-query sentinel filter: it would be predicate-pushed
        // below the EventTimeWatermark nodes and freeze the watermark
        // (see genChain); sentinels must carry real event_types to pass
        // the branch split, so they are separated by TIME instead —
        // their far-future windows are dropped on the sink table below
        views.unionByName(clicks)
          .groupBy(org.apache.spark.sql.functions
            .window(col("t"), s"$width milliseconds"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("event_type"), col("n"), col("sum_uid"))
      }
        .filter(col("window_start_ms") <= hi)
        .orderBy(col("window_start_ms"), col("event_type"))
    }

    // family D's carve + per-side running maxes, with PER-SIDE delay
    // subtraction before the min (the multipleWatermarkPolicy=min value)
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click')")},
        |e AS (SELECT user_id, event_type, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
        |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2 - ${p.delayV},
        |               MAX(mc) OVER lag2 - ${p.delayC}), 0) END AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING))
        |SELECT (ms // $width) * $width AS window_start_ms, event_type,
        |       COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM e JOIN l USING (wave)
        |WHERE (ms // $width) * $width + $width > lwm
        |GROUP BY window_start_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family I drive. */
  def unionTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = unionP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2) - p.delayV,
                max(col("mc")).over(wPrev2) - p.delayC), lit(0L)))
            .as("lwm"))
      e.join(broadcast(l), Seq("wave"))
        .withColumn("window_start_ms",
          expr(s"(ms div ${p.width}) * ${p.width}"))
        .filter(col("window_start_ms") + p.width > col("lwm"))
        .groupBy(col("window_start_ms"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }

  private[graft] case class AggAggP(nWaves: Int, mode: String, delay: Long,
      w1: Long, k: Int) {
    def w2: Long = k * w1
  }

  private[graft] def aggAggP(seed: Long): AggAggP = {
    val rnd = new Random(seed * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    AggAggP(nWaves, mode, delay,
      Seq(900000L, 3600000L, 21600000L)(rnd.nextInt(3)),
      Seq(4, 6, 24)(rnd.nextInt(3)))
  }

  /** Family J — windowed aggregation OVER windowed aggregation: a fine
    * tumbling window (w1) rolled up into an aligned coarse window
    * (w2 = k * w1) inside ONE streaming query (the second chained-
    * stateful shape; family H chains join->agg). The first agg's
    * append-mode output — finalized fine windows — re-windows through
    * `window(window_time(window), w2)`.
    *
    * Purity, on top of family A's kept-rows rule at w1 granularity:
    *
    *  - ADMISSION: a fine window W1 emits at the first batch N with
    *    `E(N) >= W1.end`, so `L_agg2(N) <= E(N-1) < W1.end <= W2.end`
    *    (aligned containment) — the coarse agg's lagged late filter can
    *    never drop a fine row into a not-yet-emitted coarse window;
    *  - NO RE-FEED: W2 evicted at batch M needs `wm_out(M) >= W2.end`
    *    with `wm_out <= E`; any fine window W1' inside W2 has
    *    `W1'.end <= W2.end <= E(M)` and therefore emitted AT OR BEFORE
    *    batch M — a later-arriving fine row for an evicted coarse
    *    window cannot exist.
    *
    * The finalized output is the pure two-level rollup of the kept
    * (row, W1) pairs; the oracle is family A's kept filter closed under
    * one GROUP BY at w2 with `n` (kept rows) and `n_fine` (distinct
    * fine windows) both exact integers. Sentinels use family A's
    * distinct-etype convention and are dropped on the sink table (an
    * in-query filter would be pushed below EventTimeWatermark — see
    * genChain).
    */
  private def genAggAgg(seed: Long, cfg: DriveCfg): SGen = {
    val p = aggAggP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val w1 = p.w1; val w2 = p.w2
    val margin = delay + 3 * w2 + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("event_type"),
          expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          ("\u0000s1", hi + margin, nWaves.toLong),
          ("\u0000s2", hi + 2 * margin, nWaves + 1L))
          .toDF("event_type", "ms", "wave"))
      driveFamily(spark, dir, "aggagg", seed, cfg, frame,
        "event_type STRING, ms LONG", nWaves) { src =>
        src.select(col("event_type"), timestamp_millis(col("ms")).as("t"))
          .withWatermark("t", s"$delay milliseconds")
          .groupBy(org.apache.spark.sql.functions
            .window(col("t"), s"$w1 milliseconds"), col("event_type"))
          .agg(count(lit(1)).as("n1"))
          .groupBy(org.apache.spark.sql.functions.window(
            window_time(col("window")), s"$w2 milliseconds")
            .as("w2win"), col("event_type"))
          .agg(sum(col("n1")).cast("long").as("n"),
            count(lit(1)).as("n_fine"))
          .select(unix_millis(col("w2win.start")).as("window_start_ms"),
            col("event_type"), col("n"), col("n_fine"))
      }
        .filter(!col("event_type").startsWith("\u0000"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }

    // kept (row, W1) pairs per family A's rule (window-end-based drop
    // with the lagged watermark), re-grouped at w2: n counts kept rows,
    // n_fine counts the distinct fine windows inside each coarse one
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "event_type")},
        |e AS (SELECT event_type, ms, ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |p AS (
        |  SELECT e.event_type, (e.ms // $w1) * $w1 AS ws1
        |  FROM e JOIN l USING (wave)
        |  WHERE (e.ms // $w1) * $w1 + $w1 > l.lwm)
        |SELECT (ws1 // $w2) * $w2 AS window_start_ms, event_type,
        |       COUNT(*) AS n, COUNT(DISTINCT ws1) AS n_fine
        |FROM p GROUP BY window_start_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family J drive. */
  def aggAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = aggAggP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.select(col("event_id"), col("event_type"),
          expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("ms")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - p.delay,
            lit(0L)), lit(0L)).as("lwm"))
      e.join(broadcast(l), Seq("wave"))
        .withColumn("ws1", expr(s"(ms div ${p.w1}) * ${p.w1}"))
        .filter(col("ws1") + p.w1 > col("lwm"))
        .groupBy(expr(s"(ws1 div ${p.w2}) * ${p.w2}").as("window_start_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("ws1")).as("n_fine"))
        .select(col("window_start_ms"), col("event_type"),
          col("n"), col("n_fine"))
        .orderBy(col("window_start_ms"), col("event_type"))
    }

  private[graft] case class Chain3P(nWaves: Int, mode: String, delay: Long,
      joinW: Long, w1: Long, k: Int) {
    def w2: Long = k * w1
  }

  private[graft] def chain3P(seed: Long): Chain3P = {
    val j = joinP(seed)
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    Chain3P(j.nWaves, j.mode, j.delay, j.window,
      Seq(900000L, 3600000L)(rnd.nextInt(2)), Seq(4, 24)(rnd.nextInt(2)))
  }

  /** Family K — THREE chained stateful operators: the family-D inner
    * interval join feeding a fine tumbling window (w1) feeding an
    * aligned coarse rollup (w2 = k * w1), i.e. families H and J
    * composed in one query — the watermark propagates through TWO
    * stateful hops. Purity is the composition of both arguments with
    * the join's output watermark `E - joinW` taking E's role at the
    * downstream stages:
    *
    *  - stage 2 admits every kept pair into its fine window (H's
    *    argument verbatim) and emits W1 at the first batch N with
    *    `E(N) - joinW >= W1.end`;
    *  - stage 3's lagged late filter at that batch is
    *    `<= E(N-1) - joinW < W1.end <= W2.end` (containment), so fine
    *    rows only ever drop into coarse windows already evicted, and a
    *    coarse window evicted at M (`wm(M) >= W2.end`, `wm <= E - joinW`)
    *    can never see a later fine window (`W1'.end <= W2.end <=
    *    E(M) - joinW` forces emission at or before M).
    *
    * Oracle = family D's kept-pairs CTE closed under the two-level
    * GROUP BY (kept pairs per coarse window + distinct fine windows).
    * Sentinels ride through all three operators and are separated by
    * TIME on the sink table (the output has no user column; far-future
    * coarse windows start beyond the fixture max — see genUnion).
    */
  private def genChain3(seed: Long, cfg: DriveCfg): SGen = {
    val p = chain3P(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val joinW = p.joinW; val w1 = p.w1; val w2 = p.w2
    val margin = delay + 3 * joinW + 3 * w2 + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "chain3", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(col("ms")).as("view_ts"))
          .withWatermark("view_ts", s"$delay milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        views.join(clicks,
          expr(s"vuser = cuser AND click_ts >= view_ts AND " +
            s"click_ts <= view_ts + interval $joinW millisecond"), "inner")
          .groupBy(org.apache.spark.sql.functions
            .window(col("click_ts"), s"$w1 milliseconds"))
          .agg(count(lit(1)).as("n1"))
          .groupBy(org.apache.spark.sql.functions.window(
            window_time(col("window")), s"$w2 milliseconds").as("w2win"))
          .agg(sum(col("n1")).cast("long").as("n_pairs"),
            count(lit(1)).as("n_fine"))
          .select(unix_millis(col("w2win.start")).as("window_start_ms"),
            col("n_pairs"), col("n_fine"))
      }
        .filter(col("window_start_ms") <= hi)
        .orderBy(col("window_start_ms"))
    }

    val sql =
      s"""${joinKeptCtes(mode, seed, nWaves, delay)},
        |pairs AS (
        |  SELECT ((c.ms // $w1) * $w1) AS ws1
        |  FROM (SELECT user_id, ms FROM kept WHERE event_type = 'view') v
        |  JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |    ON v.user_id = c.user_id AND c.ms >= v.ms
        |       AND c.ms <= v.ms + $joinW)
        |SELECT (ws1 // $w2) * $w2 AS window_start_ms,
        |       COUNT(*) AS n_pairs, COUNT(DISTINCT ws1) AS n_fine
        |FROM pairs GROUP BY window_start_ms
        |ORDER BY window_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family K drive: the family-D inner twin
    * supplies the kept pairs, closed under the two-level rollup.
    */
  def chain3Twin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val p = chain3P(seed)
      joinTwinWith(JoinP(p.nWaves, p.mode, p.delay, p.joinW, "inner"),
          seed)(spark, dir)
        .withColumn("ws1", expr(s"(click_ms div ${p.w1}) * ${p.w1}"))
        .groupBy(expr(s"(ws1 div ${p.w2}) * ${p.w2}").as("window_start_ms"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ws1")).as("n_fine"))
        .select(col("window_start_ms"), col("n_pairs"), col("n_fine"))
        .orderBy(col("window_start_ms"))
    }

  private[graft] case class DedupAggP(nWaves: Int, mode: String, delay: Long,
      bucket: Long, aggK: Long) {
    def aggW: Long = aggK * bucket
  }

  private[graft] def dedupAggP(seed: Long): DedupAggP = {
    val d = dedupP(seed)
    // independent draw for the rollup multiple (dedupP consumed its RNG)
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    DedupAggP(d.nWaves, d.mode, d.delay, d.bucket,
      Seq(2L, 4L, 8L)(rnd.nextInt(3)))
  }

  /** Family M — streaming dedup FEEDING a tumbling windowed aggregation
    * (the dedup->agg production shape: "count unique impressions per
    * window"): StreamingDeduplicateExec chained into a windowed agg in
    * ONE query, the remaining two-stateful composition after H
    * (join->agg), J (agg->agg), and L (tws->join). The dedup operator
    * passes rows through with their event-time column UNCHANGED, so the
    * downstream agg runs on the SAME global watermark — no output-time
    * re-declaration involved (contrast family L).
    *
    * Purity, composing family E's argument with family H's:
    *
    *  - the dedup stage's finalized emission set is exactly DISTINCT
    *    over the lagged-watermark-kept rows (family E: re-emission after
    *    eviction impossible — inclusive drop and eviction share the
    *    boundary);
    *  - the agg NEVER drops an emitted row: emission happens in the
    *    arrival batch M of the first kept occurrence, which satisfied
    *    `bt > L(M)`, and the agg's lagged filter in the same batch drops
    *    only `W.end <= L(M)` — impossible for the window CONTAINING bt;
    *  - an emitted window never re-feeds: eviction of W at batch N needs
    *    `E(N) >= W.end`, a later emission into W at batch M > N needs
    *    `bt > L(M) = E(M-1) >= E(N) >= W.end > bt` — contradiction.
    *
    * So the finalized output is the plain tumbling rollup of the
    * DISTINCT kept (key, bucket) pairs; `sum_keys` is exact BIGINT.
    * aggW is an aligned multiple of the dedup bucket, and sentinels are
    * separated by TIME (the output has no key column — family I/K's
    * convention): their far-future windows are dropped on the sink
    * table, never in-query.
    */
  private def genDedupAgg(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupAggP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket; val aggW = p.aggW

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms")))
      val margin = delay + 3 * bucket + 3 * aggW + 10000000L
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, nWaves.toLong),
          (-2L, hi + 2 * margin, nWaves + 1L))
          .toDF("key", "ms", "wave"))
      driveFamily(spark, dir, "dagg", seed, cfg, frame,
        "key LONG, ms LONG", nWaves) { src =>
        src.select(col("key"),
            timestamp_millis(expr(s"(ms div ${bucket}L) * ${bucket}L"))
              .as("bt"))
          .withWatermark("bt", s"$delay milliseconds")
          .dropDuplicates("key", "bt")
          .groupBy(window(col("bt"), s"$aggW milliseconds"))
          .agg(count(lit(1)).as("n"),
            sum(col("key")).as("sum_keys"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("n"), col("sum_keys"))
      }
        // sentinels separated by time: real buckets never exceed hi, so
        // real window starts never reach hi + aggW
        .filter(col("window_start_ms") < lit(hi + aggW))
        .orderBy(col("window_start_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id")},
        |e AS (SELECT user_id, (ms // $bucket) * $bucket AS ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |kept AS (
        |  SELECT e.user_id, e.ms FROM e JOIN l USING (wave)
        |  WHERE e.ms > l.lwm),
        |d AS (SELECT DISTINCT user_id, ms FROM kept)
        |SELECT (ms // $aggW) * $aggW AS window_start_ms,
        |       COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_keys
        |FROM d GROUP BY 1 ORDER BY window_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family M drive: family E's twin closed
    * under the aligned tumbling GROUP BY.
    */
  def dedupAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = dedupAggP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms"))).rows
        .drop("event_id")
        .withColumn("bt", expr(s"(ms div ${p.bucket}L) * ${p.bucket}L"))
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("bt")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - lit(p.delay),
            lit(0L)), lit(0L)).as("lwm"))
      e.join(broadcast(l), Seq("wave"))
        .filter(col("bt") > col("lwm"))
        .select(col("key"), col("bt"))
        .distinct()
        .groupBy(expr(s"(bt div ${p.aggW}L) * ${p.aggW}L")
          .as("window_start_ms"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("sum_keys"))
        .orderBy(col("window_start_ms"))
    }

  private[graft] case class JoinJoinP(nWaves: Int, mode: String, delay: Long,
      w1: Long, w2: Long)

  private[graft] def joinJoinP(seed: Long): JoinJoinP = {
    val j = joinP(seed)
    // independent draws for BOTH hop windows (joinP consumed its RNG).
    // The menu is wider than family D's (6 h / 24 h / 72 h): a triple
    // coincidence view -> click -> purchase on ONE user is far rarer
    // than a pair, and the fixture's sf0.001 carving has only ~15 users
    // over 30 days — family-D-width windows are vacuous there.
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    val menu = Seq(21600000L, 86400000L, 259200000L)
    JoinJoinP(j.nWaves, j.mode, j.delay,
      menu(rnd.nextInt(3)), menu(rnd.nextInt(3)))
  }

  /** Family N — a stream-stream interval join FEEDING a second
    * stream-stream interval join (the remaining multi-hop composition:
    * K's join→agg→agg chain propagates the join watermark into AGG
    * state; here it must propagate into a second JOIN's symmetric hash
    * state, on both of that join's roles — the pair stream is join2's
    * left input and the purchase stream join2's right). Three watermarked
    * inputs carved from one fixture: views x clicks (click in
    * [view, view+w1]) then pairs x purchases (purchase in
    * [click, click+w2]), all inner, keyed by user.
    *
    * Oracle purity — with E = the lagged three-sided global watermark
    * (min of the per-type running maxes, minus delay), the finalized
    * output is the plain triple interval join of the three KEPT sets:
    * views/clicks with ms > E, purchases with ms >= E - w1 (the
    * propagated bound drops STRICTLY below itself — the boundary row is
    * kept, unlike the inclusive source-side filters; both pinned). The
    * w1-shifted purchase bound is the load-bearing (empirically pinned)
    * semantics: join2 has ONE input watermark
    * E2 = min(wm_out(join1), wm(purchase node)) = min(E - w1, E)
    * = E - w1 (join1's output watermark subtracts its view-side state
    * range w1), and E2 — not E — governs join2's late filter on BOTH
    * inputs and both of its state evictions. A purchase OLDER than the
    * global watermark but within w1 of it is therefore kept and
    * matched (the first probe run had the oracle drop exactly those —
    * drive-only rows — until the bound was shifted). No triple is then
    * lost or duplicated:
    *
    *  - join1 is family D's inner join verbatim: kept_v x kept_c, no
    *    pair lost or duplicated, and every emitted pair carries
    *    click_ms >= E(M-1) (kept clicks beat L(M) = E(M-1); stored
    *    clicks survived eviction at E), so the pairs-side late filter
    *    at E2(M-1) = E(M-1) - w1 never binds;
    *  - purchase state evicts p only when p.ms < E2(N): a pair emitted
    *    at batch M > N needs p.ms >= click_ms >= E(N) > E2(N) > p.ms —
    *    contradiction, so an evicted purchase had no future match;
    *  - pairs state evicts a pair only when click_ms + w2 < E2(N), and
    *    a purchase kept at batch M > N has p.ms > E2(M-1) >= E2(N) >
    *    click_ms + w2 — outside the interval, so an evicted pair had no
    *    future match either.
    *
    * Pinned end-to-end by WmProbeSpec ("join output watermark drives a
    * second join's late filter"). Sentinel TRIPLES (view = click =
    * purchase time) ride through both joins and are dropped on the sink
    * table — families D/H/K's convention, for the same pushdown reason.
    */
  private def genJoinJoin(seed: Long, cfg: DriveCfg): SGen = {
    val p = joinJoinP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val w1 = p.w1; val w2 = p.w2
    val margin = delay + 3 * w1 + 3 * w2 + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-1L, "purchase", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L),
          (-2L, "purchase", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "jj", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(col("ms")).as("view_ts"))
          .withWatermark("view_ts", s"$delay milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("puser"),
            timestamp_millis(col("ms")).as("purchase_ts"))
          .withWatermark("purchase_ts", s"$delay milliseconds")
        // sentinel triples ride THROUGH both joins and are dropped on
        // the sink table — an in-query filter here would be predicate-
        // pushed below the EventTimeWatermark nodes and freeze the
        // watermark (families D/H's empirically-bitten pushdown trap)
        views.join(clicks,
            expr(s"vuser = cuser AND click_ts >= view_ts AND " +
              s"click_ts <= view_ts + interval $w1 millisecond"), "inner")
          // a join input may carry AT MOST ONE event-time column
          // (Spark refuses (view_ts, click_ts) both watermarked), so
          // the pair stream demotes view_ts to a plain long and keeps
          // click_ts as ITS event time — the column join2's condition
          // and state eviction run on
          .select(col("vuser"), unix_millis(col("view_ts")).as("view_ms"),
            col("click_ts"))
          .join(purchases,
            expr(s"vuser = puser AND purchase_ts >= click_ts AND " +
              s"purchase_ts <= click_ts + interval $w2 millisecond"), "inner")
          .select(col("vuser").as("user_id"), col("view_ms"),
            unix_millis(col("click_ts")).as("click_ms"),
            unix_millis(col("purchase_ts")).as("purchase_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("view_ms"), col("click_ms"),
          col("purchase_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click', 'purchase')")},
        |e AS (SELECT user_id, event_type, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
        |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc,
        |         MAX(CASE WHEN event_type = 'purchase' THEN ms END) AS mp
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL
        |               OR MAX(mp) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2,
        |               MAX(mc) OVER lag2, MAX(mp) OVER lag2) - $delay, 0) END
        |          AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |kept AS (
        |  SELECT e.user_id, e.event_type, e.ms
        |  FROM e JOIN l USING (wave)
        |  WHERE CASE WHEN e.event_type = 'purchase'
        |             THEN e.ms >= l.lwm - $w1
        |             ELSE e.ms > l.lwm END)
        |SELECT v.user_id AS user_id, v.ms AS view_ms, c.ms AS click_ms,
        |       p.ms AS purchase_ms
        |FROM (SELECT user_id, ms FROM kept WHERE event_type = 'view') v
        |JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND c.ms >= v.ms AND c.ms <= v.ms + $w1
        |JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id AND p.ms >= c.ms AND p.ms <= c.ms + $w2
        |ORDER BY user_id, view_ms, click_ms, purchase_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family N drive: the three-sided kept
    * sets closed under the same triple interval join.
    */
  def joinJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = joinJoinP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"),
        max(when(col("event_type") === "purchase", col("ms"))).as("mp"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull ||
            max(col("mp")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2),
                max(col("mp")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(when(col("event_type") === "purchase",
          col("ms") >= col("lwm") - p.w1).otherwise(col("ms") > col("lwm")))
      val v = kept.filter(col("event_type") === "view")
        .select(col("user_id"), col("ms").as("view_ms"))
      val c = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ms").as("click_ms"))
      val pu = kept.filter(col("event_type") === "purchase")
        .select(col("user_id").as("puser"), col("ms").as("purchase_ms"))
      v.join(c, col("user_id") === col("cuser") &&
          col("click_ms") >= col("view_ms") &&
          col("click_ms") <= col("view_ms") + p.w1, "inner")
        .join(pu, col("user_id") === col("puser") &&
          col("purchase_ms") >= col("click_ms") &&
          col("purchase_ms") <= col("click_ms") + p.w2, "inner")
        .select(col("user_id"), col("view_ms"), col("click_ms"),
          col("purchase_ms"))
        .orderBy(col("user_id"), col("view_ms"), col("click_ms"),
          col("purchase_ms"))
    }

  private[graft] case class DedupJoinP(nWaves: Int, mode: String,
      delay: Long, bucket: Long, window: Long)

  private[graft] def dedupJoinP(seed: Long): DedupJoinP = {
    val d = dedupP(seed)
    // independent draw for the join window (dedupP consumed its RNG);
    // window >= one bucket on average so a floored view still reaches
    // the clicks of its own bucket
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    DedupJoinP(d.nWaves, d.mode, d.delay,
      Seq(3600000L, 21600000L)(rnd.nextInt(2)),
      Seq(21600000L, 86400000L, 259200000L)(rnd.nextInt(3)))
  }

  /** Family O — streaming dedup FEEDING a stream-stream interval join
    * (the remaining dedup x join composition after M's dedup -> agg and
    * N's join -> join): views are deduped on (user, bucket) — one state
    * row per distinct key, the bucketed time IS the event-time column —
    * and the deduped stream interval-joins the watermarked click
    * stream, so the join's view-side state eviction runs on the
    * watermark passed THROUGH StreamingDeduplicateExec.
    *
    * Oracle purity is the composition of two proven arguments:
    *
    *  - family E: the dedup's finalized emission set is exactly
    *    DISTINCT (user, bt) over the kept view rows (bt > L, inclusive
    *    drop at the bound; re-emission after state eviction is
    *    impossible), and — family M's pin — the event-time column
    *    passes through UNTOUCHED, so the join's input watermark on the
    *    view side is the unshifted global E (unlike family N, where
    *    join1 SUBTRACTS its state range before propagating);
    *  - family D: no (view, click) pair is lost or duplicated — a
    *    deduped view emits in its arrival batch with bt > L(M), above
    *    any same-batch late bound at the join; click state evicts at
    *    ms < E and a kept view's matching clicks carry ms >= bt >
    *    L(M) = E(M-1); view state evicts at bt < E - w and a kept
    *    click's matching views carry bt >= ms - w > E(M-1) - w.
    *
    * The finalized output is therefore the plain interval join of the
    * deduped kept views against the kept clicks. The oracle floors view
    * times INSIDE its `e` CTE (per-wave maxes are over the FLOORED
    * view times — floor is monotone, so the watermark replay is exact)
    * under a column name distinct from the raw `ms` the wave carving
    * reads. Sentinel view/click pairs ride through both operators and
    * drop on the sink table (the pushdown convention).
    */
  private def genDedupJoin(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupJoinP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket; val window = p.window
    val margin = delay + 3 * bucket + 3 * window + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "dj", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(expr(s"(ms div ${bucket}L) * ${bucket}L"))
              .as("view_bt"))
          .withWatermark("view_bt", s"$delay milliseconds")
          .dropDuplicates("vuser", "view_bt")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        // sentinels ride through both stateful operators and drop on
        // the sink table (the families D/H/N pushdown convention)
        views.join(clicks,
            expr(s"vuser = cuser AND click_ts >= view_bt AND " +
              s"click_ts <= view_bt + interval $window millisecond"), "inner")
          .select(col("vuser").as("user_id"),
            unix_millis(col("view_bt")).as("view_bt_ms"),
            unix_millis(col("click_ts")).as("click_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("view_bt_ms"), col("click_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click')")},
        |e AS (SELECT user_id, event_type,
        |        CASE WHEN event_type = 'view'
        |             THEN (ms // $bucket) * $bucket ELSE ms END AS fms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN fms END) AS mv,
        |         MAX(CASE WHEN event_type = 'click' THEN fms END) AS mc
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2,
        |               MAX(mc) OVER lag2) - $delay, 0) END AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |kept AS (
        |  SELECT e.user_id, e.event_type, e.fms
        |  FROM e JOIN l USING (wave) WHERE e.fms > l.lwm),
        |d AS (SELECT DISTINCT user_id, fms FROM kept
        |      WHERE event_type = 'view')
        |SELECT v.user_id AS user_id, v.fms AS view_bt_ms, c.fms AS click_ms
        |FROM d v
        |JOIN (SELECT user_id, fms FROM kept WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND c.fms >= v.fms
        |     AND c.fms <= v.fms + $window
        |ORDER BY user_id, view_bt_ms, click_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family O drive: kept views (bucket-
    * floored, DISTINCT) interval-joined with kept clicks under the same
    * two-sided lagged watermark replay.
    */
  def dedupJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = dedupJoinP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
        .withColumn("fms", when(col("event_type") === "view",
          expr(s"(ms div ${p.bucket}L) * ${p.bucket}L")).otherwise(col("ms")))
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("fms"))).as("mv"),
        max(when(col("event_type") === "click", col("fms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("fms") > col("lwm"))
      val v = kept.filter(col("event_type") === "view")
        .select(col("user_id"), col("fms").as("view_bt_ms")).distinct()
      val c = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("fms").as("click_ms"))
      v.join(c, col("user_id") === col("cuser") &&
          col("click_ms") >= col("view_bt_ms") &&
          col("click_ms") <= col("view_bt_ms") + p.window, "inner")
        .select(col("user_id"), col("view_bt_ms"), col("click_ms"))
        .orderBy(col("user_id"), col("view_bt_ms"), col("click_ms"))
    }

  private[graft] case class DedupSessP(nWaves: Int, mode: String,
      delay: Long, bucket: Long, gap: Long)

  private[graft] def dedupSessP(seed: Long): DedupSessP = {
    val d = dedupP(seed)
    // independent draw for the session gap (dedupP consumed its RNG);
    // gap is a multiple of the bucket so consecutive occupied buckets
    // genuinely merge (a sub-bucket gap would make every session a
    // single bucket and the merging state machine untested)
    val rnd = new Random(seed * 0x9E6C63D0876A9A41L + 0x5851F42D4C957F2DL)
    DedupSessP(d.nWaves, d.mode, d.delay, d.bucket,
      d.bucket * (1 + rnd.nextInt(3)))
  }

  /** Family T — streaming dedup FEEDING a native `session_window`
    * aggregation: the LAST stateful operator never exercised in
    * composition (family C covers it standalone; H-S chain every other
    * pair). Rows are deduped on (user, bucket) — the bucketed time IS
    * the event-time column — and the distinct (user, bucket) stream
    * feeds the merging SessionWindowStateStore, so session merging,
    * emission, AND re-opening all run on dedup's exactly-once output
    * under the watermark passed THROUGH StreamingDeduplicateExec.
    *
    * Oracle = the composition of two proven arguments:
    *
    *  - family E: dedup's finalized emission set is exactly DISTINCT
    *    (user, bt) over the kept rows (row-based inclusive drop
    *    `bt <= L`; re-emission after eviction impossible), each
    *    emitted in its FIRST kept arrival batch — so the session
    *    operator's per-batch input is d = (user, bt, min kept wave);
    *  - family C: the session late filter is END-based
    *    (`bt + gap <= L` drops) — STRICTLY WEAKER than dedup's
    *    row-based filter already applied upstream (gap > 0 implies
    *    bt > L => bt + gap > L), so NO row is lost between the
    *    operators and family C's staged replay applies verbatim over
    *    d: stage k re-sessionizes open rows and emits components whose
    *    end <= E(k), late-but-kept buckets re-opening OVERLAPPING
    *    sessions exactly as in the standalone family.
    *
    * The watermark schedule stays driven by ALL arriving rows (stats
    * are collected at the source watermark node, upstream of both
    * operators), so `b` is built from e — including waves whose rows
    * are all dedup-dropped: their batches still exist and still evict.
    */
  private def genDedupSess(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupSessP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket; val gap = p.gap
    val margin = delay + 3 * gap + 3 * bucket + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, nWaves.toLong),
          (-2L, hi + 2 * margin, nWaves + 1L))
          .toDF("key", "ms", "wave"))
      driveFamily(spark, dir, "dsess", seed, cfg, frame,
        "key LONG, ms LONG", nWaves) { src =>
        src.select(col("key"),
            timestamp_millis(expr(s"(ms div ${bucket}L) * ${bucket}L"))
              .as("bt"))
          .withWatermark("bt", s"$delay milliseconds")
          .dropDuplicates("key", "bt")
          .groupBy(session_window(col("bt"), s"$gap milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_buckets"))
          .select(col("key").as("user_id"),
            unix_millis(col("session_window.start")).as("start_ms"),
            unix_millis(col("session_window.end")).as("end_ms"),
            col("n_buckets"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("start_ms"))
    }

    // family C's generated replay stage, minus the value column: stage
    // k re-sessionizes open deduped buckets and emits components whose
    // end <= E(k), guarded on the wave actually having ARRIVING rows
    // (all-duplicate waves still have a batch — b is built from e)
    def stage(k: Long, prev: String): String = {
      val ek = s"(SELECT COALESCE(GREATEST(MAX(mx) - $delay, 0), 0)" +
        s" FROM b WHERE wave < $k)"
      val hasBatch = s"(SELECT COUNT(*) FROM b WHERE wave = $k) > 0"
      s"""s$k AS (
        |  SELECT user_id, ms, wave,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN $k ELSE est END AS est,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN sid ELSE esid END AS esid
        |  FROM (
        |    SELECT *, MAX(ms) OVER (PARTITION BY user_id, open, sid)
        |              + $gap AS comp_end
        |    FROM (
        |      SELECT *, SUM(ns) OVER (PARTITION BY user_id, open ORDER BY ms
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM (
        |        SELECT *, CASE WHEN NOT open THEN NULL
        |          WHEN lag(ms) OVER (PARTITION BY user_id, open ORDER BY ms)
        |            IS NULL THEN 1
        |          WHEN ms - lag(ms) OVER (PARTITION BY user_id, open
        |            ORDER BY ms) > $gap THEN 1 ELSE 0 END AS ns
        |        FROM (SELECT user_id, ms, wave, est, esid,
        |                (est IS NULL AND wave <= $k) AS open
        |              FROM $prev)))))""".stripMargin
    }
    val nStages = nWaves + 2
    val stages = (0L until nStages)
      .map(k => stage(k, if (k == 0) "s_init" else s"s${k - 1}"))
      .mkString(",\n")
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id")},
        |e AS (SELECT user_id, (ms // $bucket) * $bucket AS ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |b0 AS (SELECT wave, MAX(ms) AS mx FROM e GROUP BY wave),
        |hb AS (SELECT MAX(ms) AS hi FROM e),
        |b AS (SELECT * FROM b0
        |      UNION ALL SELECT $nWaves, hi + $margin FROM hb
        |      UNION ALL SELECT ${nWaves + 1}, hi + 2 * $margin FROM hb),
        |l AS (SELECT wave,
        |        COALESCE(GREATEST(MAX(mx) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |          - $delay, 0), 0) AS lwm
        |      FROM b),
        |kept AS (
        |  SELECT e.user_id, e.ms, e.wave FROM e JOIN l USING (wave)
        |  WHERE e.ms > l.lwm),
        |d AS (SELECT user_id, ms, MIN(wave) AS wave FROM kept
        |      GROUP BY user_id, ms),
        |s_init AS (
        |  SELECT user_id, ms, wave,
        |         CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS esid
        |  FROM d),
        |$stages
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + $gap AS end_ms,
        |       COUNT(*) AS n_buckets
        |FROM s${nStages - 1} GROUP BY user_id, est, esid
        |ORDER BY user_id, start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family T drive: the kept-and-deduped
    * bucket set (first kept wave per (user, bucket)) pushed through the
    * same staged session replay as [[sessionTwin]], with per-stage
    * eviction scalars from the FLOORED per-wave maxes.
    */
  def dedupSessTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = dedupSessP(seed)
      val margin = p.delay + 3 * p.gap + 3 * p.bucket + 10000000L
      // carving reads the RAW time (`ms`); the watermarked column is
      // the bucket floor, which REPLACES ms for everything downstream
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.select(col("event_id"), col("user_id"),
          expr("us div 1000").as("ms"))).rows
        .withColumn("ms", expr(s"(ms div ${p.bucket}L) * ${p.bucket}L"))
        .drop("event_id")
      val realMx: Map[Long, Long] = e.groupBy(col("wave"))
        .agg(max(col("ms")).as("mx")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hi = realMx.values.max
      val mxByWave = realMx +
        (p.nWaves.toLong -> (hi + margin)) +
        ((p.nWaves + 1).toLong -> (hi + 2 * margin))
      def ewm(k: Long): Long = {
        val prior = mxByWave.filter(_._1 < k).values
        if (prior.isEmpty) 0L else math.max(0L, prior.max - p.delay)
      }
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("ms")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - lit(p.delay),
            lit(0L)), lit(0L)).as("lwm"))
      var df = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
        .groupBy(col("user_id").as("key"), col("ms"))
        .agg(min(col("wave")).as("wave"))
        .withColumn("est", lit(null).cast("long"))
        .withColumn("esid", lit(null).cast("long"))
      (0L until (p.nWaves + 2L)).foreach { k =>
        val hasBatch = mxByWave.contains(k)
        val wOpen = Window.partitionBy(col("key"), col("open"))
          .orderBy(col("ms"))
        val wCum = wOpen.rowsBetween(Window.unboundedPreceding, 0)
        val wComp = Window.partitionBy(col("key"), col("open"), col("sid"))
        df = df
          .withColumn("open", col("est").isNull && col("wave") <= k)
          .withColumn("ns", when(!col("open"), lit(null))
            .when(lag(col("ms"), 1).over(wOpen).isNull, 1)
            .when(col("ms") - lag(col("ms"), 1).over(wOpen) > p.gap, 1)
            .otherwise(0))
          .withColumn("sid", sum(col("ns")).over(wCum))
          .withColumn("comp_end", max(col("ms")).over(wComp) + p.gap)
          .withColumn("emit",
            col("open") && lit(hasBatch) && col("comp_end") <= ewm(k))
          .withColumn("est", when(col("emit"), k).otherwise(col("est")))
          .withColumn("esid", when(col("emit"), col("sid"))
            .otherwise(col("esid")))
          .drop("open", "ns", "sid", "comp_end", "emit")
      }
      df.groupBy(col("key"), col("est"), col("esid"))
        .agg(min(col("ms")).as("start_ms"),
          (max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_buckets"))
        .select(col("key").as("user_id"), col("start_ms"), col("end_ms"),
          col("n_buckets"))
        .orderBy(col("user_id"), col("start_ms"))
    }

  private[graft] case class JoinDedupP(nWaves: Int, mode: String,
      delay: Long, window: Long, bucket: Long, raw: Boolean)

  private[graft] def joinDedupP(seed: Long): JoinDedupP = {
    val j = joinP(seed)
    // independent draw for the dedup-key geometry (joinP consumed its
    // RNG): raw = dedup on the click event-time column itself (state
    // evicts on the join-shifted watermark); bucketed = dedup on a
    // derived floor (no event-time metadata -> unbounded dedup state)
    val rnd = new Random(seed * 0xA0761D6478BD642FL + 0xE7037ED1A0B428DBL)
    JoinDedupP(j.nWaves, j.mode, j.delay, j.window,
      Seq(3600000L, 21600000L, 86400000L)(rnd.nextInt(3)),
      rnd.nextBoolean())
  }

  /** Family U — stream-stream interval join FEEDING streaming dedup
    * (the remaining join x dedup direction after O's dedup -> join):
    * view/click pairs collapse to the distinct (user, click) or
    * (user, click-bucket) set — "clicks attributed to at least one
    * view" — so StreamingDeduplicateExec's state and late filter run on
    * the watermark passed THROUGH the join (which subtracts its state
    * interval before propagating, the family N pin).
    *
    * Oracle purity composes family D with one NEW fact: an emitted
    * pair can never be late at the dedup. The pair emits at
    * m = max(view batch, click batch); whichever side arrived at m was
    * admitted there, so click_ts >= view_ts > L(m) when the view is
    * the later side, and click_ts > L(m) directly when the click is —
    * either way click_ts > L(m) > L(m) - w, the dedup's shifted input
    * bound. Downstream re-emission after state eviction is impossible
    * by family E's monotonicity argument on the shifted watermark
    * (eviction at n needs click_ts <= E(n) - w; a later duplicate pair
    * emits above L(m) - w = E(m-1) - w >= E(n) - w). The finalized
    * output is therefore the plain DISTINCT projection over the
    * interval join of the two kept sets — for BOTH key geometries
    * (the bucketed key has no event-time metadata, so its dedup state
    * is unbounded and trivially exactly-once). Only key columns are
    * projected, so within-batch first-row-wins nondeterminism cannot
    * surface (the family E convention).
    */
  private def genJoinDedup(seed: Long, cfg: DriveCfg): SGen = {
    val p = joinDedupP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val window = p.window; val bucket = p.bucket
    val margin = delay + 3 * window + 3 * bucket + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "jd", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("vuser"),
            timestamp_millis(col("ms")).as("view_ts"))
          .withWatermark("view_ts", s"$delay milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("click_ts"))
          .withWatermark("click_ts", s"$delay milliseconds")
        val joined = views.join(clicks,
          expr(s"vuser = cuser AND click_ts >= view_ts AND " +
            s"click_ts <= view_ts + interval $window millisecond"), "inner")
        if (p.raw)
          joined.dropDuplicates("vuser", "click_ts")
            .select(col("vuser").as("user_id"),
              unix_millis(col("click_ts")).as("click_ms"))
        else
          joined.withColumn("cbt",
              expr(s"(unix_millis(click_ts) div ${bucket}L) * ${bucket}L"))
            .dropDuplicates("vuser", "cbt")
            .select(col("vuser").as("user_id"), col("cbt").as("click_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("click_ms"))
    }

    val keyExpr = if (p.raw) "c.ms" else s"(c.ms // $bucket) * $bucket"
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click')")},
        |e AS (SELECT user_id, event_type, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
        |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2,
        |               MAX(mc) OVER lag2) - $delay, 0) END AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |kept AS (
        |  SELECT e.user_id, e.event_type, e.ms
        |  FROM e JOIN l USING (wave) WHERE e.ms > l.lwm)
        |SELECT DISTINCT v.user_id AS user_id, $keyExpr AS click_ms
        |FROM (SELECT user_id, ms FROM kept WHERE event_type = 'view') v
        |JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND c.ms >= v.ms
        |     AND c.ms <= v.ms + $window
        |ORDER BY user_id, click_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family U drive: DISTINCT projection of
    * the interval join of the two kept sets.
    */
  def joinDedupTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = joinDedupP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
      val v = kept.filter(col("event_type") === "view")
        .select(col("user_id"), col("ms").as("vms"))
      val c = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ms").as("cms"))
      val keyCol = if (p.raw) col("cms")
        else expr(s"(cms div ${p.bucket}L) * ${p.bucket}L")
      v.join(c, col("user_id") === col("cuser") &&
          col("cms") >= col("vms") &&
          col("cms") <= col("vms") + p.window, "inner")
        .select(col("user_id"), keyCol.as("click_ms"))
        .distinct()
        .orderBy(col("user_id"), col("click_ms"))
    }

  private[graft] case class TwsJoinP(nWaves: Int, mode: String, delay: Long,
      window: Long, bucket: Long)

  private[graft] def twsJoinP(seed: Long): TwsJoinP = {
    val j = joinP(seed)
    // independent draw for the admission bucket (joinP consumed its RNG)
    val rnd = new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)
    TwsJoinP(j.nWaves, j.mode, j.delay, j.window,
      Seq(3600000L, 21600000L, 86400000L)(rnd.nextInt(3)))
  }

  /** Family L — transformWithState chained INTO a stream-stream join
    * (a 12th fuzzed surface, and the REVERSE composition of family H):
    * the view side passes through [[graft.streaming.AdmitFirstProcessor]]
    * (first view per (user, bucket) admitted, its own event time
    * re-declared via the transformWithState `eventTimeColumnName`
    * overload), and the admitted stream interval-joins the watermarked
    * click stream — so the JOIN's view-state eviction runs on the
    * watermark propagated THROUGH the TWS operator. The one
    * multi-stateful ordering the earlier families never execute.
    *
    * Oracle purity:
    *
    *  - ADMISSION is a pure function of {kept view rows, their waves}:
    *    min event time within the earliest wave touching the (user,
    *    bucket) — iterator order inside a batch cannot matter (the
    *    processor reduces to per-bucket min first), and a swept bucket
    *    never re-admits (the closed-bucket argument in the processor
    *    scaladoc). In SQL: ROW_NUMBER() OVER (user, bucket ORDER BY
    *    wave, ms) = 1 over the kept views.
    *  - The ECHO of a kept view's own time through the output column is
    *    legal: a kept row has ms > L(k), and the output-validation bound
    *    is the SAME lagged L(k), not the current E(k) — pinned by
    *    WmProbeSpec ("late-but-kept row can be re-emitted").
    *  - NO pair is lost to eviction: a kept click at batch M carries
    *    click_ms > L(M) = E(M-1); its admitted view has view_ms >=
    *    click_ms - window > E(M-1) - window, above the view-state
    *    eviction bound through batch M-1 (eviction uses wm_out -
    *    window with wm_out <= E). Symmetrically an early-arrived click
    *    survives until click_ms < E, and a pair needs click_ms >=
    *    view_ms > L(k) at the view's arrival batch k — so every
    *    (admitted view, kept click) pair within the window is emitted,
    *    exactly once (inner symmetric-hash join, both sides append).
    *    Pinned end-to-end by WmProbeSpec ("output watermark feeds a
    *    downstream stream-stream join").
    *
    * The finalized output is therefore the plain batch interval join of
    * the admitted views against the kept clicks. Sentinel pairs ride
    * through BOTH stateful operators (the view sentinel admits into its
    * own far-future bucket, the click sentinel matches it) and are
    * dropped on the sink table — family D/H's convention, for the same
    * pushdown reason.
    */
  private def genTwsJoin(seed: Long, cfg: DriveCfg): SGen = {
    val p = twsJoinP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val window = p.window; val bucket = p.bucket
    val margin = delay + 3 * window + 3 * bucket + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      WaveHarness.withRocksDb(spark) {
        driveFamily(spark, dir, "twsjoin", seed, cfg, frame,
          "user_id LONG, event_type STRING, ms LONG", nWaves) {
          src =>
          val admitted = graft.streaming.TwsAdmitJob.admitFirst(
            src.filter(col("event_type") === "view")
              .select(col("user_id").as("key"),
                timestamp_millis(col("ms")).as("eventTs"),
                lit(0.0).as("value"))
              .as[graft.streaming.KeyedEvent],
            bucket, s"$delay milliseconds").toDF()
            .select(col("key").as("vuser"), col("viewTs").as("view_ts"))
          val clicks = src.filter(col("event_type") === "click")
            .select(col("user_id").as("cuser"),
              timestamp_millis(col("ms")).as("click_ts"))
            .withWatermark("click_ts", s"$delay milliseconds")
          admitted.join(clicks,
              expr(s"vuser = cuser AND click_ts >= view_ts AND " +
                s"click_ts <= view_ts + interval $window millisecond"),
              "inner")
            .select(col("vuser").as("user_id"),
              unix_millis(col("view_ts")).as("view_ms"),
              unix_millis(col("click_ts")).as("click_ms"))
        }
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("view_ms"), col("click_ms"))
    }

    val sql =
      s"""${joinKeptCtes(mode, seed, nWaves, delay)},
        |adm AS (
        |  SELECT user_id, ms,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, ms // $bucket
        |           ORDER BY wave, ms) AS rn
        |  FROM kept WHERE event_type = 'view')
        |SELECT a.user_id AS user_id, a.ms AS view_ms, c.ms AS click_ms
        |FROM (SELECT user_id, ms FROM adm WHERE rn = 1) a
        |JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |  ON a.user_id = c.user_id AND c.ms >= a.ms
        |     AND c.ms <= a.ms + $window
        |ORDER BY a.user_id, view_ms, click_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family L drive: kept rows via the
    * shared lagged min-both-sides watermark, admission via the
    * (wave, ms)-ordered ROW_NUMBER, then the plain interval join.
    */
  /** Dev-scan internals for family-L seed selection: (total view/click
    * rows, late-dropped, kept views, ADMITTED views, kept clicks) — a
    * registered seed must exercise the late filter AND the bucket
    * suppression, not just produce pairs.
    */
  private[graft] def twsJoinInternals(seed: Long, spark: SparkSession,
      dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    val p = twsJoinP(seed)
    val e = carve(spark, dir, seed, p.mode, p.nWaves)(
      _.filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("us div 1000").as("ms"))).rows
      .drop("event_id")
    val wPrev2 = Window.orderBy(col("wave"))
      .rowsBetween(Window.unboundedPreceding, -2)
    val l = e.groupBy(col("wave")).agg(
      max(when(col("event_type") === "view", col("ms"))).as("mv"),
      max(when(col("event_type") === "click", col("ms"))).as("mc"))
      .select(col("wave"),
        when(max(col("mv")).over(wPrev2).isNull ||
          max(col("mc")).over(wPrev2).isNull, lit(0L))
          .otherwise(greatest(
            least(max(col("mv")).over(wPrev2),
              max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
          .as("lwm"))
    val total = e.count()
    val kept = e.join(broadcast(l), Seq("wave"))
      .filter(col("ms") > col("lwm"))
    val keptViews = kept.filter(col("event_type") === "view").count()
    val keptClicks = kept.filter(col("event_type") === "click").count()
    val wAdm = Window
      .partitionBy(col("user_id"), expr(s"ms div ${p.bucket}L"))
      .orderBy(col("wave"), col("ms"))
    val admitted = kept.filter(col("event_type") === "view")
      .withColumn("rn", row_number().over(wAdm))
      .filter(col("rn") === 1).count()
    s"total=$total dropped=${total - keptViews - keptClicks} " +
      s"keptViews=$keptViews admitted=$admitted suppressed=" +
      s"${keptViews - admitted} keptClicks=$keptClicks"
  }

  def twsJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = twsJoinP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
      val wAdm = Window
        .partitionBy(col("user_id"), expr(s"ms div ${p.bucket}L"))
        .orderBy(col("wave"), col("ms"))
      val adm = kept.filter(col("event_type") === "view")
        .withColumn("rn", row_number().over(wAdm))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ms").as("view_ms"))
      val clicks = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ms").as("click_ms"))
      adm.join(clicks, col("user_id") === col("cuser") &&
          col("click_ms") >= col("view_ms") &&
          col("click_ms") <= col("view_ms") + p.window)
        .select(col("user_id"), col("view_ms"), col("click_ms"))
        .orderBy(col("user_id"), col("view_ms"), col("click_ms"))
    }

  private[graft] case class AggJoinP(nWaves: Int, mode: String, delay: Long,
      width: Long)

  private[graft] def aggJoinP(seed: Long): AggJoinP = {
    val rnd = new Random(seed * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    // per-(user, window) view/click coincidences are rare at sf0.001 —
    // the width menu starts at 6 h (the family N lesson)
    AggJoinP(nWaves, mode, delay,
      Seq(21600000L, 86400000L, 259200000L)(rnd.nextInt(3)))
  }

  /** Family P — windowed aggregation on BOTH inputs feeding a stream-
    * stream window join (the remaining agg x join composition after
    * K's join -> agg -> agg: here the join consumes two AGGREGATED
    * streams, the doc-canonical "window join" shape): views and clicks
    * each watermark their raw event time, tumble into the same width,
    * group by (window, user_id), and the two finalized aggregates
    * inner-join on (window, user_id).
    *
    * Purity, from family A's per-side rule plus two composition facts:
    *
    *  - CO-FINALIZATION: both agg operators evict with the one global
    *    query watermark (min across the two nodes, equal delays), so a
    *    window W present on both sides emits on BOTH in the same batch
    *    N — the first with `E(N) >= W.end` — and the pair meets in the
    *    join within one micro-batch; neither row can be evicted from
    *    join state before its partner arrives.
    *  - NO LATE DROP AT THE JOIN: the join's lagged late bound at batch
    *    N is `L(N) = E(N-1) < W.end` (N is the FIRST crossing batch),
    *    so an upstream-finalized window row is never filtered as late.
    *
    * Each side emits each (user, window) group at most once (family A:
    * append-on-finalize, no re-emission), so the finalized output is
    * exactly the inner join of the two sides' kept-rows aggregates.
    * The oracle applies the window-based drop rule per side — a (row,
    * W) pair is dropped iff `W.end <= L(wave)` with L the two-sided
    * lagged watermark (family O's l CTE over RAW ms on both sides —
    * unlike O, neither side floors its watermark column). Sentinel
    * users -1/-2 ride both sides (their windows match in the join) and
    * drop on the sink table.
    */
  private[graft] def aggJoinOuterP(seed: Long): AggJoinP = {
    val rnd = new Random(seed * 0x94D049BB133111EBL + 0xBF58476D1CE4E5B9L)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    AggJoinP(nWaves, mode, delay,
      Seq(21600000L, 86400000L, 259200000L)(rnd.nextInt(3)))
  }

  private def genAggJoin(seed: Long, cfg: DriveCfg): SGen =
    genAggJoinWith(aggJoinP(seed), seed, cfg, outer = false)

  /** Family Q — family P's composition with a LEFT OUTER window join:
    * every finalized view-side (user, window) aggregate survives, null-
    * extended where no click aggregate exists for the pair. On top of
    * P's co-finalization purity, the null-extension rule (pinned in
    * WmProbeSpec): an unmatched left window W null-extends only when
    * the join evicts W's state (watermark past W.end), which is at or
    * after W's arrival batch — and by co-finalization no click row for
    * W can arrive later, so a null row is never followed by a late pair
    * and a pair is never doubled by a spurious null row; unmatched
    * RIGHT windows emit nothing. The finalized output is therefore the
    * plain left join of the two sides' kept-rows aggregates.
    */
  private def genAggJoinOuter(seed: Long, cfg: DriveCfg): SGen =
    genAggJoinWith(aggJoinOuterP(seed), seed, cfg, outer = true)

  private def genAggJoinWith(p: AggJoinP, seed: Long, cfg: DriveCfg,
      outer: Boolean): SGen = {
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val width = p.width
    val margin = delay + 3 * width + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, if (outer) "ajo" else "aj", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val v = src.filter(col("event_type") === "view")
          .select(col("user_id"), timestamp_millis(col("ms")).as("vt"))
          .withWatermark("vt", s"$delay milliseconds")
          .groupBy(org.apache.spark.sql.functions
            .window(col("vt"), s"$width milliseconds"), col("user_id"))
          .agg(count(lit(1)).as("v_n"))
        val c = src.filter(col("event_type") === "click")
          .select(col("user_id"), timestamp_millis(col("ms")).as("ct"))
          .withWatermark("ct", s"$delay milliseconds")
          .groupBy(org.apache.spark.sql.functions
            .window(col("ct"), s"$width milliseconds"), col("user_id"))
          .agg(count(lit(1)).as("c_n"))
        // sentinel windows finalize on both sides and match here; they
        // drop on the sink table (the families D/H/N/O convention)
        v.join(c, Seq("window", "user_id"),
            if (outer) "left_outer" else "inner")
          .select(col("user_id"),
            unix_millis(col("window.start")).as("window_start_ms"),
            col("v_n"), col("c_n"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("window_start_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'click')")},
        |e AS (SELECT user_id, event_type, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
        |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2,
        |               MAX(mc) OVER lag2) - $delay, 0) END AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |kept AS (
        |  SELECT e.user_id, e.event_type, (e.ms // $width) * $width AS ws
        |  FROM e JOIN l USING (wave)
        |  WHERE (e.ms // $width) * $width + $width > l.lwm),
        |v AS (SELECT user_id, ws, COUNT(*) AS v_n FROM kept
        |      WHERE event_type = 'view' GROUP BY user_id, ws),
        |c AS (SELECT user_id, ws, COUNT(*) AS c_n FROM kept
        |      WHERE event_type = 'click' GROUP BY user_id, ws)
        |SELECT v.user_id AS user_id, v.ws AS window_start_ms,
        |       v.v_n AS v_n, c.c_n AS c_n
        |FROM v ${if (outer) "LEFT JOIN" else "JOIN"} c
        |  ON v.user_id = c.user_id AND v.ws = c.ws
        |ORDER BY user_id, window_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family P drive: per-side kept rows
    * under the two-sided lagged watermark (window-based drop rule),
    * aggregated per (user, tumbling window), inner-joined.
    */
  def aggJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggJoinTwinWith(seed, aggJoinP(seed), outer = false)

  /** IN-SPARK batch twin of the Family Q drive (left join of the two
    * kept-rows aggregates).
    */
  def aggJoinOuterTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggJoinTwinWith(seed, aggJoinOuterP(seed), outer = true)

  private def aggJoinTwinWith(seed: Long, p: AggJoinP, outer: Boolean)
      : (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2),
                max(col("mc")).over(wPrev2)) - p.delay, lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .withColumn("ws", expr(s"(ms div ${p.width}L) * ${p.width}L"))
        .filter(col("ws") + p.width > col("lwm"))
      val v = kept.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ws")).agg(count(lit(1)).as("v_n"))
      val c = kept.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cuser"), col("ws").as("cws"))
        .agg(count(lit(1)).as("c_n"))
      v.join(c, col("user_id") === col("cuser") && col("ws") === col("cws"),
          if (outer) "left_outer" else "inner")
        .select(col("user_id"), col("ws").as("window_start_ms"),
          col("v_n"), col("c_n"))
        .orderBy(col("user_id"), col("window_start_ms"))
    }

  private[graft] case class UnionJoinP(nWaves: Int, mode: String,
      delayV: Long, delayS: Long, delayC: Long, window: Long)

  private[graft] def unionJoinP(seed: Long): UnionJoinP = {
    val rnd = new Random(seed * 0xD6E8FEB86659FD93L + 0x9E3779B97F4A7C15L)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val menu = if (mode == "shuffle") ShuffleDelaysMs else JitterDelaysMs
    UnionJoinP(nWaves, mode, menu(rnd.nextInt(3)), menu(rnd.nextInt(3)),
      menu(rnd.nextInt(3)),
      Seq(21600000L, 86400000L, 259200000L)(rnd.nextInt(3)))
  }

  /** Family R — a UNION of two independently-watermarked legs (views +
    * signups, DIFFERENT delays) feeding one side of a stream-stream
    * interval join against a third watermarked stream (clicks). New
    * surface vs families D (two equal-delay nodes at a join) and I
    * (dual-delay union into an agg): here the heterogeneous-delay min
    * policy gates JOIN state — the slow leg's delay holds the late
    * bound and both state evictions down for rows of BOTH legs and the
    * click side (pinned in WmProbeSpec: a late 0-delay-leg row survives
    * under the other leg's larger delay and still matches an old click
    * in state).
    *
    * Purity is family D's no-pair-lost/duplicated argument with the
    * union treated as ONE join input whose watermark is the min over
    * its leg nodes: the global lagged bound is `L(k) = max(0,
    * min(runmax_v(k-2) - dV, runmax_s(k-2) - dS, runmax_c(k-2) - dC))`
    * (0 while any leg is still empty), both join inputs drop rows at
    * `ms <= L` (inclusive), and the finalized output is the plain
    * interval join of the kept engagement rows against the kept clicks.
    * Sentinel triples ride all three legs and drop on the sink table.
    */
  private def genUnionJoin(seed: Long, cfg: DriveCfg): SGen = {
    val p = unionJoinP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val window = p.window
    val margin = p.delayV + p.delayS + p.delayC + 3 * window + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type").isin("view", "signup", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, "view", hi + margin, nWaves.toLong),
          (-1L, "signup", hi + margin, nWaves.toLong),
          (-1L, "click", hi + margin, nWaves.toLong),
          (-2L, "view", hi + 2 * margin, nWaves + 1L),
          (-2L, "signup", hi + 2 * margin, nWaves + 1L),
          (-2L, "click", hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "event_type", "ms", "wave"))
      driveFamily(spark, dir, "uj", seed, cfg, frame,
        "user_id LONG, event_type STRING, ms LONG", nWaves) { src =>
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("euser"),
            col("event_type").as("etype"),
            timestamp_millis(col("ms")).as("et"))
          .withWatermark("et", s"${p.delayV} milliseconds")
        val signups = src.filter(col("event_type") === "signup")
          .select(col("user_id").as("euser"),
            col("event_type").as("etype"),
            timestamp_millis(col("ms")).as("et"))
          .withWatermark("et", s"${p.delayS} milliseconds")
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id").as("cuser"),
            timestamp_millis(col("ms")).as("ct"))
          .withWatermark("ct", s"${p.delayC} milliseconds")
        views.unionByName(signups).join(clicks,
            expr(s"euser = cuser AND ct >= et AND " +
              s"ct <= et + interval $window millisecond"), "inner")
          .select(col("euser").as("user_id"), col("etype"),
            unix_millis(col("et")).as("ems"),
            unix_millis(col("ct")).as("click_ms"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("etype"), col("ems"), col("click_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id, event_type", "event_type IN ('view', 'signup', 'click')")},
        |e AS (SELECT user_id, event_type, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |bw AS (SELECT wave,
        |         MAX(CASE WHEN event_type = 'view' THEN ms END) AS mv,
        |         MAX(CASE WHEN event_type = 'signup' THEN ms END) AS msg,
        |         MAX(CASE WHEN event_type = 'click' THEN ms END) AS mc
        |       FROM e GROUP BY wave),
        |l AS (SELECT wave,
        |        CASE WHEN MAX(mv) OVER lag2 IS NULL
        |               OR MAX(msg) OVER lag2 IS NULL
        |               OR MAX(mc) OVER lag2 IS NULL THEN 0
        |             ELSE GREATEST(LEAST(MAX(mv) OVER lag2 - ${p.delayV},
        |               MAX(msg) OVER lag2 - ${p.delayS},
        |               MAX(mc) OVER lag2 - ${p.delayC}), 0) END AS lwm
        |      FROM bw
        |      WINDOW lag2 AS (ORDER BY wave
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)),
        |kept AS (
        |  SELECT e.user_id, e.event_type, e.ms
        |  FROM e JOIN l USING (wave) WHERE e.ms > l.lwm)
        |SELECT g.user_id AS user_id, g.event_type AS etype,
        |       g.ms AS ems, c.ms AS click_ms
        |FROM (SELECT * FROM kept WHERE event_type IN ('view', 'signup')) g
        |JOIN (SELECT user_id, ms FROM kept WHERE event_type = 'click') c
        |  ON g.user_id = c.user_id AND c.ms >= g.ms
        |     AND c.ms <= g.ms + $window
        |ORDER BY user_id, etype, ems, click_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family R drive. */
  def unionJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = unionJoinP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type").isin("view", "signup", "click"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(
        max(when(col("event_type") === "view", col("ms"))).as("mv"),
        max(when(col("event_type") === "signup", col("ms"))).as("msg"),
        max(when(col("event_type") === "click", col("ms"))).as("mc"))
        .select(col("wave"),
          when(max(col("mv")).over(wPrev2).isNull ||
            max(col("msg")).over(wPrev2).isNull ||
            max(col("mc")).over(wPrev2).isNull, lit(0L))
            .otherwise(greatest(
              least(max(col("mv")).over(wPrev2) - p.delayV,
                max(col("msg")).over(wPrev2) - p.delayS,
                max(col("mc")).over(wPrev2) - p.delayC), lit(0L)))
            .as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
      val g = kept.filter(col("event_type").isin("view", "signup"))
        .select(col("user_id"), col("event_type").as("etype"),
          col("ms").as("ems"))
      val c = kept.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ms").as("click_ms"))
      g.join(c, col("user_id") === col("cuser") &&
          col("click_ms") >= col("ems") &&
          col("click_ms") <= col("ems") + p.window, "inner")
        .select(col("user_id"), col("etype"), col("ems"), col("click_ms"))
        .orderBy(col("user_id"), col("etype"), col("ems"), col("click_ms"))
    }

  private[graft] case class TwsAggP(nWaves: Int, mode: String, delay: Long,
      bucket: Long, k: Int) {
    def aggW: Long = k * bucket
  }

  private[graft] def twsAggP(seed: Long): TwsAggP = {
    val rnd = new Random(seed * 0xA0761D6478BD642FL + 0xE7037ED1A0B428DBL)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    val delay = if (mode == "shuffle") ShuffleDelaysMs(rnd.nextInt(3))
      else JitterDelaysMs(rnd.nextInt(3))
    TwsAggP(nWaves, mode, delay,
      Seq(3600000L, 21600000L)(rnd.nextInt(2)),
      Seq(4, 6, 24)(rnd.nextInt(3)))
  }

  /** Family S — transformWithState admission feeding a windowed
    * aggregation (the remaining tws x downstream pair after L's
    * tws -> join): first-view-per-(user, bucket) admission
    * ([[graft.streaming.TwsAdmitJob]], the admitted row's own time
    * re-declared as the output event time) rolled up into an ALIGNED
    * coarse tumbling window (aggW = k * bucket) counting admissions.
    *
    * Purity, composing family L's admission rule with family J's
    * no-re-feed shape:
    *
    *  - ADMISSION (family L): the admitted row for (user, bucket) is
    *    min event time within the earliest kept-touching batch — the
    *    (wave, ms)-ordered ROW_NUMBER replay; tws drops rows at
    *    ms <= L (row-based, inclusive).
    *  - NO DOWNSTREAM DROP: an admitted row emits in its arrival batch
    *    with ms > L, and its window end exceeds ms, so the agg's
    *    window-based filter (`end <= L` drops) can never reject it —
    *    the row-based tws bound is strictly tighter.
    *  - NO RE-FEED: a coarse window W2 evicted at batch M has
    *    `W2.end <= E(M)`; any later row with ms inside W2 has
    *    `ms < W2.end <= E(M) <= L(M')` for every later batch M' and is
    *    tws-dropped before it could re-open the window.
    *
    * The finalized output is therefore the plain GROUP BY of the
    * admitted set at aggW. Single watermark node (views only) — the
    * lagged bound is the one-sided [[lateWmCtes]] replay.
    */
  private def genTwsAgg(seed: Long, cfg: DriveCfg): SGen = {
    val p = twsAggP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val bucket = p.bucket; val aggW = p.aggW
    val margin = delay + 3 * aggW + 3 * bucket + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"),
            expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, nWaves.toLong),
          (-2L, hi + 2 * margin, nWaves + 1L))
          .toDF("user_id", "ms", "wave"))
      WaveHarness.withRocksDb(spark) {
        driveFamily(spark, dir, "twsagg", seed, cfg, frame,
          "user_id LONG, ms LONG", nWaves) {
          src =>
          graft.streaming.TwsAdmitJob.admitFirst(
            src.select(col("user_id").as("key"),
              timestamp_millis(col("ms")).as("eventTs"),
              lit(0.0).as("value"))
              .as[graft.streaming.KeyedEvent],
            bucket, s"$delay milliseconds").toDF()
            .groupBy(org.apache.spark.sql.functions
              .window(col("viewTs"), s"$aggW milliseconds"))
            .agg(count(lit(1)).as("n"),
              sum(col("key")).cast("long").as("sum_uid"))
            .select(unix_millis(col("window.start")).as("window_start_ms"),
              col("n"), col("sum_uid"))
        }
      }
        .filter(col("window_start_ms") <= hi)
        .orderBy(col("window_start_ms"))
    }

    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id", "event_type = 'view'")},
        |e AS (SELECT user_id, ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lateWmCtes(delay)},
        |kept AS (
        |  SELECT e.user_id, e.ms, e.wave
        |  FROM e JOIN l USING (wave) WHERE e.ms > l.lwm),
        |adm AS (
        |  SELECT user_id, ms,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, ms // $bucket
        |           ORDER BY wave, ms) AS rn
        |  FROM kept)
        |SELECT (ms // $aggW) * $aggW AS window_start_ms,
        |       COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM adm WHERE rn = 1
        |GROUP BY window_start_ms
        |ORDER BY window_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family S drive: kept views under the
    * one-sided lagged watermark, (wave, ms)-ordered first-admission per
    * (user, bucket), grouped at the aligned coarse window.
    */
  def twsAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = twsAggP(seed)
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(
        _.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"),
            expr("us div 1000").as("ms"))).rows
        .drop("event_id")
      val wPrev2 = Window.orderBy(col("wave"))
        .rowsBetween(Window.unboundedPreceding, -2)
      val l = e.groupBy(col("wave")).agg(max(col("ms")).as("mx"))
        .select(col("wave"),
          coalesce(greatest(max(col("mx")).over(wPrev2) - p.delay,
            lit(0L)), lit(0L)).as("lwm"))
      val kept = e.join(broadcast(l), Seq("wave"))
        .filter(col("ms") > col("lwm"))
      val wAdm = Window
        .partitionBy(col("user_id"), expr(s"ms div ${p.bucket}L"))
        .orderBy(col("wave"), col("ms"))
      kept.withColumn("rn", row_number().over(wAdm))
        .filter(col("rn") === 1)
        .groupBy(expr(s"(ms div ${p.aggW}L) * ${p.aggW}L")
          .as("window_start_ms"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).cast("long").as("sum_uid"))
        .orderBy(col("window_start_ms"))
    }

  private[graft] case class SessRollupP(nWaves: Int, mode: String,
      delay: Long, gap: Long, w: Long)

  private[graft] def sessRollupP(seed: Long): SessRollupP = {
    val s = sessionP(seed)
    // independent draw for the rollup width (sessionP consumed its RNG);
    // the menu sits at/above the gap menu so one tumble usually holds
    // several sessions AND a key's session stream splits across tumbles
    val rnd = new Random(seed * 0xA24BAED4963EE407L + 0x71B1A19B907D6E33L)
    SessRollupP(s.nWaves, s.mode, s.delay, s.gap,
      Seq(4L * 3600000L, 24L * 3600000L, 72L * 3600000L)(rnd.nextInt(3)))
  }

  /** Family V — native `session_window` aggregation FEEDING a tumbling
    * `window(window_time(...))` rollup: the merging session store's
    * output as INPUT to a second stateful aggregation (family T closed
    * dedup->session; this is the session agg upstream direction —
    * probed plannable on Spark 4.1 before building, SURVEY §8.3.5).
    * Each finalized session lands in the tumble holding its event-time
    * column `window_time(session_window) = end - 1µs`, so a session
    * ending EXACTLY on a tumble boundary belongs to the PREVIOUS tumble
    * (w_start = ((end_ms - 1) div W) * W — pinned in WmProbeSpec).
    *
    * The composition is TOTAL — finalized rollup = plain GROUP BY over
    * the finalized sessions — because no emitted session can be late
    * downstream: a session first emits at batch `est` where
    * `end <= runmax(est-1) - delay`, FIRST-ness gives
    * `end > runmax(est-2) - delay`, the downstream late filter lags one
    * batch (`lag2`, probed: a session emitted while the CURRENT
    * watermark already passed its tumble end still lands — WmProbeSpec),
    * and `w2_end >= end` always. The same chain shows no tumble can
    * finalize before its last session arrives. The oracle is therefore
    * family C's staged re-opening replay (sessions may still overlap
    * per key!) closed under the rollup GROUP BY — no per-batch
    * bookkeeping for the second operator.
    */
  private def genSessRollup(seed: Long, cfg: DriveCfg): SGen = {
    val p = sessRollupP(seed)
    val nWaves = p.nWaves; val mode = p.mode; val delay = p.delay
    val gap = p.gap; val w = p.w
    val margin = delay + 3 * gap + 3 * w + 10000000L

    val build = (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val Carved(ev, hi) = carve(spark, dir, seed, mode, nWaves)(
        _.select(col("event_id"), col("user_id").as("key"),
          expr("us div 1000").as("ms")))
      val frame = ev.drop("event_id")
        .unionByName(Seq(
          (-1L, hi + margin, nWaves.toLong),
          (-2L, hi + 2 * margin, nWaves + 1L))
          .toDF("key", "ms", "wave"))
      driveFamily(spark, dir, "srol", seed, cfg, frame,
        "key LONG, ms LONG", nWaves) { src =>
        src.select(col("key"), timestamp_millis(col("ms")).as("t"))
          .withWatermark("t", s"$delay milliseconds")
          .groupBy(session_window(col("t"), s"$gap milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(window(window_time(col("session_window")),
            s"$w milliseconds"), col("key"))
          .agg(sum(col("n_events")).as("n_events_w"),
            count(lit(1)).as("n_sessions"))
          .select(col("key").as("user_id"),
            unix_millis(col("window.start")).as("w_start_ms"),
            col("n_events_w"), col("n_sessions"))
      }
        .filter(col("user_id") >= 0L)
        .orderBy(col("user_id"), col("w_start_ms"))
    }

    // family C's generated replay stage, value-less: stage k
    // re-sessionizes open rows and emits components whose end <= E(k),
    // guarded on the wave actually having rows
    def stage(k: Long, prev: String): String = {
      val ek = s"(SELECT COALESCE(GREATEST(MAX(mx) - $delay, 0), 0)" +
        s" FROM b WHERE wave < $k)"
      val hasBatch = s"(SELECT COUNT(*) FROM b WHERE wave = $k) > 0"
      s"""s$k AS (
        |  SELECT user_id, ms, wave,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN $k ELSE est END AS est,
        |         CASE WHEN open AND $hasBatch AND comp_end <= $ek
        |              THEN sid ELSE esid END AS esid
        |  FROM (
        |    SELECT *, MAX(ms) OVER (PARTITION BY user_id, open, sid)
        |              + $gap AS comp_end
        |    FROM (
        |      SELECT *, SUM(ns) OVER (PARTITION BY user_id, open ORDER BY ms
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM (
        |        SELECT *, CASE WHEN NOT open THEN NULL
        |          WHEN lag(ms) OVER (PARTITION BY user_id, open ORDER BY ms)
        |            IS NULL THEN 1
        |          WHEN ms - lag(ms) OVER (PARTITION BY user_id, open
        |            ORDER BY ms) > $gap THEN 1 ELSE 0 END AS ns
        |        FROM (SELECT user_id, ms, wave, est, esid,
        |                (est IS NULL AND wave <= $k) AS open
        |              FROM $prev)))))""".stripMargin
    }
    val nStages = nWaves + 2
    val stages = (0L until nStages)
      .map(k => stage(k, if (k == 0) "s_init" else s"s${k - 1}"))
      .mkString(",\n")
    val sql =
      s"""WITH ${rawCtes(mode, nWaves, "user_id")},
        |e AS (SELECT user_id, ms, ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |b0 AS (SELECT wave, MAX(ms) AS mx FROM e GROUP BY wave),
        |hb AS (SELECT MAX(ms) AS hi FROM e),
        |b AS (SELECT * FROM b0
        |      UNION ALL SELECT $nWaves, hi + $margin FROM hb
        |      UNION ALL SELECT ${nWaves + 1}, hi + 2 * $margin FROM hb),
        |l AS (SELECT wave,
        |        COALESCE(GREATEST(MAX(mx) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |          - $delay, 0), 0) AS lwm
        |      FROM b),
        |kept AS (
        |  SELECT e.user_id, e.ms, e.wave FROM e JOIN l USING (wave)
        |  WHERE e.ms + $gap > l.lwm),
        |s_init AS (
        |  SELECT user_id, ms, wave,
        |         CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS esid
        |  FROM kept),
        |$stages,
        |sess AS (
        |  SELECT user_id, MAX(ms) + $gap AS end_ms, COUNT(*) AS n_events
        |  FROM s${nStages - 1} GROUP BY user_id, est, esid)
        |SELECT user_id, ((end_ms - 1) // $w) * $w AS w_start_ms,
        |       CAST(SUM(n_events) AS BIGINT) AS n_events_w,
        |       CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM sess GROUP BY user_id, ((end_ms - 1) // $w) * $w
        |ORDER BY user_id, w_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family V drive: family C's staged
    * session replay (value-less — the rollup only counts), closed under
    * the tumble GROUP BY on `((end_ms - 1) DIV W) * W`. sessionTwin
    * itself stays untouched (family C's proven rendering); the loop is
    * cloned minus the value column because V's margin differs (it must
    * clear 3 rollup widths too).
    */
  def sessRollupTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = sessRollupP(seed)
      val margin = p.delay + 3 * p.gap + 3 * p.w + 10000000L
      val base = keptBase(spark, dir, p.mode, seed, p.nWaves, p.delay,
        keyed = true)
      val realMx: Map[Long, Long] = base.groupBy(col("wave"))
        .agg(max(col("ms")).as("mx")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hi = realMx.values.max
      val mxByWave = realMx +
        (p.nWaves.toLong -> (hi + margin)) +
        ((p.nWaves + 1).toLong -> (hi + 2 * margin))
      def ewm(k: Long): Long = {
        val prior = mxByWave.filter(_._1 < k).values
        if (prior.isEmpty) 0L else math.max(0L, prior.max - p.delay)
      }
      var df = base.filter(col("ms") + p.gap > col("lwm"))
        .select(col("key"), col("ms"), col("wave"))
        .withColumn("est", lit(null).cast("long"))
        .withColumn("esid", lit(null).cast("long"))
      (0L until (p.nWaves + 2L)).foreach { k =>
        val hasBatch = mxByWave.contains(k)
        val wOpen = Window.partitionBy(col("key"), col("open"))
          .orderBy(col("ms"))
        val wCum = wOpen.rowsBetween(Window.unboundedPreceding, 0)
        val wComp = Window.partitionBy(col("key"), col("open"), col("sid"))
        df = df
          .withColumn("open", col("est").isNull && col("wave") <= k)
          .withColumn("ns", when(!col("open"), lit(null))
            .when(lag(col("ms"), 1).over(wOpen).isNull, 1)
            .when(col("ms") - lag(col("ms"), 1).over(wOpen) > p.gap, 1)
            .otherwise(0))
          .withColumn("sid", sum(col("ns")).over(wCum))
          .withColumn("comp_end", max(col("ms")).over(wComp) + p.gap)
          .withColumn("emit",
            col("open") && lit(hasBatch) && col("comp_end") <= ewm(k))
          .withColumn("est", when(col("emit"), k).otherwise(col("est")))
          .withColumn("esid", when(col("emit"), col("sid"))
            .otherwise(col("esid")))
          .drop("open", "ns", "sid", "comp_end", "emit")
      }
      df.groupBy(col("key"), col("est"), col("esid"))
        .agg((max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_events"))
        .groupBy(col("key"),
          expr(s"((end_ms - 1) DIV ${p.w}L) * ${p.w}L").as("w_start_ms"))
        .agg(sum(col("n_events")).as("n_events_w"),
          count(lit(1)).as("n_sessions"))
        .select(col("key").as("user_id"), col("w_start_ms"),
          col("n_events_w"), col("n_sessions"))
        .orderBy(col("user_id"), col("w_start_ms"))
    }

  /** Deterministic per-seed rendering (same contract as
    * [[QueryFuzz.generate]]); `cfg` only varies HOW the seed is driven —
    * the oracle SQL is cfg-independent by construction.
    */
  def generate(seed: Long, cfg: DriveCfg = DriveCfg()): SGen =
    if (seed >= SessRollupSeedFloor) genSessRollup(seed, cfg)
    else if (seed >= JoinDedupSeedFloor) genJoinDedup(seed, cfg)
    else if (seed >= DedupSessSeedFloor) genDedupSess(seed, cfg)
    else if (seed >= TwsAggSeedFloor) genTwsAgg(seed, cfg)
    else if (seed >= UnionJoinSeedFloor) genUnionJoin(seed, cfg)
    else if (seed >= AggJoinOuterSeedFloor) genAggJoinOuter(seed, cfg)
    // the [20000, 40000) gap belongs to QueryFuzz: silently routing it
    // to family P would drive a batch-owned seed under a colliding
    // fuzz_q name, so it is a hard error here
    else if (seed >= BatchOwnedFloor) throw new IllegalArgumentException(
      s"seed $seed is in the QueryFuzz-owned batch range " +
        s"[$BatchOwnedFloor, $AggJoinOuterSeedFloor); streaming seeds " +
        "are below 20000 or at 40000+")
    else if (seed >= AggJoinSeedFloor) genAggJoin(seed, cfg)
    else if (seed >= DedupJoinSeedFloor) genDedupJoin(seed, cfg)
    else if (seed >= JoinJoinSeedFloor) genJoinJoin(seed, cfg)
    else if (seed >= DedupAggSeedFloor) genDedupAgg(seed, cfg)
    else if (seed >= TwsJoinSeedFloor) genTwsJoin(seed, cfg)
    else if (seed >= Chain3SeedFloor) genChain3(seed, cfg)
    else if (seed >= AggAggSeedFloor) genAggAgg(seed, cfg)
    else if (seed >= UnionSeedFloor) genUnion(seed, cfg)
    else if (seed >= ChainSeedFloor) genChain(seed, cfg)
    else if (seed >= JoinExtSeedFloor) genJoinExt(seed, cfg)
    else if (seed >= DedupWmSeedFloor) genDedupWm(seed, cfg)
    else if (seed >= DedupSeedFloor) genDedup(seed, cfg)
    else if (seed >= JoinSeedFloor) genJoin(seed, cfg)
    else if (seed >= SessionSeedFloor) genSession(seed, cfg)
    else if (seed >= QuotaSeedFloor) genQuota(seed, cfg)
    else genAgg(seed, cfg)

  /** THE seed→batch-twin dispatch, mirroring [[generate]] exactly.
    * Formerly hand-copied in four places (StreamFuzzSpec,
    * RocksDbSweepSpec, FuzzSeedScan, JoinJoinProbe), which drifted —
    * JoinJoinProbe's final else mis-dispatched sub-JoinJoin seeds. Every
    * tool/spec resolves twins through here now.
    */
  def twinFor(seed: Long): (SparkSession, String) => DataFrame =
    if (seed >= SessRollupSeedFloor) sessRollupTwin(seed)
    else if (seed >= JoinDedupSeedFloor) joinDedupTwin(seed)
    else if (seed >= DedupSessSeedFloor) dedupSessTwin(seed)
    else if (seed >= TwsAggSeedFloor) twsAggTwin(seed)
    else if (seed >= UnionJoinSeedFloor) unionJoinTwin(seed)
    else if (seed >= AggJoinOuterSeedFloor) aggJoinOuterTwin(seed)
    else if (seed >= BatchOwnedFloor) throw new IllegalArgumentException(
      s"seed $seed is QueryFuzz-owned; no streaming twin exists")
    else if (seed >= AggJoinSeedFloor) aggJoinTwin(seed)
    else if (seed >= DedupJoinSeedFloor) dedupJoinTwin(seed)
    else if (seed >= JoinJoinSeedFloor) joinJoinTwin(seed)
    else if (seed >= DedupAggSeedFloor) dedupAggTwin(seed)
    else if (seed >= TwsJoinSeedFloor) twsJoinTwin(seed)
    else if (seed >= Chain3SeedFloor) chain3Twin(seed)
    else if (seed >= AggAggSeedFloor) aggAggTwin(seed)
    else if (seed >= UnionSeedFloor) unionTwin(seed)
    else if (seed >= ChainSeedFloor) chainTwin(seed)
    else if (seed >= JoinExtSeedFloor) joinExtTwin(seed)
    else if (seed >= DedupWmSeedFloor) dedupWmTwin(seed)
    else if (seed >= DedupSeedFloor) dedupTwin(seed)
    else if (seed >= JoinSeedFloor) joinTwin(seed)
    else if (seed >= SessionSeedFloor) sessionTwin(seed)
    else if (seed >= QuotaSeedFloor) quotaTwin(seed)
    else aggTwin(seed)

  /** The family params for a seed (scanner/probe labeling), same
    * dispatch as [[generate]]/[[twinFor]].
    */
  def paramsFor(seed: Long): Product =
    if (seed >= SessRollupSeedFloor) sessRollupP(seed)
    else if (seed >= JoinDedupSeedFloor) joinDedupP(seed)
    else if (seed >= DedupSessSeedFloor) dedupSessP(seed)
    else if (seed >= TwsAggSeedFloor) twsAggP(seed)
    else if (seed >= UnionJoinSeedFloor) unionJoinP(seed)
    else if (seed >= AggJoinOuterSeedFloor) aggJoinOuterP(seed)
    else if (seed >= BatchOwnedFloor) throw new IllegalArgumentException(
      s"seed $seed is QueryFuzz-owned; no streaming params exist")
    else if (seed >= AggJoinSeedFloor) aggJoinP(seed)
    else if (seed >= DedupJoinSeedFloor) dedupJoinP(seed)
    else if (seed >= JoinJoinSeedFloor) joinJoinP(seed)
    else if (seed >= DedupAggSeedFloor) dedupAggP(seed)
    else if (seed >= TwsJoinSeedFloor) twsJoinP(seed)
    else if (seed >= Chain3SeedFloor) chain3P(seed)
    else if (seed >= AggAggSeedFloor) aggAggP(seed)
    else if (seed >= UnionSeedFloor) unionP(seed)
    else if (seed >= ChainSeedFloor) chainP(seed)
    else if (seed >= JoinExtSeedFloor) joinPExt(seed)
    else if (seed >= DedupWmSeedFloor) dedupWmP(seed)
    else if (seed >= DedupSeedFloor) dedupP(seed)
    else if (seed >= JoinSeedFloor) joinP(seed)
    else if (seed >= SessionSeedFloor) sessionP(seed)
    else if (seed >= QuotaSeedFloor) quotaP(seed)
    else aggP(seed)

  /** Fixed seeds registered in SparkEntry for the driver's DuckDB
    * differential check. Chosen to cover both carvings and several
    * delay/geometry combinations per family; StreamFuzzSpec sweeps the
    * same seeds in-suite at sf0.001.
    */
  val registeredSeeds: Seq[Long] =
    Seq(12000L, 12001L, 12002L, 12003L, 12500L, 12501L, 12502L, 12503L,
      13000L, 13001L, 13002L, 13003L, 13500L, 13501L, 13502L, 13503L,
      14000L, 14001L, 14002L, 14003L, 14500L, 14501L, 14502L, 14503L,
      15000L, 15001L, 15002L, 15003L, 15500L, 15501L, 15502L, 15509L,
      16000L, 16004L, 16005L, 16010L, 16500L, 16501L, 16502L, 16503L,
      17001L, 17004L, 17005L, 17007L,
      17502L, 17506L, 17510L, 17515L,
      18003L, 18005L, 18007L, 18009L,
      18503L, 18504L, 18508L, 18515L,
      19000L, 19002L, 19004L, 19013L,
      19500L, 19502L, 19508L, 19514L,
      40000L, 40004L, 40006L, 40007L,
      40500L, 40503L, 40507L, 40513L,
      41000L, 41003L, 41007L, 41013L,
      41500L, 41502L, 41507L, 41515L,
      42001L, 42004L, 42010L, 42012L,
      // family V (session_window -> tumbling rollup): both carvings,
      // delays 1h/24h/72h, gap 1h/4h/12h, rollup width 4h/24h/72h
      // including w < gap (42505: every session its own tumble)
      42500L, 42503L, 42505L, 42509L)

  /** One seed per family re-driven with a mid-stream kill + checkpoint
    * resume (`fuzz_r*`): the un-awaited wave at the crash point replays
    * through the file sink's exactly-once commit, so the finalized output
    * must STILL equal the plain rendering's DuckDB oracle — the
    * checkpointed-recovery contract of the reference's foreachBatch
    * pipeline (weather_processor.py:144-151) under differential test.
    */
  val restartSeeds: Seq[Long] =
    Seq(12000L, 12500L, 13001L, 13500L, 14001L, 14501L, 15001L, 15501L,
      16005L, 16501L, 17001L, 17506L, 18009L, 18504L, 19002L, 19502L,
      40006L, 40503L, 41003L, 41502L, 42001L, 42503L)

  /** One seed per family re-driven with 3 salted files per wave and a
    * non-default state-partition count (`fuzz_m*`): batches become
    * multi-file and keyed state spreads over several store partitions;
    * output must be invariant — same oracle as the plain rendering.
    */
  val multiSeeds: Seq[Long] =
    Seq(12001L, 12502L, 13002L, 13501L, 14002L, 14502L, 15002L, 15502L,
      16010L, 16502L, 17005L, 17502L, 18005L, 18503L, 19013L, 19514L,
      40004L, 40507L, 41013L, 41507L, 42012L, 42505L)

  private val RestartCfg = DriveCfg(tag = "r", restart = true)
  private val MultiCfg =
    DriveCfg(tag = "m", filesPerWave = 3, statePartitions = Some(2))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registeredSeeds.map(s => s"fuzz_q$s" -> generate(s).build).toMap ++
      restartSeeds.map(s => s"fuzz_r$s" -> generate(s, RestartCfg).build) ++
      multiSeeds.map(s => s"fuzz_m$s" -> generate(s, MultiCfg).build)

  def oracles: Map[String, String] =
    registeredSeeds.map(s => s"fuzz_q$s" -> generate(s).sql).toMap ++
      restartSeeds.map(s => s"fuzz_r$s" -> generate(s).sql) ++
      multiSeeds.map(s => s"fuzz_m$s" -> generate(s).sql)

  /** Every drive name the fuzz layer registers in SparkEntry. */
  def queryNames: Set[String] =
    (registeredSeeds.map(s => s"fuzz_q$s") ++
      restartSeeds.map(s => s"fuzz_r$s") ++
      multiSeeds.map(s => s"fuzz_m$s")).toSet
}
