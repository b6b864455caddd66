package graft.fuzz

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
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

  /** The drive-side staging of a seed's frame: drive it plus its two
    * sentinel waves through the wave harness under `cfg`. The drive is
    * named `sfz_<family>_<tag><seed>`, every cfg of one seed shares one
    * staging, and the staged schema is the frame's minus `wave`.
    * `stateParts` is the family's default state width.
    */
  private def driveFamily(spark: SparkSession, dir: String, family: String,
      seed: Long, cfg: DriveCfg, frame: DataFrame, nWaves: Int,
      stateParts: Int = 1)(transform: DataFrame => DataFrame): DataFrame =
    WaveHarness.driveWaves(spark, frame,
      frame.schema.fields.filter(_.name != "wave")
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", "),
      nWaves + 2L, s"sfz_${family}_${cfg.tag}$seed",
      statePartitions = cfg.statePartitions.getOrElse(stateParts),
      filesPerWave = cfg.filesPerWave,
      restartAfter = cfg.killAfter(nWaves),
      stageKey = Some(WaveHarness.stageKeyFor(s"sfz_${family}_$seed", dir)))(
      transform)

  /** The head every family's param draw opens with: wave count, carving,
    * and a delay from that carving's menu.
    */
  private def draws(seed: Long, mul: Long = 0x9E3779B97F4A7C15L,
      add: Long = 0x2545F4914F6CDD1DL): (Random, Int, String, Long) = {
    val rnd = new Random(seed * mul + add)
    val nWaves = 3 + rnd.nextInt(3)
    val mode = if (rnd.nextBoolean()) "shuffle" else "jitter"
    (rnd, nWaves, mode, delayMenu(mode)(rnd.nextInt(3)))
  }

  private def delayMenu(mode: String): Seq[Long] =
    if (mode == "shuffle") ShuffleDelaysMs else JitterDelaysMs

  /** The independent second draw of a composite whose first draw is a
    * primitive family's params (which consumed that RNG).
    */
  private def draw2(seed: Long): Random =
    new Random(seed * 0xD1B54A32D192ED03L + 0x8CB92BA72F3D8DD7L)

  /** The carving projections the families share: `keyed` rows (`key`,
    * `ms`, optionally the null-safe `value`), `tagged` rows (`event_type`,
    * `ms`, optionally the raw `value`) and `typed` rows (`user_id`,
    * `event_type`, `ms`) of the listed event types.
    */
  private def keyed(value: Boolean)(ev: DataFrame): DataFrame =
    ev.select(Seq(col("event_id"), col("user_id").as("key"),
      expr("us div 1000").as("ms")) ++
      (if (value) Seq(coalesce(col("value"), lit(0.0)).as("value")) else Nil): _*)

  private def tagged(value: Boolean)(ev: DataFrame): DataFrame =
    ev.select(Seq(col("event_id"), col("event_type"),
      expr("us div 1000").as("ms")) ++
      (if (value) Seq(col("value")) else Nil): _*)

  private def typed(types: String*)(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin(types: _*))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("us div 1000").as("ms"))

  /** Append the two sentinel waves to a carved `frame` (Spark; the DuckDB
    * replays that need them add them to their batch sequence): wave
    * `nWaves` at `hi + margin` and `nWaves + 1` at `hi + 2 * margin`, one
    * row per event type in `types` (with none, one row whose
    * `event_type`, if any, is `\u0000s1`/`\u0000s2`), keys -1/-2 and
    * value 0. Their event times push the watermark past every real
    * window, and the sink drops them.
    */
  private def withSentinels(spark: SparkSession, frame: DataFrame, hi: Long,
      margin: Long, nWaves: Int, types: Seq[String]): DataFrame = {
    val rows = for (k <- 1 to 2;
        ty <- if (types.isEmpty) Seq(s"\u0000s$k") else types)
      yield Row.fromSeq(frame.schema.fieldNames.toSeq.map {
        case "key" | "user_id" => -k.toLong
        case "event_type" => ty
        case "ms" => hi + k * margin
        case "value" => 0.0
        case "wave" => nWaves + k - 1L
      })
    frame.unionByName(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), frame.schema))
  }

  /** One late-filter watermark node: the event type it watermarks (""
    * for every row) and its delay.
    */
  private type Node = (String, Long)

  /** The lagged late-filter watermark, DuckDB half (the Spark half is
    * [[lagTwin]]): `bw` holds each wave's max `ms` per node, and `l` the
    * watermark each batch's late filter applied — `L(k) = max(0, min over
    * nodes of (running max through batch k-2 - delay))`, the min taken
    * AFTER each node subtracts its own delay (the
    * `multipleWatermarkPolicy=min` value; `max(0, min(a-dv, b-dc)) =
    * min(max(0, a-dv), max(0, b-dc))`, so clamp placement is
    * immaterial). A node with no rows yet pins L to the initial 0; with
    * one node this is `E(k-1)` verbatim.
    */
  private def lagCtes(nodes: Seq[Node]): String = {
    val maxes = nodes.zipWithIndex.map { case ((ty, _), i) =>
      (if (ty.isEmpty) "MAX(ms)"
       else s"MAX(CASE WHEN event_type = '$ty' THEN ms END)") + s" AS m$i" }
    val lagged = nodes.indices.map(i => s"MAX(m$i) OVER lag2")
    val bounds = nodes.zip(lagged).map { case ((_, d), m) => s"$m - $d" }
    s"""bw AS (SELECT wave, ${maxes.mkString(", ")} FROM e GROUP BY wave),
      |l AS (SELECT wave,
      |        CASE WHEN ${lagged.map(_ + " IS NULL").mkString(" OR ")} THEN 0
      |             ELSE GREATEST(${bounds.mkString("LEAST(", ", ", ")")}, 0)
      |        END AS lwm
      |      FROM bw
      |      WINDOW lag2 AS (ORDER BY wave
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING))""".stripMargin
  }

  /** The lagged late-filter watermark, Spark half (see [[lagCtes]]):
    * `e` joined to its wave's `lwm`. The watermark table is |waves| rows,
    * so its single-partition ordering window is trivial and the join
    * back is a broadcast.
    */
  private def lagTwin(e: DataFrame, nodes: Seq[Node]): DataFrame = {
    val w = Window.orderBy(col("wave"))
      .rowsBetween(Window.unboundedPreceding, -2)
    val maxes = nodes.zipWithIndex.map { case ((ty, _), i) =>
      max(if (ty.isEmpty) col("ms")
          else when(col("event_type") === ty, col("ms"))).as(s"m$i") }
    val lagged = nodes.indices.map(i => max(col(s"m$i")).over(w))
    val bounds = nodes.zip(lagged).map { case ((_, d), m) => m - d }
    val l = e.groupBy(col("wave")).agg(maxes.head, maxes.tail: _*)
      .select(col("wave"), when(lagged.map(_.isNull).reduce(_ || _), lit(0L))
        .otherwise(greatest(
          if (bounds.size == 1) bounds.head else least(bounds: _*), lit(0L)))
        .as("lwm"))
    e.join(broadcast(l), Seq("wave"))
  }

  /** A stage input: the seed's carving of the events fixture, written
    * once per language and shared by every stage that reads it.
    *
    *  - `project` (Spark) and `cols`/`where` (DuckDB) pick the rows and
    *    columns; the carving always reads the raw `ms`;
    *  - `nodes` are the watermark nodes the lagged replay tracks;
    *  - `t` (DuckDB, Spark) replaces `ms` after carving when the
    *    watermarked column is a floored time — per-wave maxes are then
    *    over the floored times, exact because floor is monotone.
    *
    * The drive gets the carving plus its sentinel waves (one per node
    * type); DuckDB gets `x`, and the twin a frame, holding the carved
    * rows (`key` named `user_id`), the replaced `ms` and each row's
    * `lwm`.
    */
  private case class Input(seed: Long, nWaves: Int, mode: String,
      project: DataFrame => DataFrame, cols: String, nodes: Seq[Node],
      where: String = "", t: (String, Column) = ("ms", col("ms"))) {
    def carved(spark: SparkSession, dir: String): Carved =
      carve(spark, dir, seed, mode, nWaves)(project)

    def ctes: String =
      s"""WITH ${rawCtes(mode, nWaves, cols, where)},
        |e AS (SELECT $cols, ${t._1} AS ms,
        |        ${waveSql(mode, seed, nWaves)} AS wave FROM raw),
        |${lagCtes(nodes)},
        |x AS (SELECT * FROM e JOIN l USING (wave))""".stripMargin

    def lagged(spark: SparkSession, dir: String): DataFrame =
      lagTwin(carved(spark, dir).rows.drop("event_id")
        .withColumnRenamed("key", "user_id").withColumn("ms", t._2), nodes)

    /** The sink table of the drive, and the carving's max ms. */
    def drive(spark: SparkSession, dir: String, family: String,
        cfg: DriveCfg, margin: Long, stateParts: Int = 1)(
        transform: DataFrame => DataFrame): (DataFrame, Long) = {
      val Carved(ev, hi) = carved(spark, dir)
      val frame = withSentinels(spark, ev.drop("event_id"), hi, margin,
        nWaves, nodes.map(_._1).filter(_.nonEmpty))
      (driveFamily(spark, dir, family, seed, cfg, frame, nWaves,
        stateParts)(transform), hi)
    }
  }

  /** A primitive stage: one operator written three times, each by hand
    * and separately — never one fragment derived from another, because
    * the twin and the oracle are the references the drive is checked
    * against:
    *
    *  - `stream`: the streaming operator on its upstream;
    *  - `sql`: a DuckDB SELECT over the upstream relation;
    *  - `twin`: the batch twin's DataFrame operator on its upstream.
    *
    * A source stage's upstream is the [[Input]] (the stream source, `x`,
    * the lagged twin frame) and it applies its own late-drop rule
    * against `lwm`; a chained stage reads the previous stage's output and
    * drops nothing — each composite's purity argument is what licenses
    * that. Composites chain stages with `andThen` (and the binary
    * [[intervalJoin]]/[[union]]).
    */
  private case class Stage(stream: DataFrame => DataFrame,
      sql: String => String, twin: DataFrame => DataFrame) {
    def andThen(next: Stage): Stage = Stage(stream.andThen(next.stream),
      up => next.sql(s"(${sql(up)})"), twin.andThen(next.twin))
  }

  /** The row-based late rule (inclusive drop `ms <= L`) and the
    * window-based one (a row into its tumbling window of width `w` is
    * dropped iff `window_end <= L`), as (DuckDB, Spark) predicates.
    */
  private def rowKeep: (String, Column) = ("ms > lwm", col("ms") > col("lwm"))

  private def windowKeep(w: Long): (String, Column) =
    (s"(ms // $w) * $w + $w > lwm", expr(s"(ms div $w) * $w") + w > col("lwm"))

  /** Source stage over one watermark node's rows: stream `cols` plus the
    * event time `ts` of `time`, watermarked; DuckDB/twin keep the rows
    * passing `keep`.
    */
  private def source(cols: Seq[String], ts: String, delay: Long,
      keep: (String, Column), time: Column = col("ms")): Stage = Stage(
    _.select(cols.map(col) :+ timestamp_millis(time).as(ts): _*)
      .withWatermark(ts, s"$delay milliseconds"),
    up => s"SELECT * FROM $up WHERE ${keep._1}",
    _.filter(keep._2))

  /** Source stage over one event type `ty` of a typed input: stream the
    * user as `user`, optionally the type as `tag`, and the event time as
    * `ts`, watermarked; DuckDB/twin keep the rows passing `keep` as
    * `user_id` (+ `tag`) and `ms` renamed `as`.
    */
  private def side(ty: String, user: String, ts: String, delay: Long,
      as: String, keep: (String, Column) = rowKeep,
      tag: Option[String] = None): Stage = Stage(
    _.filter(col("event_type") === ty)
      .select(Seq(col("user_id").as(user)) ++ tag.map(col("event_type").as(_)) :+
        timestamp_millis(col("ms")).as(ts): _*)
      .withWatermark(ts, s"$delay milliseconds"),
    up => s"SELECT user_id, ${tag.fold("")(t => s"event_type AS $t, ")}" +
      s"ms AS $as FROM $up WHERE event_type = '$ty' AND ${keep._1}",
    _.filter(col("event_type") === ty && keep._2)
      .select(Seq(col("user_id")) ++ tag.map(col("event_type").as(_)) :+
        col("ms").as(as): _*))

  private def views(delay: Long): Stage =
    side("view", "vuser", "view_ts", delay, "view_ms")
  private def clicks(delay: Long): Stage =
    side("click", "cuser", "click_ts", delay, "click_ms")
  /** (stream user, stream event time, DuckDB/twin time) of a join side. */
  private val V = ("vuser", "view_ts", "view_ms")
  private val C = ("cuser", "click_ts", "click_ms")

  /** Stream-stream interval join of two stages: `r`'s time within
    * `[l time, l time + w]` on equal users. DuckDB/twin emit `user_id`,
    * the left stage's columns, then the right stage's time (none for
    * `left_semi`).
    */
  private def intervalJoin(left: Stage, right: Stage, w: Long,
      joinType: String, l: (String, String, String),
      r: (String, String, String)): Stage = {
    val on = s"v.user_id = c.user_id AND c.${r._3} >= v.${l._3}" +
      s" AND c.${r._3} <= v.${l._3} + $w"
    Stage(
      src => left.stream(src).join(right.stream(src),
        expr(s"${l._1} = ${r._1} AND ${r._2} >= ${l._2} AND " +
          s"${r._2} <= ${l._2} + interval $w millisecond"), joinType),
      up => joinType match {
        case "left_semi" =>
          s"SELECT v.* FROM (${left.sql(up)}) v WHERE EXISTS (SELECT 1 " +
            s"FROM (${right.sql(up)}) c WHERE $on)"
        case t =>
          val user = if (t == "full_outer") "COALESCE(v.user_id, c.user_id)"
            else "v.user_id"
          val kw = Map("inner" -> "JOIN", "left_outer" -> "LEFT JOIN",
            "full_outer" -> "FULL JOIN")(t)
          s"SELECT $user AS user_id, v.* EXCLUDE (user_id), c.${r._3}\n" +
            s"FROM (${left.sql(up)}) v\n$kw (${right.sql(up)}) c ON $on"
      },
      kept => {
        val v = left.twin(kept)
        val c = right.twin(kept).withColumnRenamed("user_id", "cuser")
        val j = v.join(c, col("user_id") === col("cuser") &&
          col(r._3) >= col(l._3) && col(r._3) <= col(l._3) + w, joinType)
        if (joinType == "left_semi") j
        else j.select((if (joinType == "full_outer")
            coalesce(col("user_id"), col("cuser")) else col("user_id"))
          .as("user_id") +: (v.columns.tail :+ r._3).map(col): _*)
      })
  }

  /** Union of two sources (by name) feeding one downstream operator. */
  private def union(a: Stage, b: Stage): Stage = Stage(
    src => a.stream(src).unionByName(b.stream(src)),
    up => s"${a.sql(up)}\nUNION ALL ${b.sql(up)}",
    kept => a.twin(kept).unionByName(b.twin(kept)))

  /** Aggregates written per language: stream Columns, DuckDB select
    * list, twin Columns.
    */
  private case class Aggs(stream: Seq[Column], sql: String, twin: Seq[Column])

  /** Tumbling window aggregation of width `w`. Stream: group
    * `window(ts, w)` (named `win`) and the stream `keys`. DuckDB/twin:
    * group the window start of time column `t` (named `ws`) and the keys
    * (DuckDB/twin names). No late drop: the source stage applied it.
    */
  private def tumble(w: Long, ts: Column, t: String,
      keys: Seq[(String, String)], aggs: Aggs,
      ws: String = "window_start_ms", win: String = "window"): Stage = {
    val window = functions.window(ts, s"$w milliseconds")
    val names = keys.map(_._2)
    Stage(
      _.groupBy((if (win == "window") window else window.as(win)) +:
          keys.map(k => col(k._1)): _*)
        .agg(aggs.stream.head, aggs.stream.tail: _*),
      up => s"SELECT ${names.map(_ + ", ").mkString}($t // $w) * $w AS $ws," +
        s" ${aggs.sql}\nFROM $up GROUP BY ${(names :+ ws).mkString(", ")}",
      _.groupBy(names.map(col) :+ expr(s"($t div $w) * $w").as(ws): _*)
        .agg(aggs.twin.head, aggs.twin.tail: _*))
  }

  /** Streaming dedup on (user, bucket-floored time) at the source, rows
    * of type `ty` only if given: the stream floors `ms` itself and
    * watermarks the floor; DuckDB/twin read the input's floored `ms`
    * (its `t`), keep `ms > lwm` (row-based, inclusive drop) and emit the
    * DISTINCT (user_id, `as`) set.
    */
  private def dedupBuckets(bucket: Long, delay: Long, from: String,
      user: String, ts: String, as: String,
      ty: Option[String] = None): Stage = Stage(
    src => ty.fold(src)(v => src.filter(col("event_type") === v))
      .select(col(from).as(user),
        timestamp_millis(expr(s"(ms div ${bucket}L) * ${bucket}L")).as(ts))
      .withWatermark(ts, s"$delay milliseconds").dropDuplicates(user, ts),
    up => s"SELECT DISTINCT user_id, ms AS $as FROM $up WHERE " +
      s"${ty.fold("")(v => s"event_type = '$v' AND ")}ms > lwm",
    kept => ty.fold(kept)(v => kept.filter(col("event_type") === v))
      .filter(col("ms") > col("lwm"))
      .select(col("user_id"), col("ms").as(as)).distinct())

  /** transformWithState admission ([[graft.streaming.TwsAdmitJob]]) of
    * the first row per (user, `bucket`), rows of type `ty` only if given;
    * the stream output is renamed `rename` if given. DuckDB/twin state
    * the rule the algebra has no other stage for: admission is the min
    * event time within the earliest kept-touching batch — ROW_NUMBER()
    * over (user, bucket) ORDER BY (wave, ms) = 1 over the kept rows —
    * emitted as (user_id, `as`).
    */
  private def admit(bucket: Long, delay: Long, ty: Option[String],
      as: String, rename: Option[(String, String)] = None): Stage = Stage(
    src => {
      import src.sparkSession.implicits._
      val adm = graft.streaming.TwsAdmitJob.admitFirst(
        ty.fold(src)(v => src.filter(col("event_type") === v))
          .select(col("user_id").as("key"),
            timestamp_millis(col("ms")).as("eventTs"), lit(0.0).as("value"))
          .as[graft.streaming.KeyedEvent],
        bucket, s"$delay milliseconds").toDF()
      rename.fold(adm)(n =>
        adm.select(col("key").as(n._1), col("viewTs").as(n._2)))
    },
    up => s"SELECT user_id, ms AS $as FROM (SELECT user_id, ms,\n" +
      s"  ROW_NUMBER() OVER (PARTITION BY user_id, ms // $bucket\n" +
      s"    ORDER BY wave, ms) AS rn\n  FROM $up WHERE " +
      s"${ty.fold("")(v => s"event_type = '$v' AND ")}ms > lwm) WHERE rn = 1",
    kept => ty.fold(kept)(v => kept.filter(col("event_type") === v))
      .filter(col("ms") > col("lwm"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("user_id"), expr(s"ms div ${bucket}L"))
        .orderBy(col("wave"), col("ms"))))
      .filter(col("rn") === 1).select(col("user_id"), col("ms").as(as)))

  /** The family's output columns, in order: the drive selects each name
    * from its stream Column; DuckDB and the twin already carry the names
    * and only fix the order.
    */
  private def output(cols: (String, Column)*): Stage = Stage(
    _.select(cols.map { case (n, c) => c.as(n) }: _*),
    up => s"SELECT ${cols.map(_._1).mkString(", ")} FROM $up",
    _.select(cols.map(c => col(c._1)): _*))

  private def same(names: String*): Seq[(String, Column)] =
    names.map(n => n -> col(n))

  private def start(win: String = "window"): Column =
    unix_millis(col(s"$win.start"))

  /** A family built as a chain of stages over one input: the drive runs
    * the chain's stream (sentinel rows dropped on the sink table by
    * `sink`, given the carving's max ms; an in-query filter would be
    * predicate-pushed below the EventTimeWatermark nodes and freeze the
    * watermark; `post` projects the sink table), the oracle closes its DuckDB fragment over the input
    * CTEs, and the twin runs its twin fragment over the lagged input —
    * all three ordered by `order`.
    */
  private case class Chain(in: Input, family: String, margin: Long,
      stage: Stage, order: Seq[String],
      sink: Long => Column = _ => col("user_id") >= 0L,
      rocksDb: Boolean = false, stateParts: Int = 1,
      post: DataFrame => DataFrame = identity) {
    def gen(cfg: DriveCfg): SGen = SGen(in.seed, (spark, dir) => {
      def run() = in.drive(spark, dir, family, cfg, margin, stateParts)(
        stage.stream)
      val (out, hi) =
        if (rocksDb) WaveHarness.withRocksDb(spark)(run()) else run()
      post(out.filter(sink(hi))).orderBy(order.map(col): _*)
    }, s"${in.ctes}\n${stage.sql("x")}\nORDER BY ${order.mkString(", ")}")

    def twin: (SparkSession, String) => DataFrame = (spark, dir) =>
      stage.twin(in.lagged(spark, dir)).orderBy(order.map(col): _*)
  }

  /** The typed view/click input of the join-shaped families. The jitter
    * bounds are over the view/click SUBSET — the Scala side computes
    * lo/hi after the event-type filter, and one boundary row on the
    * full-table bounds flips wave (caught by seed 13501's first DuckDB
    * run).
    */
  private def viewClickIn(seed: Long, nWaves: Int, mode: String,
      delay: Long): Input =
    Input(seed, nWaves, mode, typed("view", "click"), "user_id, event_type",
      Seq("view" -> delay, "click" -> delay),
      "event_type IN ('view', 'click')")

  /** The staged session replay (families C, T, V), DuckDB half — the
    * Spark half is [[sessionReplayTwin]]. `b` is the batch sequence:
    * each non-empty wave's max `ms` over every arriving row (bw of a
    * one-node input — watermarks are driven by late rows too) plus the
    * two sentinel waves `margin` past the max. Stage k re-sessionizes
    * the still-open rows of `rows` (user_id, ms, wave and `carry`) and
    * marks components whose end <= E(k) as emitted at stage k (`est`,
    * `esid`), guarded on the wave actually having rows (no batch => no
    * eviction); the (user_id, open) window partition keeps closed and
    * unarrived rows inert without a filtered window. The last stage is
    * `s<nWaves + 1>`; the unroll is generated, never hand-maintained.
    */
  private def sessionReplaySql(rows: String, carry: String, delay: Long,
      gap: Long, nWaves: Int, margin: Long): String = {
    def stage(k: Long, prev: String): String = {
      val ek = s"(SELECT COALESCE(GREATEST(MAX(mx) - $delay, 0), 0)" +
        s" FROM b WHERE wave < $k)"
      val hasBatch = s"(SELECT COUNT(*) FROM b WHERE wave = $k) > 0"
      s"""s$k AS (
        |  SELECT user_id, ms, ${carry}wave,
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
        |        FROM (SELECT user_id, ms, ${carry}wave, est, esid,
        |                (est IS NULL AND wave <= $k) AS open
        |              FROM $prev)))))""".stripMargin
    }
    s"""hb AS (SELECT MAX(ms) AS hi FROM e),
      |b AS (SELECT wave, m0 AS mx FROM bw
      |      UNION ALL SELECT $nWaves, hi + $margin FROM hb
      |      UNION ALL SELECT ${nWaves + 1}, hi + 2 * $margin FROM hb),
      |s_init AS (
      |  SELECT user_id, ms, ${carry}wave,
      |         CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS esid
      |  FROM $rows),
      |""".stripMargin + (0L until nWaves + 2L)
      .map(k => stage(k, if (k == 0) "s_init" else s"s${k - 1}"))
      .mkString(",\n")
  }

  /** The staged session replay, Spark half (see [[sessionReplaySql]]),
    * looped over the wave sequence: `rows` (user_id, ms, wave, ...) gain
    * their emission stage `est` and session id `esid`. The per-batch max
    * event time of `arrived` (|waves| rows, every arriving row) is
    * collected driver-side to produce the per-stage eviction scalars —
    * harness bookkeeping, not a data collect.
    */
  private def sessionReplayTwin(rows: DataFrame, arrived: DataFrame,
      delay: Long, gap: Long, nWaves: Int, margin: Long): DataFrame = {
    val realMx: Map[Long, Long] = arrived.groupBy(col("wave"))
      .agg(max(col("ms")).as("mx")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hi = realMx.values.max
    val mxByWave = realMx + (nWaves.toLong -> (hi + margin)) +
      ((nWaves + 1).toLong -> (hi + 2 * margin))
    def ewm(k: Long): Long = {
      val prior = mxByWave.filter(_._1 < k).values
      if (prior.isEmpty) 0L else math.max(0L, prior.max - delay)
    }
    val wOpen = Window.partitionBy(col("user_id"), col("open")).orderBy(col("ms"))
    val wCum = wOpen.rowsBetween(Window.unboundedPreceding, 0)
    val wComp = Window.partitionBy(col("user_id"), col("open"), col("sid"))
    (0L until (nWaves + 2L)).foldLeft(rows
        .withColumn("est", lit(null).cast("long"))
        .withColumn("esid", lit(null).cast("long"))) { (df, k) =>
      df.withColumn("open", col("est").isNull && col("wave") <= k)
        .withColumn("ns", when(!col("open"), lit(null))
          .when(lag(col("ms"), 1).over(wOpen).isNull, 1)
          .when(col("ms") - lag(col("ms"), 1).over(wOpen) > gap, 1)
          .otherwise(0))
        .withColumn("sid", sum(col("ns")).over(wCum))
        .withColumn("comp_end", max(col("ms")).over(wComp) + gap)
        .withColumn("emit", col("open") && lit(mxByWave.contains(k)) &&
          col("comp_end") <= ewm(k))
        .withColumn("est", when(col("emit"), k).otherwise(col("est")))
        .withColumn("esid", when(col("emit"), col("sid"))
          .otherwise(col("esid")))
        .drop("open", "ns", "sid", "comp_end", "emit")
    }
  }

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
    val (rnd, nWaves, mode, delay) = draws(seed)
    AggP(nWaves, mode, delay,
      Seq(300000L, 900000L, 3600000L)(rnd.nextInt(3)), 1 + rnd.nextInt(2))
  }

  // a primitive stage of its own: the sliding geometry drops (row,
  // window) PAIRS, not rows — the oracle unnests the m covering starts
  private def aggChain(seed: Long): Chain = {
    val p = aggP(seed)
    val starts = (0 until p.m).map(k => s"(ms // ${p.slide}) * ${p.slide} - ${k.toLong * p.slide}")
    Chain(Input(seed, p.nWaves, p.mode, tagged(value = true), "event_type, value",
        Seq("" -> p.delay)),
      "agg", p.delay + 3 * p.width + 10000000L,
      Stage(
        _.select(col("event_type"), timestamp_millis(col("ms")).as("t"), col("value"))
          .withWatermark("t", s"${p.delay} milliseconds")
          .groupBy(window(col("t"), s"${p.width} milliseconds",
            s"${p.slide} milliseconds"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2).as("sum_value"))
          .select(start().as("window_start_ms"), col("event_type"), col("n"),
            col("sum_value")),
        up => s"""SELECT ws AS window_start_ms, event_type, COUNT(*) AS n,
          |       round(SUM(value) * (1.0 + 1e-12), 2) AS sum_value
          |FROM (SELECT event_type, unnest(${starts.mkString("[", ", ", "]")}) AS ws,
          |        value, lwm FROM $up)
          |WHERE ws + ${p.width} > lwm
          |GROUP BY ws, event_type""".stripMargin,
        _.withColumn("ws", explode(array((0 until p.m).map(k =>
            expr(s"(ms div ${p.slide}) * ${p.slide} - ${k * p.slide}")): _*)))
          .filter(col("ws") + p.width > col("lwm"))
          .groupBy(col("ws"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2).as("sum_value"))
          .select(col("ws").as("window_start_ms"), col("event_type"), col("n"),
            col("sum_value"))),
      Seq("window_start_ms", "event_type"),
      sink = _ => !col("event_type").startsWith("\u0000"))
  }

  private def genAgg(seed: Long, cfg: DriveCfg): SGen = aggChain(seed).gen(cfg)

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
    val (rnd, nWaves, mode, delay) = draws(seed)
    QuotaP(nWaves, mode, delay,
      Seq(3600000L, 6L * 3600000L, 24L * 3600000L)(rnd.nextInt(3)),
      Seq(1L, 2L, 5L)(rnd.nextInt(3)))
  }

  // hand-written: the per-bucket admission cap over MapState and
  // event-time timers is no stage of the algebra (its oracle re-counts
  // buckets of the row-kept rows)
  private def quotaChain(seed: Long): Chain = {
    val p = quotaP(seed)
    Chain(Input(seed, p.nWaves, p.mode, keyed(value = true), "user_id",
        Seq("" -> p.delay)),
      "quota", p.delay + 3 * p.bucket + 10000000L,
      Stage(
        src => {
          import src.sparkSession.implicits._
          graft.streaming.TwsQuotaJob.quota(
            src.select(col("key"), timestamp_millis(col("ms")).as("eventTs"),
              col("value")).as[graft.streaming.KeyedEvent],
            p.bucket, p.cap, s"${p.delay} milliseconds").toDF()
        },
        up => s"""SELECT user_id, (ms // ${p.bucket}) * ${p.bucket} AS hour_ms,
          |       COUNT(*) AS n_events,
          |       LEAST(COUNT(*), ${p.cap}) AS n_admitted,
          |       COUNT(*) - LEAST(COUNT(*), ${p.cap}) AS n_throttled
          |FROM $up WHERE ms > lwm GROUP BY user_id, hour_ms""".stripMargin,
        _.filter(col("ms") > col("lwm"))
          .groupBy(col("user_id"),
            (expr(s"ms div ${p.bucket}") * p.bucket).as("hour_ms"))
          .agg(count(lit(1)).as("n_events"),
            least(count(lit(1)), lit(p.cap)).as("n_admitted"),
            (count(lit(1)) - least(count(lit(1)), lit(p.cap))).as("n_throttled"))),
      Seq("user_id", "hour_ms"), sink = _ => col("key") >= 0L,
      rocksDb = true, stateParts = 4,
      post = _.select(col("key").as("user_id"), col("hour_ms"),
        col("n_events"), col("n_admitted"), col("n_throttled")))
  }

  private def genQuota(seed: Long, cfg: DriveCfg): SGen = quotaChain(seed).gen(cfg)

  private[graft] case class SessionP(nWaves: Int, mode: String,
      delay: Long, gap: Long)

  private[graft] def sessionP(seed: Long): SessionP = {
    val (rnd, nWaves, mode, delay) = draws(seed)
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
  // hand-written: the emitted sessions are not a function of the kept
  // rows, so the oracle is the staged per-batch replay, not a stage chain
  private def sessionIn(seed: Long, nWaves: Int, mode: String, delay: Long,
      value: Boolean): Input =
    Input(seed, nWaves, mode, keyed(value),
      if (value) "user_id, value" else "user_id", Seq("" -> delay))

  private def genSession(seed: Long, cfg: DriveCfg): SGen = {
    val p = sessionP(seed)
    val margin = p.delay + 3 * p.gap + 10000000L
    val in = sessionIn(seed, p.nWaves, p.mode, p.delay, value = true)
    val build = (spark: SparkSession, dir: String) =>
      in.drive(spark, dir, "sess", cfg, margin) { src =>
        src.select(col("key"), timestamp_millis(col("ms")).as("t"),
            col("value"))
          .withWatermark("t", s"${p.delay} milliseconds")
          .groupBy(session_window(col("t"), s"${p.gap} milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
              .as("sum_value"))
          .select(col("key").as("user_id"),
            unix_millis(col("session_window.start")).as("start_ms"),
            unix_millis(col("session_window.end")).as("end_ms"),
            col("n_events"), col("sum_value"))
      }._1.filter(col("user_id") >= 0L).orderBy(col("user_id"), col("start_ms"))

    val sql =
      s"""${in.ctes},
        |kept AS (SELECT user_id, ms, value, wave FROM x
        |  WHERE ms + ${p.gap} > lwm),
        |${sessionReplaySql("kept", "value, ", p.delay, p.gap, p.nWaves, margin)}
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + ${p.gap} AS end_ms,
        |       COUNT(*) AS n_events,
        |       round(SUM(value) * (1.0 + 1e-12), 2) AS sum_value
        |FROM s${p.nWaves + 1} GROUP BY user_id, est, esid
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
      val p = sessionP(seed)
      val base = sessionIn(seed, p.nWaves, p.mode, p.delay, value = true)
        .lagged(spark, dir)
      sessionReplayTwin(
        base.filter(col("ms") + p.gap > col("lwm"))
          .select(col("user_id"), col("ms"), col("value"), col("wave")),
        base, p.delay, p.gap, p.nWaves, p.delay + 3 * p.gap + 10000000L)
        .groupBy(col("user_id"), col("est"), col("esid"))
        .agg(min(col("ms")).as("start_ms"),
          (max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")) * (lit(1.0) + lit(1e-12)), 2)
            .as("sum_value"))
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_ms"))
    }

  /** IN-SPARK batch twin of the Family A drive — the oracle SQL's
    * semantics replayed with DataFrame ops, so StreamFuzzSpec can sweep
    * seeds differentially without DuckDB: streaming machinery vs batch
    * plan, same engine, byte-equal expected.
    */
  def aggTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggChain(seed).twin

  /** IN-SPARK batch twin of the Family B drive. */
  def quotaTwin(seed: Long): (SparkSession, String) => DataFrame =
    quotaChain(seed).twin

  private[graft] case class JoinP(nWaves: Int, mode: String, delay: Long,
      window: Long, joinType: String)

  private[graft] def joinP(seed: Long): JoinP = {
    val (rnd, nWaves, mode, delay) = draws(seed)
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
    joinChain(joinP(seed), seed).gen(cfg)

  /** Family G — the two stream-stream join types family D leaves out,
    * FULL OUTER and LEFT SEMI, on the same interval-join geometry and
    * oracle machinery (joinChain is shared; only the join clause and
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
    joinChain(joinPExt(seed), seed).gen(cfg)

  private[graft] def joinPExt(seed: Long): JoinP =
    joinP(seed).copy(joinType =
      if (seed % 2 == 0) "full_outer" else "left_semi")

  /** Families D and G: one interval-join stage of the given type. */
  private def joinChain(p: JoinP, seed: Long): Chain = {
    val semi = p.joinType == "left_semi"
    val user = if (p.joinType == "full_outer") coalesce(col("vuser"), col("cuser"))
      else col("vuser")
    val out = Seq("user_id" -> user, "view_ms" -> unix_millis(col("view_ts"))) ++
      (if (semi) Nil else Seq("click_ms" -> unix_millis(col("click_ts"))))
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), "join",
      p.delay + 3 * p.window + 10000000L,
      intervalJoin(views(p.delay), clicks(p.delay), p.window, p.joinType, V, C)
        .andThen(output(out: _*)),
      out.map(_._1))
  }

  /** IN-SPARK batch twin of the Family D drive. */
  def joinTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinChain(joinP(seed), seed).twin

  /** IN-SPARK batch twin of the Family G drive. */
  def joinExtTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinChain(joinPExt(seed), seed).twin

  private[graft] case class ChainP(nWaves: Int, mode: String, delay: Long,
      joinW: Long, aggW: Long)

  private[graft] def chainP(seed: Long): ChainP = {
    val j = joinP(seed)
    ChainP(j.nWaves, j.mode, j.delay, j.window,
      Seq(3600000L, 21600000L, 86400000L)(draw2(seed).nextInt(3)))
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
  private def chainChain(seed: Long): Chain = {
    val p = chainP(seed)
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), "chain",
      p.delay + 3 * p.joinW + 3 * p.aggW + 10000000L,
      intervalJoin(views(p.delay), clicks(p.delay), p.joinW, "inner", V, C)
        .andThen(tumble(p.aggW, col("click_ts"), "click_ms", Seq("vuser" -> "user_id"),
          Aggs(Seq(count(lit(1)).as("n_pairs"),
              sum(unix_millis(col("click_ts")) - unix_millis(col("view_ts")))
                .as("sum_lag_ms")),
            "COUNT(*) AS n_pairs, CAST(SUM(click_ms - view_ms) AS BIGINT) AS sum_lag_ms",
            Seq(count(lit(1)).as("n_pairs"),
              sum(col("click_ms") - col("view_ms")).as("sum_lag_ms")))))
        .andThen(output(Seq("user_id" -> col("vuser"), "window_start_ms" -> start()) ++
          same("n_pairs", "sum_lag_ms"): _*)),
      Seq("user_id", "window_start_ms"))
  }

  private def genChain(seed: Long, cfg: DriveCfg): SGen = chainChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family H drive: the family-D inner twin
    * supplies the kept pairs, closed under the same tumbling rollup.
    */
  def chainTwin(seed: Long): (SparkSession, String) => DataFrame =
    chainChain(seed).twin

  private[graft] case class DedupP(nWaves: Int, mode: String, delay: Long,
      bucket: Long)

  private[graft] def dedupP(seed: Long): DedupP = {
    val (rnd, nWaves, mode, delay) = draws(seed)
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
  /** The keyed input whose watermarked column is the `bucket` floor of
    * `ms` (families E, M, T).
    */
  private def bucketIn(seed: Long, nWaves: Int, mode: String, delay: Long,
      bucket: Long): Input =
    Input(seed, nWaves, mode, keyed(value = false), "user_id", Seq("" -> delay),
      t = (s"(ms // $bucket) * $bucket", expr(s"(ms div ${bucket}L) * ${bucket}L")))

  private def dedupChain(seed: Long): Chain = {
    val p = dedupP(seed)
    Chain(bucketIn(seed, p.nWaves, p.mode, p.delay, p.bucket), "dedup",
      p.delay + 3 * p.bucket + 10000000L,
      dedupBuckets(p.bucket, p.delay, "key", "key", "bt", "bucket_ms")
        .andThen(output("user_id" -> col("key"),
          "bucket_ms" -> unix_millis(col("bt")))),
      Seq("user_id", "bucket_ms"))
  }

  private def genDedup(seed: Long, cfg: DriveCfg): SGen = dedupChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family E drive. */
  def dedupTwin(seed: Long): (SparkSession, String) => DataFrame =
    dedupChain(seed).twin

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
  // hand-written: the per-key emission chain (each emission restarts the
  // TTL) is a sequential fold, a rule no stage of the algebra states
  private def genDedupWm(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupWmP(seed)
    val nWaves = p.nWaves; val jR = p.w0 / 2

    val build = (spark: SparkSession, dir: String) => {
      val ev = carve(spark, dir, seed, p.mode, nWaves)(keyed(value = false)).rows
      val frame = withSentinels(spark, ev.drop("event_id")
          .filter(presenceCol(seed))
          .withColumn("ms", (col("wave") + 1) * p.w0 + keyJitterCol(seed, jR)),
        (nWaves + 1L) * p.w0, 3 * p.delay + 10000000L, nWaves, Nil)
      driveFamily(spark, dir, "dwm", seed, cfg, frame, nWaves) { src =>
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
        |${lagCtes(Seq("" -> p.delay))},
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
      val p = dedupWmP(seed); val jR = p.w0 / 2
      val e = carve(spark, dir, seed, p.mode, p.nWaves)(keyed(value = false)).rows
        .filter(presenceCol(seed))
        .select(col("key"), col("wave"),
          ((col("wave") + 1) * p.w0 + keyJitterCol(seed, jR)).as("ms"))
        .distinct()
      lagTwin(e, Seq("" -> p.delay))
        .groupBy(col("key"))
        .agg(sort_array(collect_list(
          struct(col("wave"), col("ms"), col("lwm")))).as("apps"))
        .select(col("key").as("user_id"), explode(expr(
          s"""aggregate(apps,
             |  named_struct('expiry', CAST(-1 AS BIGINT),
             |    'emits', CAST(array() AS ARRAY<BIGINT>)),
             |  (acc, x) -> IF(x.lwm >= acc.expiry,
             |    named_struct('expiry', x.ms + ${p.delay}L,
             |      'emits', concat(acc.emits, array(x.ms))),
             |    acc),
             |  acc -> acc.emits)""".stripMargin)).as("emit_ms"))
        .orderBy(col("user_id"), col("emit_ms"))
    }

  private[graft] case class UnionP(nWaves: Int, mode: String,
      delayV: Long, delayC: Long, width: Long)

  private[graft] def unionP(seed: Long): UnionP = {
    val (rnd, nWaves, mode, delayV) = draws(seed)
    UnionP(nWaves, mode, delayV, delayMenu(mode)(rnd.nextInt(3)),
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
  private def unionChain(seed: Long): Chain = {
    val p = unionP(seed)
    def leg(ty: String, delay: Long) = side(ty, "user_id", "t", delay, "ms",
      windowKeep(p.width), tag = Some("event_type"))
    // sentinels must carry real event_types to pass the branch split, so
    // they are separated by TIME: their far-future windows drop on the sink
    Chain(Input(seed, p.nWaves, p.mode, typed("view", "click"),
        "user_id, event_type", Seq("view" -> p.delayV, "click" -> p.delayC),
        "event_type IN ('view', 'click')"),
      "union", p.delayV + p.delayC + 3 * p.width + 10000000L,
      union(leg("view", p.delayV), leg("click", p.delayC))
        .andThen(tumble(p.width, col("t"), "ms", Seq("event_type" -> "event_type"),
          Aggs(Seq(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid")),
            "COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid",
            Seq(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid")))))
        .andThen(output(Seq("window_start_ms" -> start()) ++
          same("event_type", "n", "sum_uid"): _*)),
      Seq("window_start_ms", "event_type"),
      sink = hi => col("window_start_ms") <= hi)
  }

  private def genUnion(seed: Long, cfg: DriveCfg): SGen = unionChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family I drive. */
  def unionTwin(seed: Long): (SparkSession, String) => DataFrame =
    unionChain(seed).twin

  private[graft] case class AggAggP(nWaves: Int, mode: String, delay: Long,
      w1: Long, k: Int) {
    def w2: Long = k * w1
  }

  private[graft] def aggAggP(seed: Long): AggAggP = {
    val (rnd, nWaves, mode, delay) = draws(seed)
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
  /** The fine tumble `w1` feeding the aligned coarse rollup `w2` of
    * families J and K: `n1` kept rows per fine window, re-windowed
    * through `window_time(window)` into `total` (kept rows) and `n_fine`
    * (fine windows) per coarse window.
    */
  private def twoLevel(w1: Long, w2: Long, ts: Column, t: String,
      keys: Seq[(String, String)], total: String): Stage =
    tumble(w1, ts, t, keys, Aggs(Seq(count(lit(1)).as("n1")), "COUNT(*) AS n1",
        Seq(count(lit(1)).as("n1"))), ws = "ws1")
      .andThen(tumble(w2, window_time(col("window")), "ws1", keys.map(k => k._2 -> k._2),
        Aggs(Seq(sum(col("n1")).cast("long").as(total), count(lit(1)).as("n_fine")),
          s"CAST(SUM(n1) AS BIGINT) AS $total, COUNT(*) AS n_fine",
          Seq(sum(col("n1")).as(total), count(lit(1)).as("n_fine"))),
        win = "w2win"))

  private def aggAggChain(seed: Long): Chain = {
    val p = aggAggP(seed)
    Chain(Input(seed, p.nWaves, p.mode, tagged(value = false), "event_type",
        Seq("" -> p.delay)),
      "aggagg", p.delay + 3 * p.w2 + 10000000L,
      source(Seq("event_type"), "t", p.delay, windowKeep(p.w1))
        .andThen(twoLevel(p.w1, p.w2, col("t"), "ms", Seq("event_type" -> "event_type"), "n"))
        .andThen(output(Seq("window_start_ms" -> start("w2win")) ++
          same("event_type", "n", "n_fine"): _*)),
      Seq("window_start_ms", "event_type"),
      sink = _ => !col("event_type").startsWith("\u0000"))
  }

  private def genAggAgg(seed: Long, cfg: DriveCfg): SGen = aggAggChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family J drive. */
  def aggAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggAggChain(seed).twin

  private[graft] case class Chain3P(nWaves: Int, mode: String, delay: Long,
      joinW: Long, w1: Long, k: Int) {
    def w2: Long = k * w1
  }

  private[graft] def chain3P(seed: Long): Chain3P = {
    val j = joinP(seed)
    val rnd = draw2(seed)
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
  private def chain3Chain(seed: Long): Chain = {
    val p = chain3P(seed)
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), "chain3",
      p.delay + 3 * p.joinW + 3 * p.w2 + 10000000L,
      intervalJoin(views(p.delay), clicks(p.delay), p.joinW, "inner", V, C)
        .andThen(twoLevel(p.w1, p.w2, col("click_ts"), "click_ms", Nil, "n_pairs"))
        .andThen(output(Seq("window_start_ms" -> start("w2win")) ++
          same("n_pairs", "n_fine"): _*)),
      Seq("window_start_ms"), sink = hi => col("window_start_ms") <= hi)
  }

  private def genChain3(seed: Long, cfg: DriveCfg): SGen = chain3Chain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family K drive: the family-D inner twin
    * supplies the kept pairs, closed under the two-level rollup.
    */
  def chain3Twin(seed: Long): (SparkSession, String) => DataFrame =
    chain3Chain(seed).twin

  private[graft] case class DedupAggP(nWaves: Int, mode: String, delay: Long,
      bucket: Long, aggK: Long) {
    def aggW: Long = aggK * bucket
  }

  private[graft] def dedupAggP(seed: Long): DedupAggP = {
    val d = dedupP(seed)
    DedupAggP(d.nWaves, d.mode, d.delay, d.bucket,
      Seq(2L, 4L, 8L)(draw2(seed).nextInt(3)))
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
  private def dedupAggChain(seed: Long): Chain = {
    val p = dedupAggP(seed)
    Chain(bucketIn(seed, p.nWaves, p.mode, p.delay, p.bucket), "dagg",
      p.delay + 3 * p.bucket + 3 * p.aggW + 10000000L,
      dedupBuckets(p.bucket, p.delay, "key", "key", "bt", "ms")
        .andThen(tumble(p.aggW, col("bt"), "ms", Nil,
          Aggs(Seq(count(lit(1)).as("n"), sum(col("key")).as("sum_keys")),
            "COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_keys",
            Seq(count(lit(1)).as("n"), sum(col("user_id")).as("sum_keys")))))
        .andThen(output(Seq("window_start_ms" -> start()) ++ same("n", "sum_keys"): _*)),
      Seq("window_start_ms"),
      // sentinels separated by time: real buckets never exceed hi, so
      // real window starts never reach hi + aggW
      sink = hi => col("window_start_ms") < lit(hi + p.aggW))
  }

  private def genDedupAgg(seed: Long, cfg: DriveCfg): SGen = dedupAggChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family M drive: family E's twin closed
    * under the aligned tumbling GROUP BY.
    */
  def dedupAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    dedupAggChain(seed).twin

  private[graft] case class JoinJoinP(nWaves: Int, mode: String, delay: Long,
      w1: Long, w2: Long)

  private[graft] def joinJoinP(seed: Long): JoinJoinP = {
    val j = joinP(seed)
    // independent draws for BOTH hop windows (joinP consumed its RNG).
    // The menu is wider than family D's (6 h / 24 h / 72 h): a triple
    // coincidence view -> click -> purchase on ONE user is far rarer
    // than a pair, and the fixture's sf0.001 carving has only ~15 users
    // over 30 days — family-D-width windows are vacuous there.
    val rnd = draw2(seed)
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
  private def joinJoinChain(seed: Long): Chain = {
    val p = joinJoinP(seed)
    val types = Seq("view", "click", "purchase")
    // a join input may carry AT MOST ONE event-time column (Spark refuses
    // (view_ts, click_ts) both watermarked), so the pair stream demotes
    // view_ts to a plain long and keeps click_ts as ITS event time — the
    // column join2's condition and state eviction run on
    val demote = Stage(_.select(col("vuser"),
        unix_millis(col("view_ts")).as("view_ms"), col("click_ts")),
      up => s"SELECT * FROM $up", identity)
    Chain(Input(seed, p.nWaves, p.mode, typed(types: _*), "user_id, event_type",
        types.map(_ -> p.delay), "event_type IN ('view', 'click', 'purchase')"),
      "jj", p.delay + 3 * p.w1 + 3 * p.w2 + 10000000L,
      intervalJoin(
          intervalJoin(views(p.delay), clicks(p.delay), p.w1, "inner", V, C)
            .andThen(demote),
          side("purchase", "puser", "purchase_ts", p.delay, "purchase_ms",
            (s"ms >= lwm - ${p.w1}", col("ms") >= col("lwm") - p.w1)),
          p.w2, "inner", ("vuser", "click_ts", "click_ms"),
          ("puser", "purchase_ts", "purchase_ms"))
        .andThen(output("user_id" -> col("vuser"), "view_ms" -> col("view_ms"),
          "click_ms" -> unix_millis(col("click_ts")),
          "purchase_ms" -> unix_millis(col("purchase_ts")))),
      Seq("user_id", "view_ms", "click_ms", "purchase_ms"))
  }

  private def genJoinJoin(seed: Long, cfg: DriveCfg): SGen = joinJoinChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family N drive: the three-sided kept
    * sets closed under the same triple interval join.
    */
  def joinJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinJoinChain(seed).twin

  private[graft] case class DedupJoinP(nWaves: Int, mode: String,
      delay: Long, bucket: Long, window: Long)

  private[graft] def dedupJoinP(seed: Long): DedupJoinP = {
    val d = dedupP(seed)
    // independent draw for the join window (dedupP consumed its RNG);
    // window >= one bucket on average so a floored view still reaches
    // the clicks of its own bucket
    val rnd = draw2(seed)
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
  private def dedupJoinChain(seed: Long): Chain = {
    val p = dedupJoinP(seed)
    val floor = s"(ms // ${p.bucket}) * ${p.bucket}"
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay).copy(t = (
        s"CASE WHEN event_type = 'view' THEN $floor ELSE ms END",
        when(col("event_type") === "view",
          expr(s"(ms div ${p.bucket}L) * ${p.bucket}L")).otherwise(col("ms")))),
      "dj", p.delay + 3 * p.bucket + 3 * p.window + 10000000L,
      intervalJoin(
          dedupBuckets(p.bucket, p.delay, "user_id", "vuser", "view_bt",
            "view_bt_ms", Some("view")),
          clicks(p.delay), p.window, "inner", ("vuser", "view_bt", "view_bt_ms"), C)
        .andThen(output("user_id" -> col("vuser"),
          "view_bt_ms" -> unix_millis(col("view_bt")),
          "click_ms" -> unix_millis(col("click_ts")))),
      Seq("user_id", "view_bt_ms", "click_ms"))
  }

  private def genDedupJoin(seed: Long, cfg: DriveCfg): SGen = dedupJoinChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family O drive: kept views (bucket-
    * floored, DISTINCT) interval-joined with kept clicks under the same
    * two-sided lagged watermark replay.
    */
  def dedupJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    dedupJoinChain(seed).twin

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
  // hand-written: the session stage re-opens emitted sessions, so the
  // oracle is family C's staged replay over the deduped first-kept waves
  private def genDedupSess(seed: Long, cfg: DriveCfg): SGen = {
    val p = dedupSessP(seed)
    val margin = p.delay + 3 * p.gap + 3 * p.bucket + 10000000L
    val in = bucketIn(seed, p.nWaves, p.mode, p.delay, p.bucket)

    val build = (spark: SparkSession, dir: String) =>
      in.drive(spark, dir, "dsess", cfg, margin) { src =>
        src.select(col("key"),
            timestamp_millis(expr(s"(ms div ${p.bucket}L) * ${p.bucket}L"))
              .as("bt"))
          .withWatermark("bt", s"${p.delay} milliseconds")
          .dropDuplicates("key", "bt")
          .groupBy(session_window(col("bt"), s"${p.gap} milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_buckets"))
          .select(col("key").as("user_id"),
            unix_millis(col("session_window.start")).as("start_ms"),
            unix_millis(col("session_window.end")).as("end_ms"),
            col("n_buckets"))
      }._1.filter(col("user_id") >= 0L).orderBy(col("user_id"), col("start_ms"))

    // the watermark schedule is every ARRIVING row's (b is built from e),
    // so all-duplicate waves still have a batch and still evict
    val sql =
      s"""${in.ctes},
        |d AS (SELECT user_id, ms, MIN(wave) AS wave FROM x
        |      WHERE ms > lwm GROUP BY user_id, ms),
        |${sessionReplaySql("d", "", p.delay, p.gap, p.nWaves, margin)}
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + ${p.gap} AS end_ms,
        |       COUNT(*) AS n_buckets
        |FROM s${p.nWaves + 1} GROUP BY user_id, est, esid
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
      val p = dedupSessP(seed)
      // carving reads the RAW time (`ms`); the watermarked column is
      // the bucket floor, which REPLACES ms for everything downstream
      val e = bucketIn(seed, p.nWaves, p.mode, p.delay, p.bucket)
        .lagged(spark, dir)
      sessionReplayTwin(
        e.filter(col("ms") > col("lwm"))
          .groupBy(col("user_id"), col("ms")).agg(min(col("wave")).as("wave")),
        e, p.delay, p.gap, p.nWaves,
        p.delay + 3 * p.gap + 3 * p.bucket + 10000000L)
        .groupBy(col("user_id"), col("est"), col("esid"))
        .agg(min(col("ms")).as("start_ms"),
          (max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_buckets"))
        .select(col("user_id"), col("start_ms"), col("end_ms"),
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
  private def joinDedupChain(seed: Long): Chain = {
    val p = joinDedupP(seed)
    val b = p.bucket
    // dedup on the pair's click key, raw or bucket-floored: only key
    // columns are projected (the family E convention)
    val dedup = Stage(
      j => if (p.raw)
          j.dropDuplicates("vuser", "click_ts")
            .select(col("vuser").as("user_id"),
              unix_millis(col("click_ts")).as("click_ms"))
        else
          j.withColumn("cbt",
              expr(s"(unix_millis(click_ts) div ${b}L) * ${b}L"))
            .dropDuplicates("vuser", "cbt")
            .select(col("vuser").as("user_id"), col("cbt").as("click_ms")),
      up => s"SELECT DISTINCT user_id, " +
        (if (p.raw) "click_ms" else s"(click_ms // $b) * $b") +
        s" AS click_ms FROM $up",
      _.select(col("user_id"), (if (p.raw) col("click_ms")
          else expr(s"(click_ms div ${b}L) * ${b}L")).as("click_ms"))
        .distinct())
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), "jd",
      p.delay + 3 * p.window + 3 * p.bucket + 10000000L,
      intervalJoin(views(p.delay), clicks(p.delay), p.window, "inner", V, C)
        .andThen(dedup),
      Seq("user_id", "click_ms"))
  }

  private def genJoinDedup(seed: Long, cfg: DriveCfg): SGen = joinDedupChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family U drive: DISTINCT projection of
    * the interval join of the two kept sets.
    */
  def joinDedupTwin(seed: Long): (SparkSession, String) => DataFrame =
    joinDedupChain(seed).twin

  private[graft] case class TwsJoinP(nWaves: Int, mode: String, delay: Long,
      window: Long, bucket: Long)

  private[graft] def twsJoinP(seed: Long): TwsJoinP = {
    val j = joinP(seed)
    TwsJoinP(j.nWaves, j.mode, j.delay, j.window,
      Seq(3600000L, 21600000L, 86400000L)(draw2(seed).nextInt(3)))
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
  private def twsJoinChain(seed: Long): Chain = {
    val p = twsJoinP(seed)
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), "twsjoin",
      p.delay + 3 * p.window + 3 * p.bucket + 10000000L,
      intervalJoin(
          admit(p.bucket, p.delay, Some("view"), "view_ms", Some(("vuser", "view_ts"))),
          clicks(p.delay), p.window, "inner", V, C)
        .andThen(output("user_id" -> col("vuser"),
          "view_ms" -> unix_millis(col("view_ts")),
          "click_ms" -> unix_millis(col("click_ts")))),
      Seq("user_id", "view_ms", "click_ms"), rocksDb = true)
  }

  private def genTwsJoin(seed: Long, cfg: DriveCfg): SGen = twsJoinChain(seed).gen(cfg)

  /** Dev-scan internals for family-L seed selection: (total view/click
    * rows, late-dropped, kept views, ADMITTED views, kept clicks) — a
    * registered seed must exercise the late filter AND the bucket
    * suppression, not just produce pairs.
    */
  private[graft] def twsJoinInternals(seed: Long, spark: SparkSession,
      dir: String): String = {
    val p = twsJoinP(seed)
    val e = viewClickIn(seed, p.nWaves, p.mode, p.delay).lagged(spark, dir)
    val total = e.count()
    val kept = e.filter(col("ms") > col("lwm"))
    val keptViews = kept.filter(col("event_type") === "view").count()
    val keptClicks = kept.filter(col("event_type") === "click").count()
    val admitted = admit(p.bucket, p.delay, Some("view"), "view_ms").twin(e).count()
    s"total=$total dropped=${total - keptViews - keptClicks} " +
      s"keptViews=$keptViews admitted=$admitted suppressed=" +
      s"${keptViews - admitted} keptClicks=$keptClicks"
  }

  /** IN-SPARK batch twin of the Family L drive: kept rows via the
    * shared lagged min-both-sides watermark, admission via the
    * (wave, ms)-ordered ROW_NUMBER, then the plain interval join.
    */
  def twsJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    twsJoinChain(seed).twin

  private[graft] case class AggJoinP(nWaves: Int, mode: String, delay: Long,
      width: Long)

  private[graft] def aggJoinP(seed: Long): AggJoinP = {
    val (rnd, nWaves, mode, delay) =
      draws(seed, 0xBF58476D1CE4E5B9L, 0x94D049BB133111EBL)
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
    val (rnd, nWaves, mode, delay) =
      draws(seed, 0x94D049BB133111EBL, 0xBF58476D1CE4E5B9L)
    AggJoinP(nWaves, mode, delay,
      Seq(21600000L, 86400000L, 259200000L)(rnd.nextInt(3)))
  }

  private def genAggJoin(seed: Long, cfg: DriveCfg): SGen =
    aggJoinChain(aggJoinP(seed), seed, outer = false).gen(cfg)

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
    aggJoinChain(aggJoinOuterP(seed), seed, outer = true).gen(cfg)

  /** Families P and Q: a tumbling count per (user, window) on each side,
    * the two finalized aggregates joined on (window, user).
    */
  private def aggJoinChain(p: AggJoinP, seed: Long, outer: Boolean): Chain = {
    def perSide(ty: String, ts: String, n: String) =
      side(ty, "user_id", ts, p.delay, "ms", windowKeep(p.width))
        .andThen(tumble(p.width, col(ts), "ms", Seq("user_id" -> "user_id"),
          Aggs(Seq(count(lit(1)).as(n)), s"COUNT(*) AS $n", Seq(count(lit(1)).as(n))),
          ws = "ws"))
    val (v, c) = (perSide("view", "vt", "v_n"), perSide("click", "ct", "c_n"))
    val joinType = if (outer) "left_outer" else "inner"
    // sentinel windows finalize on both sides and match here; they drop
    // on the sink table
    val windowJoin = Stage(
      src => v.stream(src).join(c.stream(src), Seq("window", "user_id"), joinType),
      up => s"SELECT v.user_id AS user_id, v.ws AS window_start_ms, v.v_n AS v_n," +
        s" c.c_n AS c_n\nFROM (${v.sql(up)}) v\n${if (outer) "LEFT JOIN" else "JOIN"}" +
        s" (${c.sql(up)}) c ON v.user_id = c.user_id AND v.ws = c.ws",
      kept => v.twin(kept).join(c.twin(kept)
          .select(col("user_id").as("cuser"), col("ws").as("cws"), col("c_n")),
          col("user_id") === col("cuser") && col("ws") === col("cws"), joinType)
        .select(col("user_id"), col("ws").as("window_start_ms"), col("v_n"), col("c_n")))
    Chain(viewClickIn(seed, p.nWaves, p.mode, p.delay), if (outer) "ajo" else "aj",
      p.delay + 3 * p.width + 10000000L,
      windowJoin.andThen(output(Seq("user_id" -> col("user_id"),
        "window_start_ms" -> start()) ++ same("v_n", "c_n"): _*)),
      Seq("user_id", "window_start_ms"))
  }

  /** IN-SPARK batch twin of the Family P drive: per-side kept rows
    * under the two-sided lagged watermark (window-based drop rule),
    * aggregated per (user, tumbling window), inner-joined.
    */
  def aggJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggJoinChain(aggJoinP(seed), seed, outer = false).twin

  /** IN-SPARK batch twin of the Family Q drive (left join of the two
    * kept-rows aggregates).
    */
  def aggJoinOuterTwin(seed: Long): (SparkSession, String) => DataFrame =
    aggJoinChain(aggJoinOuterP(seed), seed, outer = true).twin

  private[graft] case class UnionJoinP(nWaves: Int, mode: String,
      delayV: Long, delayS: Long, delayC: Long, window: Long)

  private[graft] def unionJoinP(seed: Long): UnionJoinP = {
    val (rnd, nWaves, mode, delayV) =
      draws(seed, 0xD6E8FEB86659FD93L, 0x9E3779B97F4A7C15L)
    val menu = delayMenu(mode)
    UnionJoinP(nWaves, mode, delayV, menu(rnd.nextInt(3)),
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
  private def unionJoinChain(seed: Long): Chain = {
    val p = unionJoinP(seed)
    val types = Seq("view", "signup", "click")
    def leg(ty: String, delay: Long) =
      side(ty, "euser", "et", delay, "ems", tag = Some("etype"))
    Chain(Input(seed, p.nWaves, p.mode, typed(types: _*), "user_id, event_type",
        types.zip(Seq(p.delayV, p.delayS, p.delayC)),
        "event_type IN ('view', 'signup', 'click')"),
      "uj", p.delayV + p.delayS + p.delayC + 3 * p.window + 10000000L,
      intervalJoin(union(leg("view", p.delayV), leg("signup", p.delayS)),
          side("click", "cuser", "ct", p.delayC, "click_ms"), p.window, "inner",
          ("euser", "et", "ems"), ("cuser", "ct", "click_ms"))
        .andThen(output("user_id" -> col("euser"), "etype" -> col("etype"),
          "ems" -> unix_millis(col("et")), "click_ms" -> unix_millis(col("ct")))),
      Seq("user_id", "etype", "ems", "click_ms"))
  }

  private def genUnionJoin(seed: Long, cfg: DriveCfg): SGen = unionJoinChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family R drive. */
  def unionJoinTwin(seed: Long): (SparkSession, String) => DataFrame =
    unionJoinChain(seed).twin

  private[graft] case class TwsAggP(nWaves: Int, mode: String, delay: Long,
      bucket: Long, k: Int) {
    def aggW: Long = k * bucket
  }

  private[graft] def twsAggP(seed: Long): TwsAggP = {
    val (rnd, nWaves, mode, delay) =
      draws(seed, 0xA0761D6478BD642FL, 0xE7037ED1A0B428DBL)
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
    * lagged bound is the one-sided [[lagCtes]] replay.
    */
  private def twsAggChain(seed: Long): Chain = {
    val p = twsAggP(seed)
    Chain(Input(seed, p.nWaves, p.mode,
        _.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), expr("us div 1000").as("ms")),
        "user_id", Seq("" -> p.delay), "event_type = 'view'"),
      "twsagg", p.delay + 3 * p.aggW + 3 * p.bucket + 10000000L,
      admit(p.bucket, p.delay, None, "ms")
        .andThen(tumble(p.aggW, col("viewTs"), "ms", Nil,
          Aggs(Seq(count(lit(1)).as("n"), sum(col("key")).cast("long").as("sum_uid")),
            "COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_uid",
            Seq(count(lit(1)).as("n"), sum(col("user_id")).cast("long").as("sum_uid")))))
        .andThen(output(Seq("window_start_ms" -> start()) ++ same("n", "sum_uid"): _*)),
      Seq("window_start_ms"), sink = hi => col("window_start_ms") <= hi,
      rocksDb = true)
  }

  private def genTwsAgg(seed: Long, cfg: DriveCfg): SGen = twsAggChain(seed).gen(cfg)

  /** IN-SPARK batch twin of the Family S drive: kept views under the
    * one-sided lagged watermark, (wave, ms)-ordered first-admission per
    * (user, bucket), grouped at the aligned coarse window.
    */
  def twsAggTwin(seed: Long): (SparkSession, String) => DataFrame =
    twsAggChain(seed).twin

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
  // hand-written: the session stage re-opens emitted sessions, so the
  // oracle is family C's staged replay closed under the rollup GROUP BY
  private def genSessRollup(seed: Long, cfg: DriveCfg): SGen = {
    val p = sessRollupP(seed)
    val margin = p.delay + 3 * p.gap + 3 * p.w + 10000000L
    val in = sessionIn(seed, p.nWaves, p.mode, p.delay, value = false)

    val build = (spark: SparkSession, dir: String) =>
      in.drive(spark, dir, "srol", cfg, margin) { src =>
        src.select(col("key"), timestamp_millis(col("ms")).as("t"))
          .withWatermark("t", s"${p.delay} milliseconds")
          .groupBy(session_window(col("t"), s"${p.gap} milliseconds"),
            col("key"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(window(window_time(col("session_window")),
            s"${p.w} milliseconds"), col("key"))
          .agg(sum(col("n_events")).as("n_events_w"),
            count(lit(1)).as("n_sessions"))
          .select(col("key").as("user_id"),
            unix_millis(col("window.start")).as("w_start_ms"),
            col("n_events_w"), col("n_sessions"))
      }._1.filter(col("user_id") >= 0L).orderBy(col("user_id"), col("w_start_ms"))

    val sql =
      s"""${in.ctes},
        |kept AS (SELECT user_id, ms, wave FROM x WHERE ms + ${p.gap} > lwm),
        |${sessionReplaySql("kept", "", p.delay, p.gap, p.nWaves, margin)},
        |sess AS (
        |  SELECT user_id, MAX(ms) + ${p.gap} AS end_ms, COUNT(*) AS n_events
        |  FROM s${p.nWaves + 1} GROUP BY user_id, est, esid)
        |SELECT user_id, ((end_ms - 1) // ${p.w}) * ${p.w} AS w_start_ms,
        |       CAST(SUM(n_events) AS BIGINT) AS n_events_w,
        |       CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM sess GROUP BY user_id, ((end_ms - 1) // ${p.w}) * ${p.w}
        |ORDER BY user_id, w_start_ms""".stripMargin
    SGen(seed, build, sql)
  }

  /** IN-SPARK batch twin of the Family V drive: family C's staged
    * session replay (value-less — the rollup only counts), closed under
    * the tumble GROUP BY on `((end_ms - 1) DIV W) * W`; V's sentinel
    * margin also clears 3 rollup widths.
    */
  def sessRollupTwin(seed: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val p = sessRollupP(seed)
      val base = sessionIn(seed, p.nWaves, p.mode, p.delay, value = false)
        .lagged(spark, dir)
      sessionReplayTwin(
        base.filter(col("ms") + p.gap > col("lwm"))
          .select(col("user_id"), col("ms"), col("wave")),
        base, p.delay, p.gap, p.nWaves, p.delay + 3 * p.gap + 3 * p.w + 10000000L)
        .groupBy(col("user_id"), col("est"), col("esid"))
        .agg((max(col("ms")) + p.gap).as("end_ms"),
          count(lit(1)).as("n_events"))
        .groupBy(col("user_id"),
          expr(s"((end_ms - 1) DIV ${p.w}L) * ${p.w}L").as("w_start_ms"))
        .agg(sum(col("n_events")).as("n_events_w"),
          count(lit(1)).as("n_sessions"))
        .select(col("user_id"), col("w_start_ms"),
          col("n_events_w"), col("n_sessions"))
        .orderBy(col("user_id"), col("w_start_ms"))
    }

  /** One streaming fuzz family: its seed floor, its letter, and the
    * seed's params, generator and batch twin.
    */
  private[graft] case class Family(floor: Long, name: String,
      params: Long => Product, gen: (Long, DriveCfg) => SGen,
      twin: Long => (SparkSession, String) => DataFrame)

  /** THE seed→family table, in floor order: [[generate]], [[twinFor]]
    * and [[paramsFor]] all resolve a seed through [[familyFor]] (their
    * copies once drifted — a probe mis-dispatched sub-JoinJoin seeds).
    */
  private[graft] val families: Seq[Family] = Seq(
    Family(AggSeedFloor, "A", aggP, genAgg, aggTwin),
    Family(QuotaSeedFloor, "B", quotaP, genQuota, quotaTwin),
    Family(SessionSeedFloor, "C", sessionP, genSession, sessionTwin),
    Family(JoinSeedFloor, "D", joinP, genJoin, joinTwin),
    Family(DedupSeedFloor, "E", dedupP, genDedup, dedupTwin),
    Family(DedupWmSeedFloor, "F", dedupWmP, genDedupWm, dedupWmTwin),
    Family(JoinExtSeedFloor, "G", joinPExt, genJoinExt, joinExtTwin),
    Family(ChainSeedFloor, "H", chainP, genChain, chainTwin),
    Family(UnionSeedFloor, "I", unionP, genUnion, unionTwin),
    Family(AggAggSeedFloor, "J", aggAggP, genAggAgg, aggAggTwin),
    Family(Chain3SeedFloor, "K", chain3P, genChain3, chain3Twin),
    Family(TwsJoinSeedFloor, "L", twsJoinP, genTwsJoin, twsJoinTwin),
    Family(DedupAggSeedFloor, "M", dedupAggP, genDedupAgg, dedupAggTwin),
    Family(JoinJoinSeedFloor, "N", joinJoinP, genJoinJoin, joinJoinTwin),
    Family(DedupJoinSeedFloor, "O", dedupJoinP, genDedupJoin, dedupJoinTwin),
    Family(AggJoinSeedFloor, "P", aggJoinP, genAggJoin, aggJoinTwin),
    Family(AggJoinOuterSeedFloor, "Q", aggJoinOuterP, genAggJoinOuter,
      aggJoinOuterTwin),
    Family(UnionJoinSeedFloor, "R", unionJoinP, genUnionJoin, unionJoinTwin),
    Family(TwsAggSeedFloor, "S", twsAggP, genTwsAgg, twsAggTwin),
    Family(DedupSessSeedFloor, "T", dedupSessP, genDedupSess, dedupSessTwin),
    Family(JoinDedupSeedFloor, "U", joinDedupP, genJoinDedup, joinDedupTwin),
    Family(SessRollupSeedFloor, "V", sessRollupP, genSessRollup,
      sessRollupTwin))

  /** The family owning `seed` (seeds below the first floor belong to
    * family A). The [20000, 40000) gap belongs to QueryFuzz: silently
    * routing it to family P would drive a batch-owned seed under a
    * colliding fuzz_q name, so it is a hard error.
    */
  private[graft] def familyFor(seed: Long): Family =
    if (seed >= BatchOwnedFloor && seed < AggJoinOuterSeedFloor)
      throw new IllegalArgumentException(
        s"seed $seed is in the QueryFuzz-owned batch range " +
          s"[$BatchOwnedFloor, $AggJoinOuterSeedFloor); streaming seeds " +
          "are below 20000 or at 40000+")
    else families.takeWhile(_.floor <= seed).lastOption
      .getOrElse(families.head)

  /** Deterministic per-seed rendering (same contract as
    * [[QueryFuzz.generate]]); `cfg` only varies HOW the seed is driven —
    * the oracle SQL is cfg-independent by construction.
    */
  def generate(seed: Long, cfg: DriveCfg = DriveCfg()): SGen =
    familyFor(seed).gen(seed, cfg)

  /** The seed's in-Spark batch twin. */
  def twinFor(seed: Long): (SparkSession, String) => DataFrame =
    familyFor(seed).twin(seed)

  /** The family params for a seed (scanner/probe labeling). */
  def paramsFor(seed: Long): Product = familyFor(seed).params(seed)

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

  private[graft] val RestartCfg = DriveCfg(tag = "r", restart = true)
  private[graft] val MultiCfg =
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
