package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family lives in its own module under graft.operators;
  * each module exposes `queries` (name -> (spark, sfDir) => DataFrame) and
  * `oracles` (name -> equivalent DuckDB SQL). This object is the union.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's ENTIRE pipeline end to end — a real PollingSource
    * staging poll rounds (S1, weather_stream.py:62-88), producer math
    * (A1/P5-P7/P9, weather_stream.py:124-138), and the full consumer chain
    * (P1-P4/A2/P8, weather_processor.py:108-141) — with a poller restart
    * on the checked path. Chosen over the events-backed weatherPipeline
    * twin because it exercises strictly more of the reference and has no
    * fixture-type dependence (r6's t1 red came from the twin's).
    */
  def entry(spark: SparkSession): DataFrame =
    WeatherOps.weatherE2ePoll(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ §2.5),
    * plus the fixed-seed generated differential queries (fuzz_q*).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    WeatherOps.queries ++ RelationalOps.queries ++ TextOps.queries ++
      DedupOps.queries ++ SimilarityOps.queries ++ EventOps.queries ++
      MultimodalOps.queries ++ JoinOps.queries ++ RangeJoinOps.queries ++
      SourceOps.queries ++ StatsOps.queries ++ TimeSeriesOps.queries ++
      graft.fuzz.QueryFuzz.queries ++ graft.fuzz.StreamFuzz.queries

  /** The oracle-driven STREAMING drives: queries whose wall time is
    * dominated by micro-batch/trigger machinery (wave staging, state
    * store commits, watermark advancement), not operator cost. Bench
    * reports them in their own `streaming_sec` subtotal so the batch
    * headline stays comparable round over round — adding a drive must
    * not read as a batch regression. BenchSplitSpec asserts every name
    * here exists in [[queries]], so registry drift cannot silently
    * misclassify.
    */
  val streamingQueries: Set[String] =
    // every EventOps wave drive, by construction: EventOps registers
    // drives through one drive() helper that feeds BOTH its query map
    // and streamingQueryNames, and WaveHarness trips at runtime if a
    // batch-registered query ever reaches the wave machinery (closes
    // the r10 events_sessionize_window misclassification as a class)
    EventOps.streamingQueryNames ++
    Set("source_jsonl_stream_rt",
      // the flagship e2e poll drives a real PollingSource poll/restart
      // sequence — wall time is poll rounds, not the consumer plan
      "weather_e2e_poll") ++
    // every streaming-fuzz drive (plain, restart, multi-file) is a wave
    // drive by construction
    graft.fuzz.StreamFuzz.queryNames

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    WeatherOps.oracles ++ RelationalOps.oracles ++ TextOps.oracles ++
      DedupOps.oracles ++ SimilarityOps.oracles ++ EventOps.oracles ++
      MultimodalOps.oracles ++ JoinOps.oracles ++ RangeJoinOps.oracles ++
      SourceOps.oracles ++ StatsOps.oracles ++ TimeSeriesOps.oracles ++
      graft.fuzz.QueryFuzz.oracles ++ graft.fuzz.StreamFuzz.oracles
}
