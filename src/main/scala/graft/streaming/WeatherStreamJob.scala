package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.WeatherOps

/** Structured Streaming layer — the reference consumer re-expressed over
  * the same plan fragments as the batch path (WeatherOps).
  *
  * Reference behavior preserved (weather_processor.py:144-151):
  * - update output mode, stateful groupBy-sum with NO watermark: every
  *   re-observed (timestamp, lat, lon) key re-emits its accumulated sum,
  *   and state is unbounded — exactly the reference's semantics
  *   (SURVEY.md §2.3 A2). [[boundedStateAgg]] is the documented
  *   deviation-available variant with a watermark for production use.
  * - foreachBatch sink. The reference collect()s each batch to the driver
  *   and row-loops INSERTs (weather_processor.py:238-250) — the scalability
  *   ceiling called out in SURVEY.md §3.3. Here the batch DataFrame is
  *   written executor-parallel (parquet append in tests; swap the writer
  *   lambda for `.format("jdbc")` against Postgres for full parity —
  *   same rows, no driver bottleneck).
  * - Kafka source shape (S3): `readStream.format("kafka")` with
  *   subscribe/startingOffsets options — [[fromKafka]]; tests drive the
  *   identical plan via MemoryStream instead (no broker in this
  *   container).
  * - trigger: 60 s processing time matching the producer poll cadence
  *   (weather_stream.py:26,157-159).
  * - checkpointLocation is required here (the reference runs without one
  *   and replays the topic on restart — documented deviation, SURVEY.md
  *   §2.1 S5).
  */
object WeatherStreamJob {

  /** Kafka streaming scan, reference S3 (weather_processor.py:59-64). */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** [[fromKafka]] behind the reference consumer's connect-time retry
    * loop (weather_processor.py:28-77: x10, 2 s between attempts, raise
    * after exhaustion).
    */
  def fromKafkaWithRetry(spark: SparkSession, bootstrap: String, topic: String,
      retries: Int = 10, delayMs: Long = 2000L): DataFrame =
    Retry.connect("kafka-source", retries, delayMs)(
      fromKafka(spark, bootstrap, topic))

  /** The streaming aggregation over any source that provides a `value`
    * column (Kafka scan or MemoryStream) — the exact batch plan fragments.
    */
  def aggregate(source: DataFrame): DataFrame = {
    val flat = WeatherOps.flatten(
      WeatherOps.parseJson(WeatherOps.castValueAsString(source)))
    WeatherOps.hourlyAgg(flat)
  }

  /** Production variant with bounded state: event-time watermark over the
    * parsed epoch so state for closed windows is dropped. Changes emitted
    * results for very-late data (documented deviation from the reference).
    */
  def boundedStateAgg(source: DataFrame, delayThreshold: String = "2 hours"): DataFrame = {
    val flat = WeatherOps.flatten(
      WeatherOps.parseJson(WeatherOps.castValueAsString(source)))
      .withColumn("event_ts", to_timestamp(from_unixtime(col("timestamp").cast("long"))))
      .withWatermark("event_ts", delayThreshold)
    flat.groupBy(col("event_ts"), col("lat"), col("lon"))
      .agg(sum(col("total_precipitation")).as("hourly_precipitation"))
  }

  /** Event-time tumbling-window aggregation with a watermark — the
    * idiomatic Structured Streaming form of "hourly precipitation" that
    * the reference approximates by grouping on the raw timestamp string
    * (SURVEY.md §2.3). Append mode: a window emits once, when the
    * watermark passes its end; state for closed windows is dropped.
    */
  def tumblingHourlyAgg(source: DataFrame, delayThreshold: String = "2 hours"): DataFrame = {
    val flat = WeatherOps.flatten(
      WeatherOps.parseJson(WeatherOps.castValueAsString(source)))
      .withColumn("event_ts", to_timestamp(from_unixtime(col("timestamp").cast("long"))))
      .withWatermark("event_ts", delayThreshold)
    flat.groupBy(window(col("event_ts"), "1 hour"), col("lat"), col("lon"))
      .agg(sum(col("total_precipitation")).as("hourly_precipitation"))
      .select(col("window.start").as("hour_start"), col("lat"), col("lon"),
        col("hourly_precipitation"))
  }

  /** foreachBatch writer (reference S5+S6), executor-parallel. Defaults
    * reproduce the reference: update mode, and each micro-batch passes
    * through the null-rejection filter (P4) + epoch conversion (P8) before
    * `sinkWriter`. [[tumblingHourlyAgg]] output composes via
    * `outputMode = OutputMode.Append()` and `clean = identity` (it emits
    * `hour_start`, not the raw `timestamp` the default cleaner expects).
    * Installs [[ForkFreeCheckpointFileManager]] on the session unless it
    * names a checkpoint file manager of its own.
    */
  def start(aggregated: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      outputMode: OutputMode = OutputMode.Update(),
      clean: DataFrame => DataFrame =
        b => WeatherOps.withEventTime(WeatherOps.rejectNulls(b)))(
      sinkWriter: (DataFrame, Long) => Unit): StreamingQuery = {
    ForkFreeCheckpointFileManager.install(aggregated.sparkSession)
    aggregated.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sinkWriter(clean(batch), id)
      }
      .start()
  }

  /** [[start]] behind the reference producer's connect-time retry loop
    * (weather_stream.py:33-91: x10, 2 s) — a sink whose first connection
    * attempt fails transiently (checkpoint dir on flaky storage, DB not
    * yet up) gets the reference's ten chances before a loud abort.
    */
  def startWithRetry(aggregated: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      outputMode: OutputMode = OutputMode.Update(),
      clean: DataFrame => DataFrame =
        b => WeatherOps.withEventTime(WeatherOps.rejectNulls(b)),
      retries: Int = 10, delayMs: Long = 2000L)(
      sinkWriter: (DataFrame, Long) => Unit): StreamingQuery =
    Retry.connect("stream-start", retries, delayMs)(
      start(aggregated, checkpointDir, trigger, outputMode, clean)(sinkWriter))

  /** Parquet sink writer for tests/local runs: executor-parallel append
    * with the Postgres table's columns (init.sql:1-7; id is sink-generated
    * there, so not emitted here).
    */
  def parquetSink(outDir: String): (DataFrame, Long) => Unit = (batch, _) =>
    batch.select(col("event_time"), col("lat"), col("lon"), col("hourly_precipitation"))
      .write.mode("append").parquet(outDir)

  /** Replay-safe parquet sink: the micro-batch id becomes a partition
    * directory written with overwrite, so a batch REPLAYED after a
    * failure (foreachBatch is at-least-once) replaces its own previous
    * attempt instead of appending duplicates — exactly-once delivery to
    * the file sink given Spark's deterministic batch replay. The plain
    * [[parquetSink]] keeps the reference's duplicating append semantics.
    */
  def idempotentParquetSink(outDir: String): (DataFrame, Long) => Unit =
    (batch, id) =>
      batch.select(col("event_time"), col("lat"), col("lon"),
        col("hourly_precipitation"))
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")

  /** JDBC sink writer — the reference's core output (S6,
    * weather_processor.py:238-250 + init.sql:1-7), executor-parallel:
    * `.format("jdbc")` append opens one connection per partition and
    * batches inserts, replacing the reference's driver `collect()` +
    * row-by-row INSERT (its scalability ceiling, SURVEY.md §3.3). Same
    * rows inserted: the `id SERIAL` column is sink-generated so not
    * emitted, and append-only (no upsert) means update-mode re-emissions
    * duplicate rows exactly like the reference.
    */
  def jdbcSink(url: String, table: String,
      options: Map[String, String] = Map.empty): (DataFrame, Long) => Unit =
    (batch, _) =>
      batch.select(
          col("event_time").cast("timestamp").as("timestamp"),
          col("lat"), col("lon"), col("hourly_precipitation"))
        .write.mode("append").format("jdbc")
        .option("url", url).option("dbtable", table)
        .options(options)
        .save()

  /** Production upsert variant of [[jdbcSink]]: update-mode re-emissions
    * REPLACE the key's row instead of appending a duplicate (the
    * reference's append-only sink writes one row per re-emission —
    * preserved in [[jdbcSink]] for parity; this is the deviation a real
    * deployment wants). Runs the [[jdbcExactlyOnceSink]] task layout with
    * the ledger steps left out: one connection per task, and per hash
    * bucket an UPDATE/INSERT pair committed as one transaction — the
    * portable upsert that needs no engine-specific MERGE syntax. The
    * table must carry a unique index on ("timestamp", "lat", "lon");
    * both upsert sinks refuse one without it before writing anything.
    */
  def jdbcUpsertSink(url: String, table: String): (DataFrame, Long) => Unit =
    (batch, _) => writeBuckets(batch, new JdbcBucketWriter(url, table, None, 0L,
      java.sql.DriverManager.getConnection(_)))

  /** Fixed bucket count for [[jdbcExactlyOnceSink]]: the ledger keys on
    * the bucket id, so bucket boundaries MUST be identical across a
    * crash/restart. An explicit count makes the hash bucketing a pure
    * function of the data — independent of `spark.sql.shuffle.partitions`
    * changes, AQE coalescing decisions or the core count between runs.
    */
  val ExactlyOncePartitions = 16

  /** Exactly-once delivery on top of the upsert: every hash bucket writes
    * its rows AND a `(sink, batch_id, partition_id)` ledger entry in the
    * SAME JDBC transaction, and skips itself if its entry already
    * exists. foreachBatch is at-least-once — after a crash between a
    * bucket's commit and the checkpoint's, Spark REPLAYS the whole
    * micro-batch (same batch_id; same content and bucketing, pinned by
    * [[ExactlyOncePartitions]]), and each already-committed bucket
    * no-ops: the rows and the ledger mark landed atomically, so no
    * replay ordering can duplicate rows or half-apply a bucket.
    * Fully executor-parallel — the ledger is written by the same
    * per-task connections, no driver coordination beyond the batch id
    * Spark already supplies.
    *
    * Task layout. The bucket is the partition index of the 16-way key
    * exchange, as it was when each bucket ran as its own task, so
    * `partition_id` values, the mark count and restart determinism do not
    * depend on how buckets are grouped into tasks. The 16 buckets run in
    * `min(16, defaultParallelism)` tasks (`coalesce`, no second shuffle),
    * each a [[JdbcBucketWriter]] over `InternalRow`s with one connection
    * and one transaction per bucket. Measured at local[4] on 4 vCPUs with
    * 16 tasks per batch: in a `catchup_replay` task the median connect
    * took 0.42 ms, the ledger probe 0.11 ms, the mark 0.15 ms and the
    * commit 0.22 ms against 41 ms for 313 upserts, so connections and the
    * ledger are not the cost. On `live_hot_keys` (~13 rows per bucket) a
    * sink task's body took 2.4 ms but the sink stage 89 ms per trigger
    * (p50): every task deserialized the task binary, generated a
    * `SafeProjection` for the Row deserializer (in a JFR profile as
    * costly as the upserts themselves, 139 vs 154 samples), and 16 tasks
    * ran in 4 waves on 4 cores. That cost is per task, not per row, so the
    * buckets share one task per core.
    *
    * The `sink` column scopes entries to this target table, so multiple
    * queries may share one ledger table. Batch ids are scoped to a
    * CHECKPOINT: re-pointing a query at a fresh checkpoint restarts them
    * at 0, so delete the sink's ledger rows (and its data) when doing
    * that — same operational rule as every batch-id-based sink.
    *
    * LEDGER CONTRACT: the ledger table MUST carry a PRIMARY KEY (or
    * unique constraint) on ("sink", "batch_id", "partition_id") — it is
    * verified once per JVM at first use and the sink refuses to run
    * without it. The SELECT-then-INSERT check alone is not atomic: under
    * speculative execution (or a zombie task racing its retry) two
    * attempts for the same bucket can both pass the check, and only the
    * key constraint makes the second mark's INSERT abort its whole
    * transaction instead of double-applying the upserts. Prefer
    * `spark.speculation=false` (the default) for JDBC sinks regardless.
    *
    * Crash atomicity: any failure between the upsert and the ledger mark
    * rolls the open transaction back before the connection closes, so a
    * half-applied bucket can never become visible (asserted under an
    * injected crash in WeatherStreamSpec). A transient rollback
    * (SQLState class 40) is retried on the bucket's transaction.
    *
    * `connect` is the connection factory (a test seam for fault
    * injection; production uses the DriverManager default).
    */
  def jdbcExactlyOnceSink(url: String, table: String,
      ledger: String = "batch_commits",
      connect: String => java.sql.Connection =
        java.sql.DriverManager.getConnection(_)): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      writeBuckets(batch, new JdbcBucketWriter(url, table, Some(ledger), batchId, connect))

  /** Runs `writer` over the key-bucketed batch in
    * `min(ExactlyOncePartitions, defaultParallelism)` tasks.
    *
    * Exactly-once per key requires each (ts, lat, lon) to land in ONE
    * bucket — two transactions holding the same key could race their
    * UPDATE-then-INSERT and write duplicates. The 16-way exchange puts
    * each key in one partition, whose index is the bucket id. `coalesce`
    * runs whole parent partitions one after another, so each task's
    * writer gets exactly one `(bucket, rows)` pair per bucket.
    */
  private def writeBuckets(batch: DataFrame, writer: JdbcBucketWriter): Unit = {
    val tasks = math.min(ExactlyOncePartitions,
      batch.sparkSession.sparkContext.defaultParallelism)
    batch.select(
        col("event_time").cast("timestamp").as("ts"),
        col("lat"), col("lon"), col("hourly_precipitation"))
      .repartition(ExactlyOncePartitions, col("ts"), col("lat"), col("lon"))
      .queryExecution.toRdd
      .mapPartitionsWithIndex((bucket, rows) => Iterator(bucket -> rows))
      .coalesce(tasks)
      .foreachPartition(writer)
  }

  /** Kafka sink (producer side, reference S2): message value built by
    * WeatherOps.kafkaShapedMessages (P9), delivery semantics surfaced as
    * the reference's producer config (weather_stream.py:67-81: acks=all,
    * retries=5, batch_size=16384, linger_ms=0; the sync per-record ack at
    * :142 has no Spark analog — the checkpoint provides the at-least-once
    * guarantee instead). Returns the configured writer unstarted: no
    * broker (or kafka connector jar) exists in this container, so
    * execution is exercised only via the message-contract tests.
    */
  def toKafka(messages: DataFrame, bootstrap: String, topic: String,
      checkpointDir: String): DataStreamWriter[Row] =
    messages.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("kafka.acks", "all")
      .option("kafka.retries", "5")
      .option("kafka.batch.size", "16384")
      .option("kafka.linger.ms", "0")
      .option("checkpointLocation", checkpointDir)
}
