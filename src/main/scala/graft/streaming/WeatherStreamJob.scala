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
    * deployment wants). Executor-parallel `foreachPartition` with one
    * connection + prepared UPDATE/INSERT pair per partition, committed
    * per partition — the portable upsert that needs no engine-specific
    * MERGE syntax.
    */
  def jdbcUpsertSink(url: String, table: String): (DataFrame, Long) => Unit =
    (batch, _) => {
      keyPartitioned(batch).foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val conn = java.sql.DriverManager.getConnection(url)
          var done = false
          try {
            conn.setAutoCommit(false)
            upsertRows(conn, table, rows)
            conn.commit()
            done = true
          } finally {
            // a failed partition must leave nothing behind: roll back the
            // open transaction before close (embedded drivers like Derby
            // refuse to close a connection with an active transaction).
            // On the failure path BOTH cleanup calls are guarded so the
            // ORIGINAL task exception propagates, not a broken
            // connection's rollback/close error masking it.
            if (!done) {
              try conn.rollback() catch { case _: Exception => () }
              try conn.close() catch { case _: Exception => () }
            } else conn.close()
          }
        }
      }
    }

  /** Fixed partition count for [[jdbcExactlyOnceSink]]: the ledger keys
    * on partition id, so partition boundaries MUST be identical across a
    * crash/restart. An explicit count makes the hash partitioning a pure
    * function of the data — independent of `spark.sql.shuffle.partitions`
    * changes or AQE coalescing decisions between runs.
    */
  val ExactlyOncePartitions = 16

  /** Exactly-once delivery on top of the upsert: every partition writes
    * its rows AND a `(sink, batch_id, partition_id)` ledger entry in the
    * SAME JDBC transaction, and skips itself if its entry already
    * exists. foreachBatch is at-least-once — after a crash between a
    * partition's commit and the checkpoint's, Spark REPLAYS the whole
    * micro-batch (same batch_id; same content and partitioning, pinned
    * by [[ExactlyOncePartitions]]), and each already-committed partition
    * no-ops: the rows and the ledger mark landed atomically, so no
    * replay ordering can duplicate rows or half-apply a partition.
    * Fully executor-parallel — the ledger is written by the same
    * per-partition connections, no driver coordination beyond the batch
    * id Spark already supplies.
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
    * attempts for the same partition can both pass the check, and only
    * the key constraint makes the second mark's INSERT abort its whole
    * transaction instead of double-applying the upserts. Prefer
    * `spark.speculation=false` (the default) for JDBC sinks regardless.
    *
    * Crash atomicity: any failure between the upsert and the ledger mark
    * rolls the open transaction back before the connection closes, so a
    * half-applied partition can never become visible (asserted under an
    * injected crash in WeatherStreamSpec).
    *
    * `connect` is the connection factory (a test seam for fault
    * injection; production uses the DriverManager default).
    */
  def jdbcExactlyOnceSink(url: String, table: String,
      ledger: String = "batch_commits",
      connect: String => java.sql.Connection =
        java.sql.DriverManager.getConnection(_)): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      keyPartitioned(batch).foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val conn = connect(url)
          var done = false
          try {
            conn.setAutoCommit(false)
            requireLedgerKey(conn, url, ledger)
            val chk = conn.prepareStatement(
              s"""SELECT 1 FROM $ledger WHERE "sink" = ? AND "batch_id" = ? AND "partition_id" = ?""")
            chk.setString(1, table); chk.setLong(2, batchId); chk.setInt(3, pid)
            if (!chk.executeQuery().next()) {
              upsertRows(conn, table, rows)
              val mark = conn.prepareStatement(
                s"""INSERT INTO $ledger ("sink", "batch_id", "partition_id") VALUES (?, ?, ?)""")
              mark.setString(1, table); mark.setLong(2, batchId); mark.setInt(3, pid)
              mark.executeUpdate()
              conn.commit() // rows + ledger mark are atomic
            } else conn.rollback() // end the SELECT's read transaction
            done = true
          } finally {
            // crash window (post-upsert, pre-mark): leave NOTHING behind;
            // cleanup guarded so the original failure propagates
            if (!done) {
              try conn.rollback() catch { case _: Exception => () }
              try conn.close() catch { case _: Exception => () }
            } else conn.close()
          }
        }
      }
    }

  // one verification per (url, ledger) per JVM; a failed check is not
  // cached so every task re-checks and re-throws until the DDL is fixed
  private val ledgerVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Enforce the exactly-once ledger contract: a UNIQUE index (PK) on
    * exactly ("sink", "batch_id", "partition_id"). Without it, two racing
    * attempts for one partition could both pass the existence check and
    * both commit — the constraint is what turns the second mark into a
    * transaction abort.
    *
    * The metadata probe passes a null schema (searches the connection's
    * default/search-path scope): if the target store resolves the ledger
    * through a search path AND another schema holds a same-named keyed
    * table, the probe could validate the wrong one — qualify the ledger
    * name (`schema.table`) in such deployments.
    */
  private def requireLedgerKey(conn: java.sql.Connection, url: String,
      ledger: String): Unit = {
    val key = s"$url#$ledger"
    if (!ledgerVerified.contains(key)) {
      val md = conn.getMetaData
      val need = Set("sink", "batch_id", "partition_id")
      // identifier case differs per store (Derby/Postgres fold unquoted
      // names differently), so probe the spellings
      val ok = Seq(ledger, ledger.toUpperCase, ledger.toLowerCase).distinct
        .exists { t =>
          val rs = md.getIndexInfo(null, null, t, true, false)
          val idxCols = scala.collection.mutable.Map
            .empty[String, scala.collection.mutable.Set[String]]
          while (rs.next()) {
            val idx = rs.getString("INDEX_NAME")
            val c = rs.getString("COLUMN_NAME")
            if (idx != null && c != null)
              idxCols.getOrElseUpdate(idx,
                scala.collection.mutable.Set.empty) += c.toLowerCase
          }
          idxCols.values.exists(_ == need)
        }
      if (!ok) throw new IllegalStateException(
        s"exactly-once ledger '$ledger' lacks a unique key on " +
          """("sink", "batch_id", "partition_id") — required to make """ +
          "racing partition attempts abort instead of double-applying")
      ledgerVerified.add(key)
    }
  }

  /** Shared by the JDBC upsert sinks: exactly-once per key requires each
    * (ts, lat, lon) to land in ONE partition — two partitions holding
    * the same key could race their UPDATE-then-INSERT and write
    * duplicates. The explicit partition count keeps the hash
    * partitioning deterministic across restarts (see
    * [[ExactlyOncePartitions]]).
    */
  private def keyPartitioned(batch: DataFrame): DataFrame =
    batch.select(
        col("event_time").cast("timestamp").as("ts"),
        col("lat"), col("lon"), col("hourly_precipitation"))
      .repartition(ExactlyOncePartitions, col("ts"), col("lat"), col("lon"))

  /** One connection's worth of key upserts (UPDATE, INSERT on miss).
    *
    * Per-row statements on purpose. JDBC batching (`addBatch` /
    * `executeBatch` for the UPDATEs, then the missed keys' INSERTs) was
    * measured and not shipped: a standalone harness on embedded Derby
    * 10.16, with the unique-key DDL the benchmark uses and 16 partitions
    * on 4 threads, warm, costs 108-132 ms per 5000-row batch of all-new
    * keys with per-row statements and 100-120 ms batched (about 10 ms of
    * a ~700 ms trigger); a 250-row hot-key batch costs 7-9 ms either way.
    * Embedded Derby has no network round trip for batching to save, so
    * batching ships only with a rows/s gain measured against a networked
    * database.
    */
  private def upsertRows(conn: java.sql.Connection, table: String,
      rows: Iterator[Row]): Unit = {
    val upd = conn.prepareStatement(
      s"""UPDATE $table SET "hourly_precipitation" = ?
         | WHERE "timestamp" = ? AND "lat" = ? AND "lon" = ?""".stripMargin)
    val ins = conn.prepareStatement(
      s"""INSERT INTO $table ("timestamp", "lat", "lon", "hourly_precipitation")
         | VALUES (?, ?, ?, ?)""".stripMargin)
    rows.foreach { r =>
      val ts = r.getTimestamp(0)
      val lat = r.getDouble(1); val lon = r.getDouble(2)
      val precip = r.getDouble(3)
      upd.setDouble(1, precip); upd.setTimestamp(2, ts)
      upd.setDouble(3, lat); upd.setDouble(4, lon)
      if (upd.executeUpdate() == 0) {
        ins.setTimestamp(1, ts); ins.setDouble(2, lat)
        ins.setDouble(3, lon); ins.setDouble(4, precip)
        ins.executeUpdate()
      }
    }
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
