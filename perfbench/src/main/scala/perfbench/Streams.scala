package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.WeatherStreamJob

/** One reference-shaped Kafka message (weather_stream.py:131-138). */
final case class Msg(ts: Long, lat: Double, lon: Double, precip: Double) {
  def json: String = {
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    s"""{"timestamp": $ts, "total_precipitation": ${num(precip)}, """ +
      s""""location": {"lat": ${num(lat)}, "lon": ${num(lon)}}}"""
  }
  def key: (Long, Double, Double) = (ts, lat, lon)
}

/** The stream workloads' shared parts: the input directory that stands in
  * for the Kafka topic, the Derby sink, the progress and sink-call records,
  * and the output checks.
  */
object Streams {

  /** The sink table is `init.sql`'s data columns plus a UNIQUE index on the
    * upsert key. It leaves out the surrogate `id SERIAL`, which the sink
    * never writes: Derby's identity generator fails under the sink's
    * concurrent partition transactions (NOTES.md, open defects). The ledger
    * carries the key the exactly-once sink requires.
    */
  val SinkDdl: Seq[String] = Seq(
    """CREATE TABLE weather_data (
      |"timestamp" TIMESTAMP NOT NULL, "lat" DOUBLE NOT NULL,
      |"lon" DOUBLE NOT NULL, "hourly_precipitation" DOUBLE NOT NULL)""".stripMargin,
    """CREATE UNIQUE INDEX weather_data_key
      |ON weather_data ("timestamp", "lat", "lon")""".stripMargin,
    """CREATE TABLE batch_commits (
      |"sink" VARCHAR(128) NOT NULL, "batch_id" BIGINT NOT NULL,
      |"partition_id" INT NOT NULL,
      |PRIMARY KEY ("sink", "batch_id", "partition_id"))""".stripMargin)

  /** Trigger time is the `triggerExecution` entry alone: it already spans
    * every other phase, so summing the map counts the phases twice.
    */
  def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  def phaseMs(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)

  /** What `StreamMetrics.BatchMetrics.durationMs` reports: the whole map
    * summed, total included. Kept only to pin that it is not used.
    */
  def sumOfAllPhases(p: StreamingQueryProgress): Long =
    p.durationMs.asScala.values.map(_.longValue).sum

  def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + triggerMs(p)

  /** Seeded fixed locations with 6-decimal coordinates. */
  def locations(rng: java.util.Random, n: Int): Array[(Double, Double)] =
    Array.fill(n) {
      def r6(d: Double) = math.round(d * 1e6) / 1e6
      (r6(-60 + rng.nextDouble() * 130), r6(-180 + rng.nextDouble() * 360))
    }

  /** A precipitation reading rounded to 5 decimals, as the producer does. */
  def precip(rng: java.util.Random): Double =
    math.round(rng.nextDouble() * 0.5 * 1e5) / 1e5

  /** One input file's bytes: a message per line. */
  def render(msgs: Seq[Msg]): Array[Byte] = msgs.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)

  /** Atomically publish one input file: write a hidden temp file, then
    * rename it into place, as PollingSource does for its poll rounds.
    */
  def publish(dir: Path, seq: Int, bytes: Array[Byte], mtimeMs: Option[Long] = None): Unit = {
    val tmp = dir.resolve(f".tmp-$seq%07d")
    Files.write(tmp, bytes)
    mtimeMs.foreach(t => Files.setLastModifiedTime(tmp, FileTime.fromMillis(t)))
    Files.move(tmp, dir.resolve(f"part-$seq%07d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  def createDb(url: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url + ";create=true")
    try { val st = c.createStatement(); SinkDdl.foreach(st.execute) } finally c.close()
  }

  def dropDb(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing

  /** Wait (bounded) until the query has reported every written row. */
  def waitForRows(s: Session, runId: java.util.UUID, total: Long): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (s.progress.batches(runId).map(_.numInputRows).sum < total &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Collects every progress report and any query failure. */
  final class ProgressLog extends StreamingQueryListener {
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    @volatile var failure: Option[String] = None
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(x => failure = Some(x))
    def batches(runId: java.util.UUID): Seq[StreamingQueryProgress] = synchronized {
      progress.filter(p => p.runId == runId && p.durationMs.containsKey("addBatch"))
        .sortBy(_.batchId).toList
    }
  }

  final case class SinkCall(batchId: Long, start: Long, end: Long)

  /** The exactly-once JDBC sink with each call timed. */
  def timedSink(url: String, calls: mutable.ArrayBuffer[SinkCall]): (DataFrame, Long) => Unit = {
    val sink = WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data")
    (df, id) => {
      val s = Clock.nowNs()
      try sink(df, id)
      finally { val e = Clock.nowNs(); calls.synchronized(calls += SinkCall(id, s, e)) }
    }
  }

  def startQuery(spark: SparkSession, input: Path, ckpt: Path, url: String,
      trigger: Trigger, maxFiles: Option[Int],
      calls: mutable.ArrayBuffer[SinkCall]) = {
    val reader = spark.readStream.format("text")
    val src = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(input.toString)
    WeatherStreamJob.start(WeatherStreamJob.aggregate(src), ckpt.toString, trigger)(
      timedSink(url, calls))
  }

  final case class Checked(failures: Map[String, Long], marks: Map[Long, Long], rows: Long)

  /** Output checks against the generator's own tally: named failure counts
    * (all zero when the sink is exact), ledger marks per batch, sink rows.
    */
  def check(spark: SparkSession, url: String,
      tally: collection.Map[(Long, Double, Double), Double],
      keysByBatch: collection.Map[Long, collection.Set[(Long, Double, Double)]],
      batches: Seq[StreamingQueryProgress], msgsWritten: Long): Checked = {
    val c = java.sql.DriverManager.getConnection(url)
    val rows = mutable.ArrayBuffer.empty[((Long, Double, Double), Double)]
    val marks = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "timestamp", "lat", "lon", "hourly_precipitation" FROM weather_data""")
      while (rs.next()) rows += (((rs.getTimestamp(1).getTime / 1000, rs.getDouble(2),
        rs.getDouble(3)), rs.getDouble(4)))
      val ls = c.createStatement().executeQuery(
        """SELECT "batch_id" FROM batch_commits WHERE "sink" = 'weather_data'""")
      while (ls.next()) marks(ls.getLong(1)) += 1
    } finally c.close()
    def r5(d: Double) = BigDecimal(d).setScale(5, BigDecimal.RoundingMode.HALF_UP)
    val byKey = rows.groupBy(_._1)
    val duplicated = byKey.values.map(_.size - 1L).sum
    val missing = tally.keys.count(k => !byKey.contains(k)).toLong
    val extra = byKey.keys.count(k => !tally.contains(k)).toLong
    val wrongSum = byKey.count { case (k, rs) =>
      tally.get(k).exists(t => r5(t) != r5(rs.head._2)) }.toLong
    // expected ledger marks: the non-empty partitions of the sink's fixed
    // 16-way hash partitioning, evaluated with Spark's own hash function
    val expected = expectedMarks(spark, keysByBatch)
    val ledgerBad = (expected.keySet ++ marks.keySet).count(b =>
      expected.getOrElse(b, 0L) != marks(b)).toLong
    val unread = msgsWritten - batches.map(_.numInputRows).sum
    // self-test: trigger time is triggerExecution itself, never the sum of
    // the whole map (which adds the total to its own parts)
    val selfTest = batches.count { p =>
      val hasParts = sumOfAllPhases(p) > phaseMs(p, "triggerExecution")
      triggerMs(p) != phaseMs(p, "triggerExecution") ||
        (hasParts && triggerMs(p) >= sumOfAllPhases(p))
    }.toLong
    Checked(Map("rows_missing" -> missing, "rows_duplicated" -> duplicated,
      "rows_unexpected" -> extra, "rows_wrong_sum" -> wrongSum,
      "ledger_batches_wrong" -> ledgerBad, "msgs_unread" -> math.abs(unread),
      "trigger_selftest_failed" -> selfTest), marks.toMap, rows.size.toLong)
  }

  private def expectedMarks(spark: SparkSession,
      keysByBatch: collection.Map[Long, collection.Set[(Long, Double, Double)]]): Map[Long, Long] = {
    import spark.implicits._
    val keys = keysByBatch.toSeq.flatMap { case (b, ks) => ks.toSeq.map(k => (b, k._1, k._2, k._3)) }
    if (keys.isEmpty) Map.empty else
      keys.toDF("batch_id", "ts", "lat", "lon")
        .select(col("batch_id"), pmod(hash(timestamp_seconds(col("ts")), col("lat"), col("lon")),
          lit(WeatherStreamJob.ExactlyOncePartitions)).as("pid"))
        .groupBy("batch_id").agg(countDistinct("pid").as("n"))
        .as[(Long, Long)].collect().toMap
  }
}

/** Report assembly shared by the two stream workloads. */
object StreamReport {
  import Streams._

  // Phase order within one micro-batch: offsets are planned and logged,
  // the batch is fetched, planned and run, then its commit is logged.
  private val Before = Seq("latestOffset" -> "source", "walCommit" -> "streaming",
    "getBatch" -> "source", "queryPlanning" -> "streaming")
  private val After = Seq("commitOffsets" -> "streaming", "addBatch" -> "streaming")

  /** Spans under `root`: one per trigger, its phases (reports give only
    * durations, so the phases before addBatch are laid out from the
    * trigger's start and the rest back from its end), the timed sink call
    * inside addBatch, and the Spark stages each batch ran.
    */
  def traceTriggers(t: Tracer, root: Int, batches: Seq[StreamingQueryProgress],
      calls: Seq[SinkCall], stages: Seq[ExecListener#StageStat]): Unit = if (t.on) {
    val ms = 1000000L
    batches.foreach { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli * ms
      val e = s + triggerMs(p) * ms
      val tid = t.record(root, s"trigger ${p.batchId}", "streaming", s, e)
      var cur = s
      Before.foreach { case (ph, layer) =>
        val d = phaseMs(p, ph) * ms
        if (d > 0) { t.record(tid, ph, layer, cur, cur + d); cur += d }
      }
      var back = e; var addId = tid
      After.foreach { case (ph, layer) =>
        val d = phaseMs(p, ph) * ms
        if (d > 0) {
          val id = t.record(tid, ph, layer, back - d, back); back -= d
          if (ph == "addBatch") addId = id
        }
      }
      val call = calls.find(_.batchId == p.batchId)
      val sinkId = call.map(c => t.record(addId, "sinkWriter", "sink", c.start, c.end))
      stages.filter(_.owner == s"batch:${p.batchId}").foreach { st =>
        val (a, b) = (st.submitMs * ms, st.endMs * ms)
        val parent = call.filter(c => a >= c.start && a <= c.end).flatMap(_ => sinkId)
          .getOrElse(addId)
        t.record(parent, s"stage ${st.id}: ${st.name}", st.kind, a, b)
      }
    }
  }

  def layers(batches: Seq[StreamingQueryProgress], calls: Seq[SinkCall],
      stages: Seq[ExecListener#StageStat], marks: Map[Long, Long], sinkRows: Long,
      backlog: Seq[Double], genMsgs: Long, genLateMs: Seq[Double]): Map[String, (Double, String)] = {
    import Stats._
    def phase(ph: String) = batches.map(p => phaseMs(p, ph).toDouble)
    val trig = batches.map(p => triggerMs(p).toDouble)
    val ops = batches.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val last = batches.lastOption.flatMap(p => Option(p.stateOperators).flatMap(_.headOption))
    val ids = batches.map(_.batchId).toSet
    val sinkMs = calls.filter(c => ids(c.batchId)).map(c => (c.end - c.start) / 1e6)
    val sinkStages = stages.filter(_.kind == "sink")
    val committed = marks.collect { case (b, n) if ids(b) => n }.sum
    val exec = ExecListener.totals(stages)
    Map(
      "gen.msgs" -> (genMsgs.toDouble, "count"),
      "gen.late_ms_p99" -> (pct(genLateMs, 99), "ms"),
      "trigger.latest_offset_ms_p50" -> (median(phase("latestOffset")), "ms"),
      "trigger.get_batch_ms_p50" -> (median(phase("getBatch")), "ms"),
      "source.backlog_msgs_p99" -> (pct(backlog, 99), "count"),
      "trigger.batches" -> (batches.size.toDouble, "count"),
      "trigger.duration_ms_p50" -> (median(trig), "ms"),
      "trigger.duration_ms_p99" -> (pct(trig, 99), "ms"),
      "trigger.query_planning_ms_p50" -> (median(phase("queryPlanning")), "ms"),
      "trigger.add_batch_ms_p50" -> (median(phase("addBatch")), "ms"),
      "trigger.wal_commit_ms_p50" -> (median(phase("walCommit")), "ms"),
      "trigger.commit_offsets_ms_p50" -> (median(phase("commitOffsets")), "ms"),
      "trigger.sum_of_phases_over_trigger" -> (
        if (trig.sum <= 0) 0.0 else batches.map(sumOfAllPhases).sum / trig.sum, "ratio"),
      "state.rows_total_end" -> (last.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "state.rows_updated" -> (ops.map(_.numRowsUpdated).sum.toDouble, "count"),
      "state.memory_bytes_end" -> (last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "state.commit_ms_p50" -> (median(ops.map(_.commitTimeMs.toDouble)), "ms"),
      "sink.write_ms_p50" -> (median(sinkMs), "ms"),
      "sink.write_ms_p99" -> (pct(sinkMs, 99), "ms"),
      "sink.rows" -> (sinkRows.toDouble, "count"),
      "sink.partitions_committed" -> (committed.toDouble, "count"),
      "sink.partitions_skipped" -> (
        math.max(0L, sinkStages.map(_.nonEmptyTasks).sum - committed).toDouble, "count"),
    ) ++ exec
  }
}
