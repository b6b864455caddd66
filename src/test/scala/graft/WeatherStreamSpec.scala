package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.WeatherStreamJob

/** Fault-injecting connection factory for the exactly-once sink's crash
  * test: while armed, the FIRST attempt to prepare the ledger INSERT
  * throws — i.e. the crash fires after `upsertRows` ran on that
  * connection but before the mark, the exact window whose atomicity the
  * sink claims. A top-level object so the foreachPartition closure
  * captures no test-suite instance.
  */
object CrashBeforeMark {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def connect(url: String): java.sql.Connection = {
    val real = java.sql.DriverManager.getConnection(url)
    java.lang.reflect.Proxy.newProxyInstance(
      classOf[java.sql.Connection].getClassLoader,
      Array[Class[_]](classOf[java.sql.Connection]),
      (_, method, args) => {
        if (method.getName == "prepareStatement" && args != null &&
            args(0).asInstanceOf[String].contains("INSERT INTO batch_commits") &&
            armed.getAndSet(false))
          throw new java.sql.SQLException(
            "injected crash between upsert and ledger mark")
        try method.invoke(real, args: _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      }).asInstanceOf[java.sql.Connection]
  }
}

/** Streaming-semantics tests (SURVEY.md §5.2.2): the exact reference plan
  * (parse -> flatten -> groupBy-sum) under update mode, driven by
  * MemoryStream micro-batches.
  */
class WeatherStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def msg(ts: Long, precip: Double, lat: Double, lon: Double): String =
    s"""{"timestamp": $ts, "total_precipitation": $precip, "location": {"lat": $lat, "lon": $lon}}"""

  test("update-mode accumulation across micro-batches, malformed JSON -> null row") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = WeatherStreamJob.aggregate(stream.toDF().withColumnRenamed("value", "value"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("weather_updates").start()
    try {
      // batch 1: two messages for the same key + one different + malformed
      stream.addData(
        msg(1736532000L, 0.5, 52.0, 5.1),
        msg(1736532000L, 0.25, 52.0, 5.1),
        msg(1736532000L, 1.0, 41.1, -8.6),
        """not json at all""")
      q.processAllAvailable()
      val afterB1 = spark.table("weather_updates").collect()
        .map(r => (r.getAs[String]("timestamp"), Option(r.get(1)), Option(r.get(2)),
          r.getAs[Double]("hourly_precipitation"))).toSet
      // numeric wire token coerced into the StringType field (FIXTURES.md §1.1)
      assert(afterB1.contains(("1736532000", Some(52.0), Some(5.1), 0.75)))
      assert(afterB1.contains(("1736532000", Some(41.1), Some(-8.6), 1.0)))
      // malformed JSON becomes the all-NULL key group (filtered at sink by P4)
      assert(afterB1.exists(_._1 == null), "expected an all-NULL key group from malformed JSON")

      // batch 2: same key again -> state accumulates and re-emits (no watermark)
      stream.addData(msg(1736532000L, 0.25, 52.0, 5.1))
      q.processAllAvailable()
      val reEmit = spark.table("weather_updates").collect()
        .filter(r => r.getAs[String]("timestamp") == "1736532000"
          && Option(r.get(1)).contains(52.0))
        .map(_.getAs[Double]("hourly_precipitation"))
      assert(reEmit.contains(1.0), s"expected accumulated 1.0 in ${reEmit.toSeq}")
    } finally q.stop()
  }

  test("foreachBatch parquet sink: null rejection + epoch conversion, executor-parallel") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val out = Files.createTempDirectory("weather_sink").toString
    val ckpt = Files.createTempDirectory("weather_ckpt").toString
    val agg = WeatherStreamJob.aggregate(stream.toDF())
    // data first: an AvailableNow query fixes its end offset when it
    // starts, so data added after start() may never be read
    stream.addData(msg(1736532000L, 0.5, 52.0, 5.1), """{"broken": """)
    val q = WeatherStreamJob.start(agg, ckpt, Trigger.AvailableNow())(
      WeatherStreamJob.parquetSink(out))
    q.awaitTermination(60000)
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == 1) // malformed row null-filtered (P4)
    val row = sunk.collect().head
    assert(row.getAs[String]("event_time") == "2025-01-10 18:00:00")
    assert(row.getAs[Double]("hourly_precipitation") == 0.5)
  }

  test("tumbling-window agg emits closed hourly windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = graft.streaming.WeatherStreamJob.tumblingHourlyAgg(
      stream.toDF(), delayThreshold = "0 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out").start()
    try {
      // 18:00 and 18:30 fall in the same hourly window; 20:05 in another
      stream.addData(
        msg(1736532000L, 0.5, 52.0, 5.1),  // 2025-01-10 18:00:00
        msg(1736533800L, 0.25, 52.0, 5.1), // 2025-01-10 18:30:00
        msg(1736539500L, 1.0, 52.0, 5.1))  // 2025-01-10 20:05:00
      q.processAllAvailable()
      // push the watermark far forward so both windows close
      stream.addData(msg(1736625600L, 0.0, 0.0, 0.0)) // next day
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(3))).toSet
      assert(rows.contains(("2025-01-10 18:00:00.0", 0.75)), s"merged window missing in $rows")
      assert(rows.contains(("2025-01-10 20:00:00.0", 1.0)), s"second window missing in $rows")
    } finally q.stop()
  }

  test("JDBC sink (S6): update-mode rows land in embedded Derby through " +
      "start(); re-emissions append duplicates like the reference") {
    implicit val sqlCtx = spark.sqlContext
    // init.sql:1-7 columns; id is sink-generated (SERIAL analog). Quoted
    // lowercase so Spark's quoted INSERT column list matches.
    val url = "jdbc:derby:memory:weatherdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE weather_data (
        |"id" INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
        |"hourly_precipitation" DOUBLE)""".stripMargin)
    finally conn.close()

    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("weather_jdbc_ckpt").toString
    val agg = WeatherStreamJob.aggregate(stream.toDF())
    val q = WeatherStreamJob.start(agg, ckpt, Trigger.ProcessingTime(0))(
      WeatherStreamJob.jdbcSink(url, "weather_data"))
    try {
      stream.addData(msg(1736532000L, 0.5, 52.0, 5.1))
      q.processAllAvailable()
      // same key again: update mode re-emits the accumulated sum, and the
      // append-only sink keeps BOTH rows (reference parity: no upsert)
      stream.addData(msg(1736532000L, 0.25, 52.0, 5.1))
      q.processAllAvailable()
    } finally q.stop()

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "weather_data").load()
    assert(back.columns.toSet ==
      Set("id", "timestamp", "lat", "lon", "hourly_precipitation"))
    val vals = back.select("hourly_precipitation").as[Double].collect().sorted
    assert(vals.toSeq == Seq(0.5, 0.75), s"expected both emissions, got ${vals.toSeq}")
    val ts = back.collect()
      .map(_.getAs[java.sql.Timestamp]("timestamp").toString).toSet
    assert(ts == Set("2025-01-10 18:00:00.0")) // epoch 1736532000 in UTC
  }

  test("idempotent parquet sink: a replayed batch overwrites its own " +
      "output instead of duplicating") {
    val out = Files.createTempDirectory("weather_idem").toString
    val batch = Seq(("2025-01-10 18:00:00", 52.0, 5.1, 0.5))
      .toDF("event_time", "lat", "lon", "hourly_precipitation")
    val sink = WeatherStreamJob.idempotentParquetSink(out)
    sink(batch, 0L)
    sink(batch, 0L) // simulated at-least-once replay of the same batch id
    sink(batch, 1L)
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == 2, "replayed batch duplicated rows")
    assert(sunk.select("batch_id").distinct().count() == 2)
  }

  test("JDBC upsert sink: re-emissions replace the key's row instead of " +
      "duplicating (production variant)") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:weatherup;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE weather_data (
          |"id" INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
          |"hourly_precipitation" DOUBLE)""".stripMargin)
      st.execute("""CREATE UNIQUE INDEX weather_key ON weather_data ("timestamp", "lat", "lon")""")
    } finally conn.close()

    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("weather_upsert_ckpt").toString
    val agg = WeatherStreamJob.aggregate(stream.toDF())
    val q = WeatherStreamJob.start(agg, ckpt, Trigger.ProcessingTime(0))(
      WeatherStreamJob.jdbcUpsertSink(url, "weather_data"))
    try {
      stream.addData(msg(1736532000L, 0.5, 52.0, 5.1))
      q.processAllAvailable()
      stream.addData(msg(1736532000L, 0.25, 52.0, 5.1))
      q.processAllAvailable()
    } finally q.stop()

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "weather_data").load()
    val vals = back.select("hourly_precipitation").as[Double].collect()
    assert(vals.toSeq == Seq(0.75), // ONE row, holding the accumulated sum
      s"expected single upserted row, got ${vals.toSeq}")
  }

  test("exactly-once JDBC sink: a checkpoint-replayed batch neither " +
      "duplicates rows nor re-marks the ledger") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:weatherxo;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE weather_data (
          |"id" INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
          |"hourly_precipitation" DOUBLE)""".stripMargin)
      st.execute("""CREATE UNIQUE INDEX weather_key ON weather_data ("timestamp", "lat", "lon")""")
      st.execute(
        """CREATE TABLE batch_commits (
          |"sink" VARCHAR(128), "batch_id" BIGINT, "partition_id" INT,
          |PRIMARY KEY ("sink", "batch_id", "partition_id"))""".stripMargin)
    } finally conn.close()

    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("weather_xo_ckpt").toString
    val agg = WeatherStreamJob.aggregate(stream.toDF())
    def run() = WeatherStreamJob.start(agg, ckpt, Trigger.ProcessingTime(0))(
      WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data"))

    val q = run()
    try {
      stream.addData(msg(1736532000L, 0.5, 52.0, 5.1))
      q.processAllAvailable()
    } finally q.stop()

    // force a genuine at-least-once replay: drop the checkpoint's commit
    // marker for the last batch, so the restarted query re-executes it
    // from the offset log with the SAME batch id and content
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.map(_.getName.toLong).max
    assert(new java.io.File(s"$ckpt/commits/$last").delete())
    new java.io.File(s"$ckpt/commits/.$last.crc").delete() // checksum twin
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "weather_data").load()
    val vals = back.select("hourly_precipitation").as[Double].collect()
    assert(vals.toSeq == Seq(0.5),
      s"replayed batch duplicated or altered rows: ${vals.toSeq}")
    val ledger = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "batch_commits").load()
    assert(ledger.count() == 1,
      s"replay re-marked the ledger: ${ledger.collect().toSeq}")
  }

  test("exactly-once JDBC sink: a crash between the upsert and the ledger " +
      "mark rolls back BOTH, and replay converges with no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:weatherxo2;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE weather_data (
          |"id" INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
          |"hourly_precipitation" DOUBLE)""".stripMargin)
      st.execute("""CREATE UNIQUE INDEX weather_key ON weather_data ("timestamp", "lat", "lon")""")
      st.execute(
        """CREATE TABLE batch_commits (
          |"sink" VARCHAR(128), "batch_id" BIGINT, "partition_id" INT,
          |PRIMARY KEY ("sink", "batch_id", "partition_id"))""".stripMargin)
    } finally conn.close()

    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("weather_xo_crash_ckpt").toString
    val agg = WeatherStreamJob.aggregate(stream.toDF())
    def run() = WeatherStreamJob.start(agg, ckpt, Trigger.ProcessingTime(0))(
      WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data",
        connect = CrashBeforeMark.connect))

    // two distinct keys so the batch carries more than one upsert
    stream.addData(
      msg(1736532000L, 0.5, 52.0, 5.1),
      msg(1736535600L, 1.0, 41.1, -8.6))
    CrashBeforeMark.armed.set(true)
    val q = run()
    try {
      intercept[Exception] { q.processAllAvailable() } // batch must fail
    } finally q.stop()
    assert(!CrashBeforeMark.armed.get(), "fault never fired")

    // crash-window invariant: whatever partitions survived, rows and
    // ledger marks are PAIRED — the crashed partition's upserts are gone
    def count(table: String): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    val rowsMid = count("weather_data")
    val marksMid = count("batch_commits")
    assert(rowsMid == marksMid,
      s"half-applied partition visible: $rowsMid rows vs $marksMid marks")
    assert(rowsMid < 2, "the crashed partition's rows must have rolled back")

    // restart (fault disarmed): the replayed batch converges exactly-once
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "weather_data").load()
    val vals = back.select("hourly_precipitation").as[Double].collect().sorted
    assert(vals.toSeq == Seq(0.5, 1.0),
      s"replay did not converge exactly-once: ${vals.toSeq}")
    assert(count("batch_commits") == back.count() ||
      count("batch_commits") <= 2, "unexpected ledger growth")
  }

  test("exactly-once JDBC sink refuses a ledger without the unique key") {
    val url = "jdbc:derby:memory:weatherxo3;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE weather_data (
          |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
          |"hourly_precipitation" DOUBLE)""".stripMargin)
      st.execute( // NO primary key — violates the ledger contract
        """CREATE TABLE batch_commits (
          |"sink" VARCHAR(128), "batch_id" BIGINT, "partition_id" INT)""".stripMargin)
    } finally conn.close()
    val batch = Seq(("2025-01-10 18:00:00", 52.0, 5.1, 0.5))
      .toDF("event_time", "lat", "lon", "hourly_precipitation")
    val e = intercept[org.apache.spark.SparkException] {
      WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data")(batch, 0L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => t.getMessage != null &&
        t.getMessage.contains("lacks a unique key")),
      s"expected the ledger-contract error, got $e")
  }

  test("Kafka message contract (S3): consumer plan runs over the exact " +
      "Kafka scan schema, binary value decoded as UTF-8") {
    // the 7 columns a kafka streaming scan produces; producer messages
    // carry no key (weather_stream.py:131-138 sends topic+value only)
    val rows = Seq(
      (null: Array[Byte], msg(1736532000L, 0.5, 52.0, 5.1).getBytes("UTF-8"),
        "weather", 0, 0L, new java.sql.Timestamp(0L), 0),
      (null: Array[Byte], msg(1736532000L, 0.25, 52.0, 5.1).getBytes("UTF-8"),
        "weather", 0, 1L, new java.sql.Timestamp(0L), 0))
    val kafkaShaped = rows.toDF(
      "key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val out = WeatherStreamJob.aggregate(kafkaShaped).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("timestamp") == "1736532000")
    assert(r.getAs[Double]("hourly_precipitation") == 0.75)
  }

  test("fromKafkaWithRetry runs the full connect-time retry budget before " +
      "aborting (no connector in this container, so every attempt throws)") {
    val e = intercept[IllegalStateException] {
      graft.streaming.WeatherStreamJob.fromKafkaWithRetry(
        spark, "localhost:9092", "weather", retries = 3, delayMs = 1)
    }
    assert(e.getMessage.contains("after 3 attempts"))
    assert(e.getCause != null, "last failure must be chained for diagnosis")
  }

  test("bounded-state variant applies a watermark (production deviation)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val agg = WeatherStreamJob.boundedStateAgg(stream.toDF())
    // logical plan carries an EventTimeWatermark node
    assert(agg.queryExecution.logical.toString.contains("EventTimeWatermark"))
  }
}
