package graft

import java.sql.{Connection, DriverManager, PreparedStatement, SQLTransactionRollbackException}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{JdbcBucketWriter, WeatherStreamJob}

/** Fault-injecting connection factory: while armed, the FIRST execution
  * of a data-table INSERT throws a transient rollback (Derby's lock
  * timeout, SQLState 40XL1) instead of running. A top-level object so the
  * sink's task binary captures no test-suite instance.
  */
object RollbackOnFirstInsert {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def proxy[T](cls: Class[T], real: T)(
      intercept: (String, Array[AnyRef]) => Option[AnyRef]): T =
    java.lang.reflect.Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
      (_, method, args) => intercept(method.getName, args).getOrElse {
        try method.invoke(real, args: _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      }).asInstanceOf[T]

  def connect(url: String): Connection = {
    val real = DriverManager.getConnection(url)
    proxy(classOf[Connection], real) { (name, args) =>
      if (name == "prepareStatement" &&
          args(0).asInstanceOf[String].contains("INSERT INTO weather_data")) {
        val st = real.prepareStatement(args(0).asInstanceOf[String])
        Some(proxy(classOf[PreparedStatement], st) { (n, _) =>
          if (n == "executeUpdate" && armed.getAndSet(false))
            throw new SQLTransactionRollbackException("injected lock timeout", "40XL1")
          None
        })
      } else None
    }
  }
}

/** The JDBC sinks' task layout: the 16 hash buckets run in
  * `min(16, defaultParallelism)` tasks, one ledger mark per non-empty
  * bucket, each bucket one transaction.
  */
class JdbcSinkLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Base = 1736532000L // 2025-01-10 18:00:00 UTC

  private def freshDb(name: String, keyIndex: Boolean = true): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute(
        """CREATE TABLE weather_data (
          |"timestamp" TIMESTAMP, "lat" DOUBLE, "lon" DOUBLE,
          |"hourly_precipitation" DOUBLE)""".stripMargin)
      if (keyIndex)
        st.execute("""CREATE UNIQUE INDEX weather_key ON weather_data ("timestamp", "lat", "lon")""")
      st.execute(
        """CREATE TABLE batch_commits (
          |"sink" VARCHAR(128), "batch_id" BIGINT, "partition_id" INT,
          |PRIMARY KEY ("sink", "batch_id", "partition_id"))""".stripMargin)
      st.close()
    } finally c.close()
    url
  }

  /** `n` distinct keys, with the epoch second kept beside the sink's
    * `event_time` string so the expected buckets are computed from the
    * key itself, not from the sink's own cast.
    */
  private def keys(n: Int): DataFrame =
    (0 until n).map(i => (Base + 3600L * (i % 24), 40.0 + i / 24 * 0.5, -8.0 + i % 7, 0.25 * i))
      .toDF("epoch", "lat", "lon", "hourly_precipitation")
      .withColumn("event_time", from_unixtime(col("epoch")))

  private def table(url: String): Map[(Long, Double, Double), Double] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "timestamp", "lat", "lon", "hourly_precipitation" FROM weather_data""")
      val out = mutable.ArrayBuffer.empty[((Long, Double, Double), Double)]
      while (rs.next()) out += (((rs.getTimestamp(1).getTime / 1000, rs.getDouble(2),
        rs.getDouble(3)), rs.getDouble(4)))
      assert(out.map(_._1).distinct.size == out.size, "duplicated keys in the sink table")
      out.toMap
    } finally c.close()
  }

  private def marks(url: String): Set[Int] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "partition_id" FROM batch_commits WHERE "sink" = 'weather_data'""")
      val out = mutable.ArrayBuffer.empty[Int]
      while (rs.next()) out += rs.getInt(1)
      assert(out.distinct.size == out.size, "a bucket was marked twice")
      out.toSet
    } finally c.close()
  }

  private def expectedRows(batch: DataFrame): Map[(Long, Double, Double), Double] =
    batch.select("epoch", "lat", "lon", "hourly_precipitation")
      .as[(Long, Double, Double, Double)].collect()
      .map { case (t, la, lo, p) => ((t, la, lo), p) }.toMap

  private def expectedBuckets(batch: DataFrame): Set[Int] =
    batch.select(pmod(hash(timestamp_seconds(col("epoch")), col("lat"), col("lon")),
        lit(WeatherStreamJob.ExactlyOncePartitions)))
      .distinct().as[Int].collect().toSet

  /** Task count of each job's last stage, for the jobs `body` runs. */
  private def finalStageTasks(body: => Unit): Seq[Int] = {
    val group = s"sink-layout-${System.nanoTime()}"
    val seen = mutable.ArrayBuffer.empty[Seq[(Int, Int)]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.synchronized(seen += e.stageInfos.map(s => (s.stageId, s.numTasks)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jdbc sink layout")
      try body finally sc.clearJobGroup()
      // listener events arrive asynchronously: wait for the result job,
      // the one that also lists the (already run) shuffle stage
      val deadline = System.currentTimeMillis() + 10000
      while (seen.synchronized(!seen.exists(_.size > 1)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      seen.synchronized(seen.filter(_.size > 1).map(_.maxBy(_._1)._2).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("the exactly-once sink runs its 16 buckets in min(16, defaultParallelism) " +
      "tasks, marks each non-empty bucket once, and a replay adds nothing") {
    val url = freshDb("sinklayout")
    val batch = keys(300)
    val sink = WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data")
    val tasks = finalStageTasks(sink(batch, 0L))
    val want = math.min(WeatherStreamJob.ExactlyOncePartitions,
      spark.sparkContext.defaultParallelism)
    assert(tasks == Seq(want), s"sink result stage ran $tasks tasks, expected $want")
    assert(table(url) == expectedRows(batch))
    assert(marks(url) == expectedBuckets(batch))

    sink(batch, 0L) // at-least-once replay of the same batch id
    assert(table(url) == expectedRows(batch), "replay changed the sink table")
    assert(marks(url) == expectedBuckets(batch), "replay changed the ledger")
  }

  test("a transient rollback (SQLState 40XL1) on the first INSERT is retried " +
      "and the batch converges with exact rows and marks") {
    val url = freshDb("sinkretry")
    val batch = keys(200)
    RollbackOnFirstInsert.armed.set(true)
    // local[N] runs each task once, so a task failure would fail this call
    WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data",
      connect = RollbackOnFirstInsert.connect)(batch, 7L)
    assert(!RollbackOnFirstInsert.armed.get(), "fault never fired")
    assert(table(url) == expectedRows(batch))
    assert(marks(url) == expectedBuckets(batch))
  }

  test("a bucket that arrives twice in one task fails the task and " +
      "commits nothing of its second run") {
    val url = freshDb("sinkorder")
    def row(hour: Int, precip: Double): InternalRow =
      InternalRow((Base + 3600L * hour) * 1000000L, 52.0, 5.1, precip)
    val writer = new JdbcBucketWriter(url, "weather_data", Some("batch_commits"), 0L,
      DriverManager.getConnection(_))
    val e = intercept[IllegalStateException] {
      writer(Iterator(3 -> Iterator(row(0, 0.5), row(1, 1.0)), 5 -> Iterator(row(2, 2.0)),
        3 -> Iterator(row(3, 3.0))))
    }
    assert(e.getMessage.contains("bucket 3 arrived twice"), e.getMessage)
    assert(table(url) == Map(
      (Base, 52.0, 5.1) -> 0.5, (Base + 3600L, 52.0, 5.1) -> 1.0,
      (Base + 7200L, 52.0, 5.1) -> 2.0))
    assert(marks(url) == Set(3, 5))
  }

  test("both upsert sinks refuse a table without a unique index on the key " +
      "and write no row and no mark") {
    val batch = keys(50)
    Seq[(String, String => (DataFrame, Long) => Unit)](
      "sinknokeyxo" -> (WeatherStreamJob.jdbcExactlyOnceSink(_, "weather_data")),
      "sinknokeyup" -> (WeatherStreamJob.jdbcUpsertSink(_, "weather_data"))
    ).foreach { case (db, sinkFor) =>
      val url = freshDb(db, keyIndex = false)
      val e = intercept[org.apache.spark.SparkException](sinkFor(url)(batch, 0L))
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t => t.getMessage != null &&
        t.getMessage.contains("lacks a unique key")), s"$db: expected the key error, got $e")
      assert(table(url).isEmpty, s"$db wrote rows")
      assert(marks(url).isEmpty, s"$db wrote marks")
    }
  }
}
