package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamMetrics, WeatherStreamJob}

/** The metrics listener observes every micro-batch: input rows, batch
  * count, and stateful-operator state size.
  */
class StreamMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def msg(ts: Long, precip: Double): String =
    s"""{"timestamp": $ts, "total_precipitation": $precip, "location": {"lat": 1.0, "lon": 2.0}}"""

  test("listener accumulates per-batch rows and state size") {
    implicit val sqlCtx = spark.sqlContext
    val metrics = StreamMetrics.attach(spark)
    val stream = MemoryStream[String]
    val q = WeatherStreamJob.aggregate(stream.toDF())
      .writeStream.outputMode("update")
      .format("memory").queryName("metered").start()
    try {
      stream.addData(msg(1L, 0.5), msg(2L, 0.25))
      q.processAllAvailable()
      stream.addData(msg(3L, 1.0))
      q.processAllAvailable()
      // listener delivery is asynchronous — wait for both batches
      val deadline = System.currentTimeMillis() + 30000
      while (metrics.totals("metered")._2 < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally q.stop()
    val (batches, rows, maxState) = metrics.totals("metered")
    assert(rows == 3, s"expected 3 input rows observed, got $rows")
    assert(batches >= 2, s"expected >=2 batches, got $batches")
    assert(maxState == 3, s"expected 3 state rows (3 distinct keys), got $maxState")
    // a batch's duration is its triggerExecution time, which already
    // spans the other phases — never the sum of the whole durationMs map
    val triggerMs = q.recentProgress.toSeq.map(p =>
      p.batchId -> p.durationMs.get("triggerExecution").longValue)
    metrics.forQuery("metered").foreach { b =>
      assert(triggerMs.contains(b.batchId -> b.durationMs),
        s"batch ${b.batchId}: durationMs ${b.durationMs} is not its " +
          s"triggerExecution (${triggerMs.filter(_._1 == b.batchId)})")
    }
  }
}
