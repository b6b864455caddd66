package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Operational metrics for the streaming layer: a
  * StreamingQueryListener that accumulates per-batch progress (rows,
  * processing rate, batch duration, state size) for every query in the
  * session. The reference's only observability is per-row log lines
  * (weather_processor.py:251-254); this is the production counterpart —
  * queryable from the driver, bounded memory (ring buffer per query).
  */
class StreamMetrics(maxBatchesPerQuery: Int = 256) extends StreamingQueryListener {

  /** One micro-batch's digest; `durationMs` is the batch's
    * `triggerExecution` time, which already spans every other phase.
    */
  case class BatchMetrics(queryName: String, batchId: Long, numInputRows: Long,
      processedRowsPerSecond: Double, durationMs: Long, stateRows: Long)

  private val batches = mutable.Map.empty[String, mutable.ArrayDeque[BatchMetrics]]

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = synchronized {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val duration = DriveTelemetry.phases(p).getOrElse("triggerExecution", 0L)
    val buf = batches.getOrElseUpdate(name, mutable.ArrayDeque.empty)
    buf.append(BatchMetrics(name, p.batchId, p.numInputRows,
      p.processedRowsPerSecond, duration, DriveTelemetry.stateRows(p)))
    if (buf.size > maxBatchesPerQuery) buf.removeHead()
  }

  /** Snapshot of collected batch metrics for one query. */
  def forQuery(name: String): Seq[BatchMetrics] = synchronized {
    batches.get(name).map(_.toSeq).getOrElse(Seq.empty)
  }

  /** Totals across collected batches: (batches, input rows, max state rows). */
  def totals(name: String): (Long, Long, Long) = synchronized {
    val b = forQuery(name)
    (b.size.toLong, b.map(_.numInputRows).sum,
      if (b.isEmpty) 0L else b.map(_.stateRows).max)
  }
}

object StreamMetrics {
  /** Attach a fresh collector to the session; caller keeps the handle. */
  def attach(spark: SparkSession, maxBatchesPerQuery: Int = 256): StreamMetrics = {
    val m = new StreamMetrics(maxBatchesPerQuery)
    spark.streams.addListener(m)
    m
  }
}
