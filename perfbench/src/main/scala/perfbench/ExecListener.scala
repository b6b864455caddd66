package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Per-stage task census from Spark's public listener events. Each stage is
  * attributed to an owner: the job group (one batch query) or the
  * micro-batch id a streaming job was started for.
  */
final class ExecListener extends SparkListener {

  final class StageStat(val id: Int) {
    var owner = ""
    var name = ""
    var kind = "exec" // "state" (holds a state store), "sink" (reads the state stage's output)
    var submitMs = 0L
    var endMs = 0L
    var aborted = false
    var tasks = 0L
    var failures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var nonEmptyTasks = 0L // successful tasks that read at least one row
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    var maxTaskRows = 0L
  }

  private val stages = mutable.Map.empty[Int, StageStat]
  private val stageOwner = mutable.Map.empty[Int, String]
  @volatile private var events = 0L

  private def stat(id: Int): StageStat = stages.getOrElseUpdate(id, {
    val s = new StageStat(id); s.owner = stageOwner.getOrElse(id, ""); s
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    val owner = prop("streaming.sql.batchId").map("batch:" + _)
      .orElse(prop("spark.jobGroup.id")).getOrElse("")
    e.stageIds.foreach { id =>
      stageOwner(id) = owner
      stages.get(id).foreach(_.owner = owner)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    val s = stat(i.stageId)
    s.name = i.name
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.endMs = i.completionTime.getOrElse(s.submitMs)
    s.aborted = s.aborted || i.failureReason.isDefined
    // in the weather pipeline the stage after the stateful one is the
    // foreachBatch sink's per-partition JDBC write
    s.kind =
      if (i.rddInfos.exists(_.name.contains("StateStore"))) "state"
      else if (i.parentIds.exists(p => stages.get(p).exists(_.kind == "state"))) "sink"
      else "exec"
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val s = stat(e.stageId)
    s.tasks += 1
    if (e.reason != Success) s.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.taskRunMs += m.executorRunTime
      val rows = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      s.maxTaskRows = math.max(s.maxTaskRows, rows)
      if (e.reason == Success && rows > 0) s.nonEmptyTasks += 1
    }
  }

  /** Wait until no listener event has arrived for a quiet spell. The bus
    * is asynchronous and offers no public drain, so this polls.
    */
  def settle(quietMs: Long = 150, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = events; var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(10)
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
    }
  }

  def snapshot(): Seq[StageStat] = synchronized(stages.values.toList.sortBy(_.id))

  def reset(): Unit = synchronized { stages.clear(); stageOwner.clear() }
}

object ExecListener {

  /** Layer totals over a set of stages, keyed by the per-layer metric names. */
  def totals(st: Seq[ExecListener#StageStat]): Map[String, (Double, String)] = {
    val skew = st.filter(_.taskRunMs.size >= 2).map { s =>
      val xs = s.taskRunMs.sorted
      val med = xs(xs.size / 2).toDouble
      if (med <= 0) 1.0 else xs.last / med
    }
    Map(
      "exec.tasks" -> (st.map(_.tasks).sum.toDouble, "count"),
      "exec.stages" -> (st.size.toDouble, "count"),
      "exec.task_run_ms" -> (st.map(_.runMs).sum.toDouble, "ms"),
      "exec.task_cpu_ms" -> (st.map(_.cpuNs).sum / 1e6, "ms"),
      "exec.gc_ms" -> (st.map(_.gcMs).sum.toDouble, "ms"),
      "exec.shuffle_write_bytes" -> (st.map(_.shuffleWrite).sum.toDouble, "bytes"),
      "exec.task_failures" -> (st.map(_.failures).sum.toDouble, "count"),
      "exec.task_ms_max_over_p50" -> (if (skew.isEmpty) 1.0 else skew.max, "ratio"))
  }
}
