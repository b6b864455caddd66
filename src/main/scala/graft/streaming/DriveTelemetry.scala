package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Session-global side channel for the oracle-harness streaming drives:
  * every [[WaveHarness]] drive records its per-micro-batch progress
  * (state-store row totals summed across state operators, and Spark's
  * own trigger-phase durations) just before the drive stops. Consumers:
  * Bench emits the per-drive PEAK state into `bench_detail.json` as
  * `state_peaks` (the bounded-state claim as a recorded number, not just
  * Scaladoc), StateTelemetrySpec asserts the series DROPS after the
  * sentinel eviction waves — watermark-horizon eviction observed, not
  * argued — and QueryMeter prints a drive's per-phase sums.
  *
  * Keys are the drive names passed to the harness (e.g. `sfz_agg_12000`,
  * `win_stream`); a re-run overwrites its previous series, so Bench's
  * two-pass loop reports the last pass. Each series is bounded by the
  * harness's progress ring buffer (200 micro-batches).
  */
object DriveTelemetry {
  private val series = TrieMap.empty[String, Seq[Long]]
  private val plans = TrieMap.empty[String, String]
  // append log of (driveName, micro-batch phase durations), window-read
  // like planLog below (same drive-name-vs-query-name attribution issue)
  private val batchLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Map[String, Long]])]

  /** A micro-batch's state-store rows, summed over its state operators
    * (0 for a stateless batch).
    */
  def stateRows(p: StreamingQueryProgress): Long =
    if (p.stateOperators == null || p.stateOperators.isEmpty) 0L
    else p.stateOperators.map(_.numRowsTotal).sum

  /** A micro-batch's trigger-phase durations in ms. `triggerExecution`
    * spans every other phase, so it is the batch's total — never add it
    * to the rest.
    */
  def phases(p: StreamingQueryProgress): Map[String, Long] =
    Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.longValue }
      .toMap).getOrElse(Map.empty)

  /** Record one drive's micro-batches, in batch order. */
  def record(name: String, progress: Seq[StreamingQueryProgress]): Unit = {
    series.put(name, progress.map(stateRows))
    batchLog.synchronized { batchLog += (name -> progress.map(phases)) }
  }

  def batchLogSize: Int = batchLog.synchronized { batchLog.size }

  /** Total micro-batches recorded since `mark` — a query's drives sum. */
  def batchesSince(mark: Int): Long =
    batchLog.synchronized { batchLog.drop(mark).map(_._2.size.toLong).sum }

  /** Per-phase ms summed over every micro-batch recorded since `mark`. */
  def phaseTotalsSince(mark: Int): Map[String, Long] =
    batchLog.synchronized { batchLog.drop(mark).flatMap(_._2).toList }
      .flatten.groupMapReduce(_._1)(_._2)(_ + _)

  // append log of (driveName, fp) in record order — the drive NAME is
  // harness drive's own tag (sfz_srol_42503), not the SparkEntry query name
  // (fuzz_q42503), so Bench/PlanManifest attribute fingerprints to a
  // query by the log WINDOW around its invocation, never by name
  private val planLog = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Normalized fingerprint of the drive's LAST micro-batch physical
    * plan ([[graft.tools.PlanFingerprint.fingerprintStreaming]]) — the
    * streaming half of the plan-regression tripwire (VERDICT r13 #1).
    * Recorded by the harness just before the query stops; Bench merges
    * these into `plan_fp` and diffs against `plan_manifest.json` exactly
    * like the batch fingerprints.
    */
  def recordPlan(name: String, fp: String): Unit = {
    plans.put(name, fp)
    planLog.synchronized { planLog += (name -> fp) }
  }

  def planFps: Map[String, String] = plans.readOnlySnapshot().toMap

  /** Log cursor + window read: a query that runs N wave drives appends
    * N entries; the caller snapshots the size before invoking the query
    * and reads everything after it. Entry ORDER inside one query is the
    * code's own sequential drive order — deterministic.
    */
  def planLogSize: Int = planLog.synchronized { planLog.size }

  def planLogSince(mark: Int): Seq[(String, String)] =
    planLog.synchronized { planLog.drop(mark).toList }

  /** One fingerprint for a query from its drives' fingerprints: the
    * single fp when the query ran one drive (the usual case), an MD5
    * over the ordered list otherwise.
    */
  def combinedFp(fps: Seq[String]): Option[String] = fps match {
    case Seq() => None
    case Seq(one) => Some(one)
    case many =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(many.mkString("\n").getBytes("UTF-8"))
      Some(md.digest().map("%02x".format(_)).mkString)
  }

  def stateSeries(name: String): Option[Seq[Long]] = series.get(name)

  /** The per-batch phases of `name`'s latest recorded run. */
  def phaseSeries(name: String): Option[Seq[Map[String, Long]]] =
    batchLog.synchronized { batchLog.findLast(_._1 == name).map(_._2) }

  /** Per-drive peak state rows across recorded micro-batches. */
  def peaks: Map[String, Long] =
    series.readOnlySnapshot().toMap.map { case (k, v) =>
      k -> (if (v.isEmpty) 0L else v.max)
    }

  def clear(): Unit = {
    series.clear(); plans.clear()
    planLog.synchronized { planLog.clear() }
    batchLog.synchronized { batchLog.clear() }
  }
}
