package perfbench

import scala.collection.mutable
import org.apache.spark.sql.streaming.Trigger

/** Drain of a backlog staged before the query starts, as the reference
  * consumer replays its topic from `earliest` on every restart.
  *
  * The backlog is one file per poll round; each round stamps a new minute,
  * so every (timestamp, lat, lon) key is new (the reference's key shape)
  * and the sink's upserts all miss and insert. Files carry increasing
  * modification times, which fixes the order in which the file source
  * takes them, so each batch's keys are known for the ledger check. The
  * query runs `Trigger.AvailableNow` with a fixed `maxFilesPerTrigger`
  * and stops by itself when the backlog is drained.
  */
object CatchupReplay {
  val BacklogPerS = 4000 // messages staged per second of --seconds
  val Locations = 250 // messages per poll round (one file)
  val FilesPerTrigger = 20
  val MinuteBase = 1736532000L

  def run(c: Main.Conf, s: Session, t: Tracer): Main.Outcome = {
    val rng = new java.util.Random(c.seed)
    val locs = Streams.locations(rng, Locations)
    val rounds = math.max(FilesPerTrigger, c.seconds * BacklogPerS / Locations)
    def round(r: Int) = locs.toSeq.map { case (lat, lon) =>
      Msg(MinuteBase + 60L * r, lat, lon, Streams.precip(rng)) }
    val warmup = (-2 * FilesPerTrigger until 0).map(round)
    val backlog = Array.tabulate(rounds)(round)
    val in = c.dir("catchup/in")
    val mtime0 = System.currentTimeMillis() - rounds * 1000L
    t.span(0, "stage backlog", "generator") { root =>
      backlog.zipWithIndex.foreach { case (msgs, r) =>
        t.span(root, s"round $r", "generator") { _ =>
          Streams.publish(in, r, Streams.render(msgs), Some(mtime0 + r * 1000L)) }
      }
    }

    // set-up: fresh session, Derby DDL, and a warm-up replay of two
    // full-size batches of new keys
    val (setupS, setupEach, _) = Stats.timeSetups(c.setupReps) { r =>
      s.restart()
      val url = s"jdbc:derby:memory:warm$r"
      Streams.createDb(url)
      val win = c.dir(s"warm$r/in")
      warmup.zipWithIndex.foreach { case (m, i) => Streams.publish(win, i, Streams.render(m)) }
      val q = Streams.startQuery(s.spark, win, c.work.resolve(s"warm$r/ckpt"), url,
        Trigger.AvailableNow(), Some(FilesPerTrigger), mutable.ArrayBuffer.empty)
      q.awaitTermination()
      Streams.dropDb(url)
    }
    Main.log("set up")
    s.exec.settle()
    s.exec.reset()

    val url = "jdbc:derby:memory:catchup"
    Streams.createDb(url)
    val calls = mutable.ArrayBuffer.empty[Streams.SinkCall]
    val t0 = Clock.nowMs()
    val (root, q) = t.span(0, "workload catchup_replay", "workload") { root =>
      val q = Streams.startQuery(s.spark, in, c.work.resolve("catchup/ckpt"), url,
        Trigger.AvailableNow(), Some(FilesPerTrigger), calls)
      q.awaitTermination()
      (root, q)
    }
    val drainS = (Clock.nowMs() - t0) / 1000.0
    val total = rounds.toLong * Locations
    Streams.waitForRows(s, q.runId, total)
    val batches = s.progress.batches(q.runId)
    s.exec.settle()
    val stages = s.exec.snapshot()
    Main.log("measured")
    val heapMb = s.heapMb()

    val keysByBatch = mutable.Map.empty[Long, mutable.Set[(Long, Double, Double)]]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val waiting = mutable.ArrayBuffer.empty[Double]
    var cum = 0L
    batches.foreach { p =>
      val from = cum; cum += p.numInputRows
      waiting += (total - from).toDouble
      val ks = keysByBatch.getOrElseUpdate(p.batchId, mutable.Set.empty)
      (from until math.min(cum, total)).foreach { i =>
        ks += backlog((i / Locations).toInt)((i % Locations).toInt).key }
      val lat = Streams.commitMs(p) - t0
      (from until cum).foreach(_ => latencies += lat)
    }
    StreamReport.traceTriggers(t, root, batches, calls.toList, stages)
    val tally = mutable.Map.empty[(Long, Double, Double), Double].withDefaultValue(0.0)
    backlog.iterator.flatten.foreach(m => tally(m.key) += m.precip)
    val checked = Streams.check(s.spark, url, tally, keysByBatch, batches, total)
    val failures = checked.failures ++ Map(
      "task_failures" -> stages.map(_.failures).sum,
      "stages_aborted" -> stages.count(_.aborted).toLong,
      "query_failed" -> (if (s.progress.failure.isDefined || q.exception.isDefined) 1L else 0L))
    val tail = Stats.tailPct(latencies.size)
    val e2e = Map(
      "setup_s" -> (setupS, "s", c.setupReps.toLong),
      "latency_p50_ms" -> (Stats.median(latencies.toSeq), "ms", latencies.size.toLong),
      "latency_tail_ms" -> (Stats.pct(latencies.toSeq, tail), "ms", latencies.size.toLong),
      "throughput_per_s" -> (total / drainS, "1/s", batches.size.toLong),
      "busy_s" -> (drainS, "s", 1L),
      "retained_heap_mb" -> (heapMb, "MB", 1L))
    val layers = StreamReport.layers(batches, calls.toList, stages, checked.marks, checked.rows,
      waiting.toSeq, total, Seq(0.0))
    Streams.dropDb(url)
    Main.Outcome(total, failures.values.sum, failures, e2e,
      layers ++ SelfTime.report(t, root), Map("latency_tail_pct" -> tail,
        "setup_each_s" -> setupEach, "trigger_ms" -> batches.map(Streams.triggerMs),
        "backlog_msgs" -> total, "files_per_trigger" -> FilesPerTrigger))
  }
}
