package perfbench

import scala.collection.mutable
import org.apache.spark.sql.streaming.Trigger

/** Open loop at a fixed offered rate over a few hundred hot locations.
  *
  * One generator thread publishes one file per tick on a fixed schedule
  * (it never waits for the query), so a slower trigger shows as latency,
  * not as less load. Timestamps are hour-stamped, so keys repeat and the
  * state and sink rows are updated in place. Each message's latency runs
  * from its tick's due time to the commit of the micro-batch holding it;
  * the message-to-batch mapping is the cumulative `numInputRows` the
  * query reports, since every batch takes all files published so far.
  */
object LiveHotKeys {
  val RatePerS = 1000
  val TickMs = 50
  val Locations = 300
  val TicksPerHour = 40 // a new hour stamp every 2 s of run
  val WarmupBatches = 3 // per set-up repetition; the JIT warms across them
  val WarmupMsgs = 300 // per warm-up batch
  val HourBase = 1736532000L // 2025-01-10T18:00:00Z

  def run(c: Main.Conf, s: Session, t: Tracer): Main.Outcome = {
    val rng = new java.util.Random(c.seed)
    val locs = Streams.locations(rng, Locations)
    val perTick = RatePerS * TickMs / 1000
    val ticks = c.seconds * 1000 / TickMs
    def msg(hour: Int) = {
      val (lat, lon) = locs(rng.nextInt(Locations))
      Msg(HourBase + hour * 3600L, lat, lon, Streams.precip(rng))
    }
    val warmupFiles = Seq.fill(WarmupBatches)(Seq.fill(WarmupMsgs)(msg(0)))
    val warmup = warmupFiles.flatten
    val warmupTotal = warmup.size.toLong
    val tickMsgs = Seq.tabulate(ticks)(k => Seq.fill(perTick)(msg(k / TicksPerHour)))
    val tickBytes = tickMsgs.map(Streams.render).toArray
    val ordered = (warmup ++ tickMsgs.flatten).toArray // the order the query reads them
    val tally = mutable.Map.empty[(Long, Double, Double), Double].withDefaultValue(0.0)
    ordered.foreach(m => tally(m.key) += m.precip)

    // set-up: fresh session, Derby DDL, query start and a few warm-up
    // batches; the last repetition's query is the one measured
    val calls = mutable.ArrayBuffer.empty[Streams.SinkCall]
    var url = ""
    val (setupS, setupEach, q) = Stats.timeSetups(c.setupReps) { r =>
      s.restart()
      if (url.nonEmpty) Streams.dropDb(url)
      url = s"jdbc:derby:memory:live$r"
      Streams.createDb(url)
      val in = c.dir(s"live$r/in"); val ckpt = c.work.resolve(s"live$r/ckpt")
      calls.clear()
      val q = Streams.startQuery(s.spark, in, ckpt, url, Trigger.ProcessingTime(0), None, calls)
      warmupFiles.zipWithIndex.foreach { case (m, i) =>
        Streams.publish(in, i, Streams.render(m))
        q.processAllAvailable()
      }
      q
    }
    Main.log("set up")
    val in = c.work.resolve(s"live${c.setupReps - 1}/in")
    s.exec.settle()
    s.exec.reset()

    // the measured run: the generator publishes on schedule from t0
    val t0 = (Clock.nowMs() + 100).toLong
    val lateMs = new Array[Double](ticks)
    val root = t.span(0, "workload live_hot_keys", "workload") { root =>
      t.span(0, "generator", "generator") { gen =>
        val g = new Thread(() => {
          for (k <- 0 until ticks) {
            val due = t0 + k.toLong * TickMs
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            t.span(gen, s"tick $k", "generator") { _ =>
              Streams.publish(in, WarmupBatches + k, tickBytes(k)) }
            lateMs(k) = Clock.nowMs() - due
          }
        }, "perfbench-generator")
        g.start(); g.join()
      }
      q.processAllAvailable()
      root
    }
    val total = warmupTotal + ticks.toLong * perTick
    Streams.waitForRows(s, q.runId, total)
    val all = s.progress.batches(q.runId)
    s.exec.settle()
    val stages = s.exec.snapshot()
    Main.log("measured")
    val heapMb = s.heapMb()

    // map messages to batches by cumulative row counts
    val keysByBatch = mutable.Map.empty[Long, mutable.Set[(Long, Double, Double)]]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Double]
    val timedB = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var cum = 0L
    all.foreach { p =>
      val from = cum; cum += p.numInputRows
      val ks = keysByBatch.getOrElseUpdate(p.batchId, mutable.Set.empty)
      (from until math.min(cum, ordered.size.toLong)).foreach(i => ks += ordered(i.toInt).key)
      if (from >= warmupTotal) {
        timedB += p
        val commit = Streams.commitMs(p)
        (from until cum).foreach { i =>
          val tick = (i - warmupTotal) / perTick
          latencies += commit - (t0 + tick * TickMs)
        }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val due = warmupTotal + perTick * math.min(ticks.toLong,
          math.max(0L, (start - t0) / TickMs + 1))
        backlog += math.max(0L, due - from).toDouble
      }
    }
    val timed = timedB.toList
    StreamReport.traceTriggers(t, root, timed, calls.toList, stages)
    val checked = Streams.check(s.spark, url, tally, keysByBatch, all, total)
    val failures = checked.failures ++ Map(
      "task_failures" -> stages.map(_.failures).sum,
      "stages_aborted" -> stages.count(_.aborted).toLong,
      "query_failed" -> (if (s.progress.failure.isDefined || q.exception.isDefined) 1L else 0L))
    val lastCommit = timed.map(Streams.commitMs).foldLeft(t0.toDouble)(math.max)
    val timedMsgs = total - warmupTotal
    val tail = Stats.tailPct(latencies.size)
    val e2e = Map(
      "setup_s" -> (setupS, "s", c.setupReps.toLong),
      "latency_p50_ms" -> (Stats.median(latencies.toSeq), "ms", latencies.size.toLong),
      "latency_tail_ms" -> (Stats.pct(latencies.toSeq, tail), "ms", latencies.size.toLong),
      "throughput_per_s" -> (timedMsgs / ((lastCommit - t0) / 1000.0), "1/s", timed.size.toLong),
      "busy_s" -> (timed.map(p => Streams.triggerMs(p)).sum / 1000.0, "s", timed.size.toLong),
      "retained_heap_mb" -> (heapMb, "MB", 1L))
    val layers = StreamReport.layers(timed, calls.toList, stages, checked.marks, checked.rows,
      backlog.toSeq, timedMsgs, lateMs.toSeq)
    q.stop()
    Main.Outcome(total, failures.values.sum, failures, e2e,
      layers ++ SelfTime.report(t, root), Map("latency_tail_pct" -> tail,
        "latency_ms_by_pct" -> Seq(75, 90, 95, 99).map(p => s"p$p" -> Stats.pct(latencies.toSeq, p)).toMap,
        "setup_each_s" -> setupEach, "trigger_ms" -> timed.map(Streams.triggerMs),
        "offered_rate_per_s" -> RatePerS, "tick_ms" -> TickMs, "keys" -> tally.size))
  }
}
