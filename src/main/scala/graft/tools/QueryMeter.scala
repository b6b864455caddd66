package graft.tools

/** Dev measurement harness for optimization rounds (guide §1): for each
  * named query, capture `.explain("formatted")` to a file and time the
  * computation in isolation with the noop sink (guide §1.4 — eager, every
  * column, no sink cost, no count()-style column pruning), min-of-N.
  *
  * Usage (runMain):
  *   graft.tools.QueryMeter <outDir> <name>[,<name>...] [reps]
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  * SPARK_GRAFT_EXPLAIN_SUFFIX (default "before" — plans land at
  * <outDir>/<name>_<suffix>.txt).
  *
  * Prints one line per query: name, noop-sink seconds (min over reps, plus
  * the full series), count() seconds for comparability with Bench's timed
  * action, and the Exchange/Join-operator census of the initial plan. A
  * streaming drive's line instead carries its job/task census and its
  * micro-batches' trigger phases (Spark's `durationMs`: latestOffset,
  * queryPlanning, addBatch, walCommit, ...) summed over the last timed
  * run — read from [[graft.streaming.DriveTelemetry]], which the wave
  * harness fills on every drive. `triggerExecution` is the batches' total
  * and spans the other phases.
  * Dev tooling only — never on a query path.
  */
object QueryMeter {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names: Seq[String] =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")
    val builder = graft.GraftSession.builder(cpus)
    // dev experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" lets config
    // A/B runs vary session confs without a recompile. Malformed entries
    // are NAMED on stderr (ADVICE r15: a typo'd A/B must not silently
    // measure the wrong config).
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) builder.config(kv.take(i).trim, kv.drop(i + 1).trim)
      else if (kv.trim.nonEmpty) System.err.println(
        s"[meter] SPARK_GRAFT_EXTRA_CONF entry ignored (no '='): '$kv'")
    })
    val spark = builder.getOrCreate()
    // per-drive job/stage/task census: if sum(executorRunTime) per drive is
    // far below its wall time, the cost is driver/scheduling machinery, not
    // compute — the guide §1 empirical split for streaming drives
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val serMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          serMs.addAndGet(m.executorDeserializeTime + m.resultSerializationTime)
        }
      }
    })
    def census(): (Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, runMs.get, serMs.get)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // same warm-up as Bench: parquet footers + codegen JIT
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case _: Throwable => () }
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[meter] $name: NOT REGISTERED")
        case Some(fn) =>
          try {
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(s"meter: $name")
            val isStream = graft.SparkEntry.streamingQueries.contains(name)
            // one warm build+run (stages substrates, JITs), then timed reps
            def once(): (Double, Double) = {
              val t0 = System.nanoTime()
              val df = fn(spark, sfDir)
              df.write.format("noop").mode("overwrite").save()
              val noopSec = (System.nanoTime() - t0) / 1e9
              val t1 = System.nanoTime()
              val df2 = fn(spark, sfDir)
              df2.count()
              val cntSec = (System.nanoTime() - t1) / 1e9
              (noopSec, cntSec)
            }
            // capture the initial plan once (same channel as Bench/manifest)
            val df0 = fn(spark, sfDir)
            val plan = df0.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            if (isStream) {
              // a streaming drive already ran end-to-end while building
              // df0; time the drive itself (the thing Bench times)
              val c0 = census()
              var phaseMark = 0
              val times = (1 to math.min(reps, 2)).map { _ =>
                phaseMark = graft.streaming.DriveTelemetry.batchLogSize
                val t0 = System.nanoTime()
                fn(spark, sfDir).count()
                (System.nanoTime() - t0) / 1e9
              }
              val c1 = census()
              val phases = graft.streaming.DriveTelemetry
                .phaseTotalsSince(phaseMark).toSeq.sorted
                .map { case (k, v) => s"$k:$v" }.mkString(",")
              println(f"[meter] $name%-28s drive=${times.min}%7.3f s " +
                s"series=${times.map(t => f"$t%.3f").mkString(",")} " +
                s"jobs=${c1._1 - c0._1} stages=${c1._2 - c0._2} " +
                s"tasks=${c1._3 - c0._3} taskRunMs=${c1._4 - c0._4} " +
                s"taskSerMs=${c1._5 - c0._5} phaseMs=$phases")
            } else {
              once() // warm
              val series = (1 to reps).map(_ => once())
              val noop = series.map(_._1).min
              val cnt = series.map(_._2).min
              val exch = "Exchange".r.findAllIn(plan).size
              val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
                "ShuffledHashJoin", "BroadcastNestedLoopJoin")
                .map(j => j -> s"$j".r.findAllIn(plan).size)
                .filter(_._2 > 0).map { case (j, n) => s"$j=$n" }
                .mkString(",")
              println(f"[meter] $name%-28s noop=$noop%7.3f s count=$cnt%7.3f s " +
                f"exchanges=$exch $joins " +
                s"noop_series=${series.map(t => f"${t._1}%.3f").mkString(",")}")
            }
          } catch { case e: Throwable =>
            println(s"[meter] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
