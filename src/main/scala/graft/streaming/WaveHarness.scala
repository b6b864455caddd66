package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The wave-drive harness every oracle-checked streaming query runs
  * through: a streaming plan, fed its input in arrival waves, must end
  * with the same result as the batch SQL over the whole input.
  *
  * A drive stages its input frame (carrying `side` and `wave` columns)
  * in one partitioned write, releases the waves one at a time into one
  * watched source dir per side, runs one micro-batch per released wave,
  * and returns the sink table. Ascending time-bucket waves mean no row
  * is ever late, which is what makes a hand drive's oracle expressible
  * as plain batch SQL; the fuzz drives carve randomly and replay the
  * watermark in their oracles instead.
  *
  * Staging and checkpoints are the oracle harness's arrival simulation,
  * not a production path: they live on tmpfs when available and die
  * with the drive.
  */
object WaveHarness {

  /** Stage every arrival wave in ONE partitioned write (by side, then
    * wave), then release waves into the watched source dirs by file
    * RENAME (a driver-side metadata op — the cheap half of the harness;
    * the expensive half, the corpus scan, runs exactly once).
    */
  private def stageWaves(df: DataFrame, stage: String,
      filesPerWave: Int): Unit =
    if (filesPerWave <= 1)
      df.repartition(1).write.partitionBy("side", "wave").parquet(stage)
    else {
      // multi-file waves: scatter each wave's rows across a deterministic
      // content-hash salt so the dynamic-partition write emits several
      // files per wave directory — one released wave is STILL one
      // micro-batch (releaseWave publishes all its files in one step; no
      // maxFilesPerTrigger), but the source now plans multi-file,
      // multi-partition batches. Hash salting (not round-robin) keeps
      // the carving reproducible run to run. The salt is a real
      // PARTITION COLUMN, not just a repartition key: hash-partition
      // placement can collide two salts of one wave into one task
      // partition, but partitionBy still writes each (wave, salt) into
      // its own directory — the per-wave file split is structural, never
      // silently collapsed by placement (releaseWave flattens the salt
      // level away when releasing, so the source sees plain files). The
      // hash skips `side` so a one-sided drive salts exactly its rows.
      val salt = pmod(hash(df.columns.filterNot(_ == "side").map(col): _*),
        lit(filesPerWave))
      df.withColumn("salt", salt)
        .repartition(col("wave"), col("salt"))
        .write.partitionBy("side", "wave", "salt").parquet(stage)
    }

  /** JVM-lifetime keep area for restart-drive outputs: the harness
    * scratch dir dies with the drive, so the returned DataFrame's files
    * move here instead of being collect()ed onto the driver. One root,
    * one shutdown hook — per-drive subdirs are name-keyed and tiny
    * (finalized agg rows).
    */
  private lazy val keepRootDir: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_keep_")
    sys.addShutdownHook(deleteHarnessDir(p.toString))
    p
  }

  private def keepDir(name: String): String =
    java.nio.file.Files.createTempDirectory(keepRootDir, name).toString

  /** Recursively delete a harness scratch root once its drive is done —
    * the staged waves and checkpoint often live on tmpfs (RAM), and the
    * memory sink already holds the results.
    */
  private def deleteHarnessDir(root: String): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rec)
      f.delete()
    }
    rec(new java.io.File(root))
  }

  /** A drive's watched source dir: a symlink to the directory holding
    * the files released so far (see [[releaseWave]]).
    */
  private def createSourceDir(srcDir: String): Unit = {
    val link = java.nio.file.Paths.get(srcDir)
    val empty = link.resolveSibling(s"${link.getFileName}.init")
    java.nio.file.Files.createDirectories(empty)
    java.nio.file.Files.createSymbolicLink(link, empty.getFileName)
  }

  /** Release one staged wave into a drive's source dir, all of its files
    * in one step. The query keeps triggering while the driver releases,
    * so a wave whose files landed one by one could be listed half-landed
    * and split over two micro-batches, which moves the watermark
    * mid-wave. Instead the wave's files go into a fresh directory beside
    * hard links of every earlier file, and the `srcDir` symlink swaps
    * onto it by one atomic rename: a listing sees all of a wave or none
    * of it. A private staging is consumed (move); a SHARED staging is
    * retained for the next drive of the same seed — hard-link (same
    * tmpfs, zero copy), falling back to a copy if the link fails.
    */
  private def releaseWave(stage: String, srcDir: String, wave: Long,
      retainStage: Boolean): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val link = java.nio.file.Paths.get(srcDir)
    val next = Files.createDirectory(link.resolveSibling(s"${link.getFileName}.w$wave"))
    link.toRealPath().toFile.listFiles.foreach(f =>
      Files.createLink(next.resolve(f.getName), f.toPath))
    val wd = new java.io.File(s"$stage/wave=$wave")
    // multi-file staging nests a salt=N partition level under each wave
    // dir; release flattens it so the file source sees plain files
    def parquets(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles).getOrElse(Array.empty[java.io.File]).flatMap { f =>
        if (f.isDirectory) parquets(f)
        else if (f.getName.endsWith(".parquet")) Array(f)
        else Array.empty[java.io.File]
      }
    parquets(wd).sortBy(_.getPath).zipWithIndex
      .foreach { case (f, k) =>
        val dst = next.resolve(s"w${wave}_$k.parquet")
        if (retainStage)
          try Files.createLink(dst, f.toPath)
          catch { case _: Exception =>
            Files.copy(f.toPath, dst)
          }
        else Files.move(f.toPath, dst)
      }
    val swap = link.resolveSibling(s".${link.getFileName}.swap")
    Files.createSymbolicLink(swap, next.getFileName)
    Files.move(swap, link, StandardCopyOption.ATOMIC_MOVE)
  }

  /** JVM-lifetime shared staging for wave drives whose carved frame is
    * identical across several registered drives: the restart/multi-file
    * re-drives of a fuzz seed, and the four sessionize oracles that all
    * stage EventOps' session wave frame. The carving is deterministic per
    * seed, so the first drive stages and the rest hard-link — the
    * distributed staging write (a full pass over the carved fixture) runs
    * once per (key, filesPerWave), not once per drive. Keyed dirs live
    * until JVM exit; at bench scale that is a few MB of parquet per seed
    * on tmpfs.
    */
  private lazy val sharedStageRoot: String = {
    val p = harnessTempDir("graft_stage_")
    sys.addShutdownHook(deleteHarnessDir(p))
    p
  }

  private val stagedKeys = scala.collection.mutable.Map.empty[String, String]

  private def sharedStage(rows: DataFrame, key: String,
      filesPerWave: Int): String = stagedKeys.synchronized {
    stagedKeys.getOrElseUpdate(s"${key}_f$filesPerWave", {
      val dir = s"$sharedStageRoot/${key}_f$filesPerWave"
      stageWaves(rows, dir, filesPerWave)
      dir
    })
  }

  /** Memoized MIN/MAX(ms) Row of a wave frame — the scalar every drive
    * builder reads before carving. The frame's time bounds are a pure
    * function of the fixture subset (never of the carving seed or drive
    * config), so the one-row agg job runs once per (frame, sf dir) per
    * JVM instead of once per drive AND per bench pass — the same
    * in-session staging principle as [[sharedStage]]; nothing persists
    * across runs. The cache key is the frame's CANONICALIZED analyzed
    * plan (VERDICT r15 #4): label uniqueness used to be convention-only,
    * so a future caller reusing a label over a differently-filtered
    * frame would have silently served the wrong bounds and mis-carved
    * every wave — plan-keyed, two semantically different frames can
    * never collide (exact plan equality, not a hash), and conversely
    * semantically IDENTICAL frames now share one bounds job regardless
    * of label: a fuzz family's frame does not depend on the carving
    * seed, so ~70 per-seed one-row agg scans per bench pass collapse to
    * one per (family projection, fixture). The label parameter remains
    * for call-site readability/debugging only.
    */
  private val msBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Row]

  private[graft] def msBounds(ev: DataFrame, label: String): Row = {
    // the canonicalized plan text distinguishes projections/filters but
    // OMITS the scan path (LogicalRelation prints as `Relation[...]
    // parquet`), and suites drive the same frames at several scale
    // factors in one JVM — the input-file list is the fixture identity
    val key = ev.queryExecution.analyzed.canonicalized.toString + "#" +
      ev.inputFiles.sorted.mkString(",")
    msBoundsCache.computeIfAbsent(key,
      _ => ev.agg(min(col("ms")), max(col("ms"))).head())
  }

  /** Shared-staging keys must be unique per (logical frame, sf dir) —
    * suites drive the same frames at several scale factors in one JVM.
    * The sanitized dir alone is NOT injective (`data-sf` and `data_sf`
    * collapse to the same key and the second drive would silently reuse
    * waves carved from the wrong fixture), so a hash of the raw string
    * is appended.
    */
  private[graft] def stageKeyFor(base: String, dir: String): String =
    base + "_" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
      "_" + Integer.toHexString(dir.hashCode)

  /** Scratch root for the streaming-harness staging + checkpoints:
    * tmpfs when available — the per-micro-batch cost at harness scale is
    * checkpoint fsync latency (offset WAL + state deltas), which tmpfs
    * removes. Production checkpoints go on durable storage; this is the
    * oracle harness, whose checkpoint dies with the query anyway.
    */
  private def harnessTempDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix).toString
    else java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Streaming plan-regression channel (VERDICT r13 #1): record the
    * query's LAST micro-batch executed plan, normalized with the
    * run-scoped file lists scrubbed. Best-effort by contract — a
    * telemetry failure must never fail the drive itself. Shared by the
    * wave drives and the connector's restart drive.
    */
  private[graft] def recordLastPlan(q: StreamingQuery, name: String): Unit =
    try org.apache.spark.sql.graft.GraftSqlShim.lastMicroBatchPlan(q)
      .foreach(p => DriveTelemetry.recordPlan(name,
        graft.tools.PlanFingerprint.fingerprintStreaming(p)))
    catch { case e: Exception =>
      System.err.println(s"[drive] $name plan fp failed: ${e.getMessage}") }

  /** The side name of a one-sided drive; also its source dir's name. */
  private val OneSide = "src"

  /** The one-sided wave drive: stage `rows` (must carry a `wave`
    * column), stream them wave-by-wave through `transform` into a memory
    * sink, and return the sink table. See [[driveSides]].
    */
  private[graft] def driveWaves(spark: SparkSession, rows: DataFrame,
      schema: String, nWaves: Long, name: String,
      statePartitions: Int = 1, filesPerWave: Int = 1,
      restartAfter: Option[Long] = None,
      stageKey: Option[String] = None)(
      transform: DataFrame => DataFrame): DataFrame =
    driveSides(spark, rows.withColumn("side", lit(OneSide)),
      Seq(OneSide -> schema), nWaves, name, statePartitions, filesPerWave,
      restartAfter, stageKey) { case Seq(src) => transform(src) }

  /** The wave drive: `rows` carries a `side` and a `wave` column; each
    * `(side, schema)` entry of `sides` becomes one file stream, handed
    * to `transform` in `sides` order. Every wave releases on all sides
    * before its micro-batch runs.
    *
    * `statePartitions` sets the drive's shuffle/state width,
    * `filesPerWave` stages each wave as several salted files,
    * `restartAfter = Some(k)` kills the query once wave k+1 is released
    * and resumes it from the checkpoint into an exactly-once file sink,
    * and `stageKey` shares one staging across drives of an identical
    * frame.
    */
  private[graft] def driveSides(spark: SparkSession, rows: DataFrame,
      sides: Seq[(String, String)], nWaves: Long, name: String,
      statePartitions: Int = 1, filesPerWave: Int = 1,
      restartAfter: Option[Long] = None,
      stageKey: Option[String] = None)(
      transform: Seq[DataFrame] => DataFrame): DataFrame = {
    val root = harnessTempDir(s"graft_${name}_")
    val srcDirs = sides.map { case (side, _) => s"$root/$side" }
    srcDirs.foreach(createSourceDir)
    // with a stageKey, the staged waves are shared across every drive of
    // the same deterministic frame (staged once per JVM); without, they
    // are private to this drive and consumed as waves release
    val stage = stageKey match {
      case Some(k) => sharedStage(rows, k, filesPerWave)
      case None =>
        val s = s"$root/stage"
        stageWaves(rows, s, filesPerWave)
        s
    }
    try {
      withHarnessConf(spark, statePartitions) {
        // restart drives write to the exactly-once FILE sink (the memory
        // sink is not fault-tolerant: a recovered batch is never re-added
        // to its table, so post-crash equality could not be asserted);
        // plain drives keep the memory sink the specs and SparkEntry read
        def startQuery() = {
          val srcs = sides.zip(srcDirs).map { case ((_, schema), d) =>
            spark.readStream.schema(schema).parquet(d)
          }
          val w = transform(srcs).writeStream.outputMode("append")
            .queryName(name)
            .option("checkpointLocation", s"$root/ckpt")
          (if (restartAfter.isEmpty) w.format("memory")
           else w.format("parquet").option("path", s"$root/out")).start()
        }
        var q = startQuery()
        // pre-crash progress snapshots for restart drives: the post-crash
        // query's ring buffer starts at the recovery batch, so without
        // this the recorded state-peak series would miss the pre-crash
        // peak and carry a batch-id gap
        var preCrash: Seq[StreamingQueryProgress] = Nil
        try {
          (0L until nWaves).foreach { w =>
            sides.zip(srcDirs).foreach { case ((side, _), d) =>
              releaseWave(s"$stage/side=$side", d, w,
                retainStage = stageKey.isDefined)
            }
            restartAfter match {
              case Some(k) if w == k + 1 =>
                // crash point: wave k+1's files are on disk but the batch
                // is NOT awaited — stop() lands before or mid-flight, so
                // the offset log holds no commit for it and the restarted
                // query must replay it; the file sink's metadata log makes
                // that replay exactly-once regardless of where the stop
                // actually interrupted
                preCrash = q.recentProgress.toSeq
                q.stop()
                q = startQuery()
                q.processAllAvailable()
              case _ => q.processAllAvailable()
            }
          }
          // the drive's per-batch progress, read off the query's ring
          // buffer — synchronous by the time processAllAvailable returns.
          // Restart drives merge the pre-crash snapshots; a batch id seen
          // on both sides (the replayed batch) takes the post-restart
          // entry (ps.last)
          DriveTelemetry.record(name,
            (preCrash ++ q.recentProgress.toSeq)
              .groupBy(_.batchId).toSeq.sortBy(_._1)
              .map { case (_, ps) => ps.last })
          recordLastPlan(q, name)
        } finally q.stop()
        if (restartAfter.isEmpty) spark.table(name)
        else {
          // move the file-sink output off the harness scratch dir before
          // it is deleted, and re-read from the survivor — a distributed
          // scan, never a driver collect. The metadata-aware read's
          // inputFiles IS the committed set (the _spark_metadata log is
          // what filters out orphan part-files from the crashed attempt),
          // so copying exactly those files and re-listing without the log
          // preserves exactly-once; the log itself cannot move because it
          // records absolute paths into the dying scratch dir. File-count
          // driver work, not row-count.
          val out = spark.read.parquet(s"$root/out")
          val kept = java.nio.file.Paths.get(keepDir(name))
          out.inputFiles.foreach { uri =>
            val src = java.nio.file.Paths.get(new java.net.URI(uri).getPath)
            java.nio.file.Files.copy(src, kept.resolve(src.getFileName.toString),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          spark.read.schema(out.schema).parquet(kept.toString)
        }
      }
    } finally deleteHarnessDir(root)
  }

  /** Runs `body` with the RocksDB state store provider (required by the
    * transformWithState drives — the new API does not run on the
    * HDFS-backed default), restoring the caller's provider after.
    */
  private[graft] def withRocksDb[A](spark: SparkSession)(body: => A): A = {
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    // changelog checkpointing: commit the per-batch delta instead of a
    // full RocksDB snapshot upload every micro-batch — the supported
    // fault-tolerant mode (restart drives replay the changelog), and the
    // per-batch commit cost drops from O(state) to O(delta)
    spark.conf.set(keys(1), "true")
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The registered-query name currently executing, plus whether it was
    * registered as a streaming drive. Set by the [[batch]]/[[drive]]
    * wrappers around every registry entry; [[withHarnessConf]] consults
    * it so a wave drive registered under a batch name fails at its first
    * execution (Verify/Bench/specs all trip it) instead of silently
    * billing micro-batch wall time to the batch headline — the r10
    * `events_sessionize_window` misclassification, closed as a class.
    * None means a direct call (specs, fuzz harness), which is always
    * allowed: StreamFuzz registers every generated name into
    * `queryNames`, so its drives cannot drift by construction.
    */
  private val activeRegistration =
    new scala.util.DynamicVariable[Option[(String, Boolean)]](None)

  /** Registry-entry wrappers: every EventOps query is registered through
    * exactly one of these, so the registry itself records the
    * batch/drive split and `EventOps.streamingQueryNames` cannot fall
    * out of sync with it.
    */
  private[graft] def batch(name: String, f: (SparkSession, String) => DataFrame)
      : (String, (SparkSession, String) => DataFrame) =
    name -> ((s: SparkSession, d: String) =>
      activeRegistration.withValue(Some((name, false)))(f(s, d)))

  private[graft] def drive(name: String, f: (SparkSession, String) => DataFrame)
      : (String, (SparkSession, String) => DataFrame) =
    name -> ((s: SparkSession, d: String) =>
      activeRegistration.withValue(Some((name, true)))(f(s, d)))

  /** Test hooks for BenchSplitSpec's tripwire proof: run `body` as if it
    * were a registry entry, and touch the harness chokepoint, without
    * paying for a real drive.
    */
  private[graft] def runAsRegistered[A](name: String, isDrive: Boolean)(
      body: => A): A =
    activeRegistration.withValue(Some((name, isDrive)))(body)

  private[graft] def harnessProbe(spark: SparkSession): Unit =
    withHarnessConf(spark, statePartitions = 1)(())

  /** Runs `body` under the streaming-harness session conf, restoring the
    * caller's values after: `statePartitions` shuffle/state partitions,
    * no no-data micro-batches (the sentinel waves carry the watermark,
    * so the extra empty batch per wave buys nothing), and no whole-stage
    * codegen. Production state sizing belongs to the cluster conf, not
    * the operator.
    *
    * Whole-stage codegen stays off because r15 measured it as a net LOSS
    * for the wave drives: watermark literals inline into the generated
    * code text, so every micro-batch recompiles its stages, and an
    * interleaved min-of-3 A/B showed no family where the compile cost
    * amortized — forced ON it was ~+0.9 s median across 12 probed
    * drives, and the one apparent win (tws-join, single-run probe) did
    * not survive the controlled re-measurement. OPTIMIZATION_r15.md
    * §streaming has the A/B tables.
    */
  private def withHarnessConf[A](spark: SparkSession,
      statePartitions: Int)(body: => A): A = {
    activeRegistration.value.foreach { case (qname, isDrive) =>
      require(isDrive, s"registered query '$qname' reached the streaming " +
        "wave-drive harness but was registered via batch(); register it " +
        "via drive() so Bench bills it to streaming_sec")
    }
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.codegen.wholeStage",
      "spark.sql.streaming.minBatchesToRetain",
      "spark.sql.streaming.numRecentProgressUpdates",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    // default 1 state partition (tiny per-wave slices — a 32-partition
    // store is 32x commit overhead for nothing); drives whose per-key
    // state work GROWS with the fixture (the timer-sweeping quota job)
    // pass a small >1 width so key processing parallelizes while commit
    // overhead stays bounded
    spark.conf.set(keys(0), statePartitions.toString)
    spark.conf.set(keys(1), "false")
    spark.conf.set(keys(2), "false")
    // r16 negative result, pinned so round 17 doesn't re-walk it: with
    // whole-stage off, NON-whole-stage codegen still Janino-compiles
    // every watermark-literal-bearing predicate fresh each micro-batch
    // (the literal lands in the generated code text). factoryMode=
    // NO_CODEGEN removes those compiles, and a first interleaved
    // min-of-3 (agg/tws-join/join-join) measured task time -13..-34% —
    // but the confirmation A/B on the compute-heavier families
    // (agg-join 40004, join-dedup 42010, tws-join 17502) measured the
    // OPPOSITE (interpreted per-row eval over 5-16k-row waves costs
    // more than the compiles save), and a full-bench NC run showed no
    // streaming win over r15 once host noise was normalized out.
    // Family-dependent sign + under the host's noise floor = NOT
    // shipped; FALLBACK (Spark default) stays.
    spark.conf.set(keys(5), "FALLBACK")
    // retain 2 checkpoint batches instead of the production 100: the
    // harness runs <=10 micro-batches per drive, and the restart drives
    // resume from the LATEST committed batch — a shorter retention only
    // trims offset/commit-log compaction work per batch
    spark.conf.set(keys(3), "2")
    // progress ring buffer sized ABOVE any possible wave count (ADVICE
    // r14): batchLog micro-batch counts, state-peak series and phase
    // timings read q.recentProgress, whose default 100-entry cap would
    // silently truncate a long drive and mis-normalize its time ratio
    spark.conf.set(keys(4), "200")
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
