package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanFingerprint

/** Contract of the plan-fingerprint tripwire (VERDICT r12 #1): a
  * fingerprint must be (a) STABLE — identical across independent
  * builds/executions of the same query in the same data scale, else
  * the tripwire cries wolf like the wall-time one did — and (b)
  * SENSITIVE — a real plan regression (the negative controls: a
  * de-pushed filter, a changed join strategy) must change it.
  */
class PlanFingerprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def fpOf(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // warm; the fingerprint pins the INITIAL plan by design
    PlanFingerprint.fingerprint(df)
  }

  test("stable: two independent executions fingerprint identically") {
    for (name <- Seq("q1_pricing_summary", "q_filter_pushdown",
        "q_broadcast_join", "dedup_exact", "curation_funnel")) {
      val fn = SparkEntry.queries(name)
      val a = fpOf(fn(spark, dir))
      spark.catalog.clearCache()
      val b = fpOf(fn(spark, dir))
      assert(a == b, s"$name fingerprint unstable across executions")
    }
  }

  test("negative control: a deliberately de-pushed filter IS flagged") {
    import org.apache.spark.sql.functions.{col, expr}
    // the regression being simulated is a CODE change that stops the
    // predicate reaching the scan: the semantically-identical arithmetic
    // form defeats the parquet filter translator, so PushedFilters loses
    // the GreaterThan entry — the fingerprint must move
    val pushed = fpOf(spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_discount") > 0.08)
      .select(col("l_orderkey"), col("l_discount")))
    val depushed = fpOf(spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(expr("l_discount + cast(0.0 as double) > 0.08"))
      .select(col("l_orderkey"), col("l_discount")))
    assert(pushed != depushed,
      "de-pushed filter not visible in the fingerprint")
  }

  test("negative control: a join-strategy change IS flagged") {
    import org.apache.spark.sql.functions.col
    def q(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(s.read.parquet(s"$dir/nation.parquet"),
          col("l_suppkey") === col("n_nationkey"))
        .groupBy(col("n_name")).count()
    val broadcast = fpOf(q(spark))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val smj = fpOf(q(s2))
    assert(broadcast != smj,
      "BHJ->SMJ strategy change not visible in the fingerprint")
  }

  // ---- streaming channel (VERDICT r13 #1) -------------------------------
  // mini wave drives built directly on the harness: 4 waves of 10 rows,
  // one minute of event time per wave. Unique drive names — DriveTelemetry
  // is keyed by name and a re-run overwrites.

  private def miniRows(spark: org.apache.spark.sql.SparkSession) =
    spark.range(40).selectExpr("id AS key", "id * 60000 AS ms",
      "CAST(id AS DOUBLE) AS value", "CAST(id / 10 AS LONG) AS wave")

  private def streamAggFp(name: String, parts: Int): String = {
    import org.apache.spark.sql.functions._
    graft.streaming.WaveHarness.driveWaves(spark, miniRows(spark),
      "key LONG, ms LONG, value DOUBLE", 4L, name,
      statePartitions = parts) { src =>
      src.withColumn("ts", timestamp_millis(col("ms")))
        .withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "1 minute"), col("key"))
        .agg(sum("value").as("s"))
        .select(col("key"), col("s"))
    }
    graft.streaming.DriveTelemetry.planFps(name)
  }

  private def streamJoinFp(name: String, joinType: String): String = {
    import org.apache.spark.sql.functions._
    graft.streaming.WaveHarness.driveWaves(spark, miniRows(spark),
      "key LONG, ms LONG, value DOUBLE", 4L, name) { src =>
      val ts = src.withColumn("ts", timestamp_millis(col("ms")))
      val l = ts.filter(col("key") % 2 === 0).withWatermark("ts", "10 seconds")
        .select(col("key").as("lk"), col("ts").as("lts"),
          col("value").as("lv"))
      val r = ts.filter(col("key") % 2 === 1).withWatermark("ts", "10 seconds")
        .select((col("key") - 1).as("rk"), col("ts").as("rts"))
      l.join(r, org.apache.spark.sql.functions.expr(
        "lk = rk AND rts BETWEEN lts - INTERVAL 1 MINUTE AND lts + INTERVAL 1 MINUTE"),
        joinType)
        .select(col("lk"), col("lv"))
    }
    graft.streaming.DriveTelemetry.planFps(name)
  }

  test("streaming: stable across independent drives of the same query") {
    assert(streamAggFp("pfs_agg_a", 1) == streamAggFp("pfs_agg_b", 1),
      "streaming fingerprint unstable across identical drives")
  }

  test("streaming negative control: state-partition count must NOT flag") {
    // the host-shape knob: partitioning KEYS are fingerprinted, counts
    // are not — a drive re-run at a different state-store parallelism
    // is the same plan
    assert(streamAggFp("pfs_agg_p1", 1) == streamAggFp("pfs_agg_p2", 2),
      "streaming fingerprint depends on state partition count — host-noisy")
  }

  test("streaming negative control: a changed join type MUST flag") {
    assert(streamJoinFp("pfs_join_inner", "inner") !=
      streamJoinFp("pfs_join_louter", "leftOuter"),
      "inner->leftOuter streaming join change not visible in the fingerprint")
  }

  test("streaming: a SparkEntry drive's fingerprint attributes via the " +
      "log window (drive names differ from query names)") {
    // the r14 first-regen bug class: the harness records under its own
    // drive name (sfz_srol_42503), so a name-keyed lookup on the
    // SparkEntry name (fuzz_q42503) silently found nothing — Bench and
    // PlanManifest attribute by the log window around the invocation
    val mark = graft.streaming.DriveTelemetry.planLogSize
    SparkEntry.queries("fuzz_q42503")(spark, dir).count()
    val fps = graft.streaming.DriveTelemetry.planLogSince(mark)
    assert(fps.nonEmpty, "drive recorded no fingerprint in the log window")
    assert(graft.streaming.DriveTelemetry.combinedFp(fps.map(_._2)).isDefined)
  }

  test("coverage guard: every batch query has a committed manifest entry") {
    // VERDICT r13 #5: Bench's plan diff only checks queries present in
    // BOTH sides, so a query missing from the committed manifest loses
    // tripwire coverage silently — this assertion makes that a test red
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("plan_manifest.json"))
    val batch = SparkEntry.queries.keySet -- SparkEntry.streamingQueries
    val gaps = graft.tools.PlanManifest.coverageGaps(txt, batch)
    assert(gaps.isEmpty, s"batch queries missing from plan_manifest.json " +
      s"(regenerate via graft.tools.PlanManifest): ${gaps.toSeq.sorted}")
    // negative control: a deliberately unregistered name trips the guard
    assert(graft.tools.PlanManifest.coverageGaps(txt,
      batch + "zz_deliberately_unregistered") ==
      Set("zz_deliberately_unregistered"))
  }

  test("coverage guard: every STREAMING drive has a committed fingerprint " +
      "(UNFINGERPRINTED counts as a gap)") {
    // VERDICT r14 #4 closed: the two non-wave drives (weather_e2e_poll,
    // source_jsonl_stream_rt) record through recordLastPlan since r15, so
    // the manifest must carry a real fingerprint for every drive — and
    // coverageGaps treats UNFINGERPRINTED (telemetry silently failed) as
    // lost coverage, not as covered (ADVICE r14)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("plan_manifest.json"))
    val gaps = graft.tools.PlanManifest.coverageGaps(txt,
      SparkEntry.streamingQueries)
    assert(gaps.isEmpty, s"streaming drives missing a usable fingerprint " +
      s"in plan_manifest.json (regenerate): ${gaps.toSeq.sorted}")
  }

  test("insensitive to partition-count knobs (the host-varying axis)") {
    import org.apache.spark.sql.functions.col
    def q(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag")).count()
    val base = fpOf(q(spark))
    // a different shuffle.partitions (the local[N]-dependent default)
    // must NOT move the fingerprint — that is what made shuffle bytes
    // host-noisy
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    val other = fpOf(q(s2))
    assert(base == other,
      "fingerprint depends on shuffle partition count — host-noisy")
  }
}
