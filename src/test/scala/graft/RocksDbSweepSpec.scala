package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fuzz.StreamFuzz
import graft.streaming.WaveHarness

/** State-store-provider sweep: the streaming results must be identical
  * under the default HDFS-backed provider and RocksDB — the provider a
  * real 100 TB deployment runs (state larger than executor heap). Two
  * layers:
  *
  *  - every registered fuzz seed, driven under RocksDB and checked
  *    against their in-Spark batch twins (the quota family forces
  *    RocksDB internally — transformWithState requires it — so its four
  *    seeds double as idempotence checks of the conf wrap);
  *  - the hand-built oracle drives, run under BOTH providers and
  *    compared row-for-row (weather_e2e_poll is excluded: it has no
  *    state operator — its wall time is PollingSource poll rounds).
  *
  * No new operator code: this is a conf loop over existing drives, per
  * the production rule that a state-machine's correctness must not
  * depend on which store implementation holds its rows.
  */
class RocksDbSweepSpec extends AnyFunSuite {
  import StreamFuzz.DriveCfg
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  // seed→twin dispatch lives in StreamFuzz.twinFor (single source)

  // default: one seed per family block (the provider must be invariant
  // per STATE MACHINE, not per seed — the remaining seeds of a block
  // differ only in geometry); SPARK_GRAFT_FULL_SWEEPS=1 restores the
  // full registered-seed sweep (VERDICT r15 #2 test-budget fix)
  private val rdbSeeds =
    if (TestSpark.fullSweeps) StreamFuzz.registeredSeeds
    else StreamFuzz.registeredSeeds.groupBy(_ / 500).toSeq.sortBy(_._1)
      .map(_._2.min)

  rdbSeeds.foreach { s =>
    test(s"fuzz seed $s drive matches its batch twin under RocksDB") {
      // the drive executes eagerly inside build(), so the provider conf
      // must wrap the build, not the collect
      val drive = WaveHarness.withRocksDb(spark) {
        StreamFuzz.generate(s, DriveCfg(tag = "rdb")).build(spark, dir)
          .collect()
      }
      val batch = StreamFuzz.twinFor(s)(spark, dir).collect()
      assert(drive.length == batch.length,
        s"seed $s: drive ${drive.length} rows vs twin ${batch.length}")
      assert(drive.nonEmpty, s"seed $s: vacuous (0 rows)")
      drive.zip(batch).zipWithIndex.foreach { case ((d, b), i) =>
        assert(d == b, s"seed $s row $i: drive $d != twin $b")
      }
    }
  }

  private val handDrives = Seq(
    "events_window_stream", "events_dedup_stream",
    "events_attribution_stream", "events_attribution_outer",
    "events_attribution_rollup", "events_sessionize_stateful",
    "events_sessionize_warm", "events_sessionize_tws",
    "events_sessionize_window",
    "events_quota_stream", "events_quantile_stream",
    "events_pattern_stream", "events_firstseen_stream",
    "source_jsonl_stream_rt")

  handDrives.foreach { name =>
    test(s"hand drive $name is provider-invariant (default vs RocksDB)") {
      val fn = SparkEntry.queries(name)
      val base = fn(spark, dir).collect().map(_.toString).sorted
      val rdb = WaveHarness.withRocksDb(spark) {
        fn(spark, dir).collect()
      }.map(_.toString).sorted
      assert(base.nonEmpty, s"$name: vacuous (0 rows)")
      assert(base.length == rdb.length,
        s"$name: ${base.length} rows (default) vs ${rdb.length} (rocksdb)")
      base.zip(rdb).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"$name row $i: default $a != rocksdb $b")
      }
    }
  }
}
