package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fuzz.StreamFuzz
import graft.streaming.DriveTelemetry

/** Watermark-horizon state eviction OBSERVED, not argued: every
  * wave-harness drive records its per-micro-batch state-store row totals
  * into [[DriveTelemetry]]; for three distinct state machines (windowed
  * aggregation, transformWithState quota, stream-stream interval join)
  * the series must peak mid-drive and DROP once the sentinel waves push
  * the watermark past the data — bounded state is the entire 100 TB
  * claim of the streaming layer, and this is its recorded evidence.
  * Bench forwards the per-drive peaks into `bench_detail.json` as
  * `state_peaks`.
  */
class StateTelemetrySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def seriesOf(seed: Long, name: String): Seq[Long] = {
    StreamFuzz.generate(seed).build(spark, dir).count()
    val s = DriveTelemetry.stateSeries(name)
    assert(s.isDefined, s"drive $name recorded no telemetry")
    s.get
  }

  Seq((12000L, "sfz_agg_12000", "windowed aggregation"),
      (12500L, "sfz_quota_12500", "transformWithState quota"),
      (13500L, "sfz_join_13500", "stream-stream interval join"),
      // family L: the CHAINED pair — AdmitFirst MapState buckets PLUS
      // both join sides' state, summed across the two operators; the
      // sentinel waves must drain the composition, not just one stage
      (17506L, "sfz_twsjoin_17506", "tws-admit chained into a join"))
    .foreach { case (seed, name, what) =>
      test(s"$what state rows peak mid-drive and drop after the " +
          s"sentinel eviction waves ($name)") {
        val s = seriesOf(seed, name)
        assert(s.length >= 3, s"too few recorded batches: $s")
        assert(s.max > 0L, s"no state ever recorded: $s")
        assert(s.last < s.max,
          s"state did not drop after the sentinel waves: $s")
        // the same drive's recorded trigger phases: one entry per batch,
        // each carrying triggerExecution, which spans every other phase
        val phases = DriveTelemetry.phaseSeries(name).getOrElse(Nil)
        assert(phases.length == s.length &&
          phases.forall(ph => ph.get("triggerExecution")
            .exists(total => ph.values.forall(_ <= total))),
          s"recorded phases not one triggerExecution-bounded map per " +
            s"batch: $phases")
      }
    }

  test("peaks snapshot carries every recorded drive") {
    val p = DriveTelemetry.peaks
    Seq("sfz_agg_12000", "sfz_quota_12500", "sfz_join_13500").foreach { n =>
      assert(p.contains(n), s"peaks missing $n: ${p.keySet}")
      assert(p(n) > 0L, s"zero peak for $n")
    }
  }
}
