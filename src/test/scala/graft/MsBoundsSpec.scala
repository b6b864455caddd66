package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the plan-keyed [[streaming.WaveHarness.msBounds]] cache contract
  * (VERDICT r15 #4): the memo key is the frame's canonicalized plan +
  * input files, never the caller's label, so a label collision over two
  * DIFFERENT frames can't serve the wrong bounds — and two calls over
  * the SAME frame under different labels share one cached row.
  */
class MsBoundsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ev = {
    val df = Tables.events(spark, TestSpark.sfDir)
    operators.EventOps.withMicros(df)
      .select(col("event_id"), expr("us div 1000").as("ms"))
  }

  test("two distinct frames sharing one label get distinct bounds") {
    val whole = streaming.WaveHarness.msBounds(ev, "msb_collision_probe")
    val clipped = streaming.WaveHarness.msBounds(
      ev.filter(col("ms") > lit(whole.getLong(0))), "msb_collision_probe")
    assert(clipped.getLong(0) > whole.getLong(0),
      "a shared label served the unfiltered frame's bounds — the cache " +
        "key must depend on the frame, not the label")
  }

  test("the same frame under different labels shares one bounds row") {
    val a = streaming.WaveHarness.msBounds(ev, "msb_label_a")
    val b = streaming.WaveHarness.msBounds(ev, "msb_label_b")
    assert(a eq b, "semantically identical frames should hit one cache " +
      "entry regardless of label (the per-seed dedupe this keying buys)")
  }
}
