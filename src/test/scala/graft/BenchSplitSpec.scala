package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the Bench batch/streaming split registry
  * ([[SparkEntry.streamingQueries]]): a renamed or deleted drive must
  * fail HERE, not silently fall into the batch subtotal and skew the
  * round-over-round comparison the split exists to protect.
  */
class BenchSplitSpec extends AnyFunSuite {

  test("every registered streaming query exists in SparkEntry.queries") {
    val missing = SparkEntry.streamingQueries -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"streamingQueries not in queries: $missing")
  }

  test("EventOps drive registry feeds streamingQueries by construction") {
    val leaked =
      graft.operators.EventOps.streamingQueryNames -- SparkEntry.streamingQueries
    assert(leaked.isEmpty, s"EventOps drives not in streamingQueries: $leaked")
    // the r10 misclassification stays closed by name
    assert(SparkEntry.streamingQueries.contains("events_sessionize_window"))
  }

  test("a batch-registered query that reaches the drive harness throws") {
    // completeness proof for the r10 class: the wave-drive chokepoint
    // refuses to run under a batch() registration, so Verify/Bench would
    // go red at the first execution instead of silently billing drive
    // wall time to batch_sec
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.WaveHarness.runAsRegistered("bogus_drive", isDrive = false) {
        graft.streaming.WaveHarness.harnessProbe(TestSpark.spark)
      }
    }
    assert(ex.getMessage.contains("bogus_drive"))
    // and a drive() registration passes the same chokepoint
    graft.streaming.WaveHarness.runAsRegistered("real_drive", isDrive = true) {
      graft.streaming.WaveHarness.harnessProbe(TestSpark.spark)
    }
  }

  test("naming-convention queries are all registered as streaming") {
    // the *_stream suffix is the streaming-drive naming convention; a
    // new drive that follows it but skips the registry would be
    // misclassified into batch_sec
    val conventional = SparkEntry.queries.keySet.filter(_.endsWith("_stream"))
    val unregistered = conventional -- SparkEntry.streamingQueries
    assert(unregistered.isEmpty,
      s"*_stream queries missing from streamingQueries: $unregistered")
  }
}
