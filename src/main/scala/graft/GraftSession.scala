package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.ForkFreeCheckpointFileManager

/** The one place the engine's local session conf is written down; every
  * entry point (Bench, Verify, the tools, the test session) builds from
  * here and adds only its own extras.
  */
object GraftSession {

  /** A builder for a `local[cpus]` session with one shuffle partition
    * per core, UTC session time, no UI, AQE on and [[GraftExtensions]]
    * installed. `nanosAsLong` reads a parquet TIMESTAMP(NANOS) `events.ts`
    * as Long nanos (current fixtures are timestamp[us], where the flag
    * is a no-op; `Tables.eventMicros` dispatches on the actual type).
    * Streaming checkpoints go through
    * [[graft.streaming.ForkFreeCheckpointFileManager]].
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(ForkFreeCheckpointFileManager.ConfKey,
        classOf[ForkFreeCheckpointFileManager].getName)
}
