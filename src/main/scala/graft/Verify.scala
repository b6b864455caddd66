package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathologically hung query (a stuck
    // streaming drive, a livelocked poll) must cost ITSELF, never the
    // whole gate. Each query runs on a disposable worker thread under a
    // generous deadline (every query finishes in seconds at sf0.01); on
    // timeout its Spark job group is cancelled and the worker abandoned
    // — a fresh thread serves the next query, so one zombie cannot
    // serialize the rest of the run into the driver's own timeout.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_MS",
      "600000").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val done = new java.util.concurrent.CountDownLatch(1)
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally done.countDown()
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      if (!done.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        System.err.println(s"[verify] $name TIMED OUT after ${timeoutMs}ms")
        spark.sparkContext.cancelJobGroup(name)
        worker.interrupt()
      }
      // queries that cache() intermediates (dedup family) must not
      // accumulate cached partitions across the ~50-query session
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
