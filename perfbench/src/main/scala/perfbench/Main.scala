package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up, run one workload, check its
  * outputs, and write the result file that run.py turns into the report.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * cpus, work (scratch dir), out (result file), spawn-ms (epoch ms at
  * which the JVM was launched), data (batch_operators tables), check (0|1),
  * setup-reps (set-up repetitions whose median is setup_s), partitions
  * (shuffle partitions, default cpus; run.py passes the host's core count
  * so that the single-threaded baseline runs the same plan).
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cpus: Int, work: Path, out: Path, spawnMs: Long,
      data: String, check: Boolean, setupReps: Int, partitions: Int) {
    def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  }

  /** What a workload hands back for the report. */
  final case class Outcome(attempted: Long, failed: Long,
      checks: Map[String, Long], e2e: Map[String, (Double, String, Long)],
      layers: Map[String, (Double, String)], info: Map[String, Any] = Map.empty)

  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  private def runWorkload(c: Conf, s: Session, t: Tracer): Outcome = c.workload match {
    case "live_hot_keys" => LiveHotKeys.run(c, s, t)
    case "catchup_replay" => CatchupReplay.run(c, s, t)
    case "batch_operators" => BatchOperators.run(c, s, t)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** A short pass over every workload, run once at build time so that the
    * JVM can record the classes they load in a class-data-sharing archive.
    */
  private def train(c: Conf, s: Session): Unit = {
    val t = new Tracer(true)
    for (w <- Seq("live_hot_keys", "catchup_replay", "batch_operators"))
      runWorkload(c.copy(workload = w, seconds = 1, setupReps = 1, trace = true,
        work = Files.createDirectories(c.work.resolve(w))), s, t)
    s.calibrate()
    s.close()
    sys.exit(0)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("cpus").toInt,
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath,
      kv.get("spawn-ms").map(_.toLong).getOrElse(mainMs),
      kv.getOrElse("data", ""), kv.getOrElse("check", "1") == "1",
      kv.getOrElse("setup-reps", "3").toInt,
      kv.getOrElse("partitions", kv("cpus")).toInt)
    val jvmStartS = (mainMs - c.spawnMs) / 1000.0
    val tracer = new Tracer(c.trace)
    val run = new Session(c)
    if (c.workload == "train") train(c, run)
    val o = runWorkload(c, run, tracer)
    log("workload done")
    val calib = run.calibrate()
    val spans = tracer.all
    if (c.trace) {
      val w = Files.newBufferedWriter(c.dir("trace").resolve(s"${c.workload}-spans.jsonl"))
      try spans.foreach { s =>
        w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)))
        w.newLine()
      } finally w.close()
    }
    val setup = o.e2e("setup_s")
    val e2e = o.e2e.updated("setup_s", (setup._1 + jvmStartS, "s", setup._3))
    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds,
      "trace" -> c.trace, "attempted" -> o.attempted, "failed" -> o.failed,
      "checks" -> o.checks,
      "end_to_end" -> e2e.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "samples" -> n) },
      "per_layer" -> o.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> (o.info ++ Map("jvm_start_s" -> jvmStartS, "spans" -> spans.size)),
      "provenance" -> Map("java_version" -> System.getProperty("java.version"),
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cpus" -> c.cpus,
        "calib_s" -> calib))
    Files.writeString(c.out, Json.render(result))
    run.close()
    log("exit")
    sys.exit(0)
  }
}

/** The Spark session of a run. `restart` stops the current one and builds
  * a fresh one, so that every set-up repetition pays for a new context.
  */
final class Session(c: Main.Conf) {
  var spark: SparkSession = _
  var exec: ExecListener = _
  var progress: Streams.ProgressLog = _

  def restart(): Unit = {
    close()
    spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", c.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    progress = new Streams.ProgressLog
    spark.streams.addListener(progress)
  }

  /** Bench's fixed calibration probe: a CPU-bound codegen aggregate. A
    * diagnostic of host speed only; no metric is rescaled by it.
    */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 60000000L, 1L, 8).selectExpr("sum(id * 3 + (id % 7)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    try { once(); once() } catch { case _: Throwable => -1.0 }
  }

  /** Used heap after full collections. The pauses between them let Spark's
    * ContextCleaner drop the broadcast and shuffle blocks the first
    * collection found unreachable, so that the next one can free them.
    */
  def heapMb(): Double = {
    System.gc()
    for (_ <- 0 until 2) { Thread.sleep(300); System.gc() }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def close(): Unit = if (spark != null) {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    spark = null
  }
}

object Stats {
  /** Percentile (q in 0..100), interpolated between the two nearest ranks. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val h = (s.size - 1) * q / 100
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile, at most 90, that leaves at least ten
    * samples above it (p90 from 100 samples, p89 from 98).
    */
  def tailPct(n: Int): Double =
    math.max(50.0, math.min(90.0, math.floor(100.0 * (1 - 10.0 / math.max(n, 1)))))

  /** Run `reps` set-ups; the median time, each time, and the last result. */
  def timeSetups[T](reps: Int)(one: Int => T): (Double, Seq[Double], T) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: T = null.asInstanceOf[T]
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      last = one(r)
      times += (System.nanoTime() - t0) / 1e9
    }
    (median(times.toSeq), times.toSeq, last)
  }
}
