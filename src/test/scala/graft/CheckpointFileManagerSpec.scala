package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.time.Instant
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WeatherOps
import graft.streaming.{ForkFreeCheckpointFileManager, WaveHarness, WeatherStreamJob}

/** The engine's checkpoint file manager: the reference pipeline forks no
  * child process per micro-batch, writes the checkpoint tree Spark's
  * default manager writes, and keeps the `CheckpointFileManager`
  * contract that the metadata logs and both state stores rely on.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def msg(ts: Long, precip: Double, lat: Double, lon: Double): String =
    s"""{"timestamp": $ts, "total_precipitation": $precip, "location": {"lat": $lat, "lon": $lon}}"""

  /** Three keys per wave, re-observed across waves (update-mode state). */
  private def wave(i: Int): Seq[String] = Seq(
    msg(1736532000L, 0.5 + i, 52.0, 5.1),
    msg(1736532000L, 0.25, 41.1, -8.6),
    msg(1736535600L + i, 1.0, 52.0, 5.1))

  /** A Derby database with the exactly-once sink's tables. */
  private def derby(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE weather_data ("timestamp" TIMESTAMP NOT NULL,
          |"lat" DOUBLE NOT NULL, "lon" DOUBLE NOT NULL,
          |"hourly_precipitation" DOUBLE NOT NULL)""".stripMargin)
      st.execute(
        """CREATE UNIQUE INDEX weather_data_key ON weather_data
          |("timestamp", "lat", "lon")""".stripMargin)
      st.execute(
        """CREATE TABLE batch_commits ("sink" VARCHAR(128) NOT NULL,
          |"batch_id" BIGINT NOT NULL, "partition_id" INT NOT NULL,
          |PRIMARY KEY ("sink", "batch_id", "partition_id"))""".stripMargin)
    } finally conn.close()
    url
  }

  private def sinkRows(s: SparkSession, url: String): Map[(String, Double, Double), Double] =
    s.read.format("jdbc").option("url", url).option("dbtable", "weather_data")
      .load().collect().map { r =>
        (r.getTimestamp(0).toString, r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)
      }.toMap

  /** The batch twin of the streamed waves: one sum per sink key. */
  private def expected(s: SparkSession, waves: Seq[Int]): Map[(String, Double, Double), Double] = {
    import s.implicits._
    WeatherOps.withEventTime(WeatherOps.rejectNulls(
        WeatherStreamJob.aggregate(waves.flatMap(wave).toDF("value"))))
      .selectExpr("CAST(event_time AS TIMESTAMP)", "lat", "lon", "hourly_precipitation")
      .collect().map { r =>
        (r.getTimestamp(0).toString, r.getDouble(1), r.getDouble(2)) -> r.getDouble(3)
      }.toMap
  }

  /** (relative path, mode) of every entry under `root`'s offsets, commits
    * and state directories.
    */
  private def tree(root: JPath): Map[String, String] =
    Seq("offsets", "commits", "state").map(root.resolve).filter(Files.exists(_))
      .flatMap(d => Files.walk(d).iterator().asScala.toSeq)
      .map { p =>
        root.relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap

  /** Process starts JFR saw while `body` ran, with their start times. */
  private def processStarts[A](body: => A): (A, Seq[(Instant, String)]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("ckpt_forks", ".jfr")
    try {
      rec.dump(file)
      val events = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getStartTime -> String.valueOf(e.getValue[String]("command")))
      (out, events)
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Collects the sessions earlier suites dropped and waits until their
    * cleanups stop. Spark's `ArtifactManager` cleaner forks an `rm -rf` of
    * a session's artifact directory when a GC finds the session
    * unreachable, so a GC landing in a measured window would count
    * another suite's garbage as this pipeline's fork.
    */
  private def settleSessionCleanups(): Unit = {
    System.gc()
    var quiet = false
    var tries = 0
    while (!quiet && tries < 20) {
      quiet = processStarts(Thread.sleep(300))._2.isEmpty
      tries += 1
    }
  }

  test("the reference pipeline forks no child process after its first batch " +
      "commits, and start() installs the manager on a bare session") {
    val s = spark.newSession()
    s.conf.unset(ForkFreeCheckpointFileManager.ConfKey)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val url = derby("ckpt_forks")
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt_forks")
    settleSessionCleanups()
    val ((firstCommit, lastCommit), starts) = processStarts {
      val q = WeatherStreamJob.start(WeatherStreamJob.aggregate(stream.toDF()),
        ckpt.toString, Trigger.ProcessingTime(0))(
        WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data"))
      try {
        stream.addData(wave(0)); q.processAllAvailable()
        val first = Instant.now()
        (1 to 3).foreach { i => stream.addData(wave(i)); q.processAllAvailable() }
        assert(q.recentProgress.count(_.numInputRows > 0) == 4)
        (first, Instant.now())
      } finally q.stop()
    }
    assert(s.conf.get(ForkFreeCheckpointFileManager.ConfKey) ==
      classOf[ForkFreeCheckpointFileManager].getName)
    val perBatch = starts.filter { case (t, _) => t.isAfter(firstCommit) && t.isBefore(lastCommit) }
    assert(perBatch.isEmpty,
      s"${perBatch.size} processes forked over 3 micro-batches: " +
        perBatch.map(_._2).distinct.take(5).mkString("; "))
    assert(sinkRows(s, url) == expected(s, 0 to 3))

    // every checkpoint file has its Hadoop `.<name>.crc` sibling; Spark's
    // state checksum files (`<name>.crc`) are there; files 0644,
    // directories 0755
    val entries = tree(ckpt)
    val files = entries.keys.filter(p => Files.isRegularFile(ckpt.resolve(p))).toSet
    def hadoopCrc(p: String) = {
      val name = ckpt.resolve(p).getFileName.toString
      name.startsWith(".") && name.endsWith(".crc")
    }
    val data = files.filterNot(hadoopCrc)
    assert(data.exists(_.startsWith("offsets")) && data.exists(_.startsWith("commits")) &&
      data.exists(_.startsWith("state")), entries.keys.toSeq.sorted)
    val noCrc = data.filterNot { p =>
      val f = ckpt.resolve(p)
      files.contains(ckpt.relativize(f.resolveSibling(s".${f.getFileName}.crc")).toString)
    }
    assert(noCrc.isEmpty, s"no .crc sibling: ${noCrc.toSeq.sorted}")
    assert(data.exists(p => p.startsWith("state") && p.endsWith(".delta.crc")),
      s"no state checksum file: ${data.toSeq.sorted}")
    val badModes = entries.filter { case (p, mode) =>
      mode != (if (files.contains(p)) "rw-r--r--" else "rwxr-xr-x")
    }
    assert(badModes.isEmpty, s"unexpected modes: $badModes")
  }

  test("the checkpoint tree matches Spark's default manager's, and a " +
      "checkpoint it wrote resumes exactly-once under the engine's") {
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val key = ForkFreeCheckpointFileManager.ConfKey
    def drive(manager: String, ckpt: JPath, url: String, stream: MemoryStream[String],
        waves: Seq[Int]): Unit = {
      s.conf.set(key, manager)
      val q = WeatherStreamJob.start(WeatherStreamJob.aggregate(stream.toDF()),
        ckpt.toString, Trigger.ProcessingTime(0))(
        WeatherStreamJob.jdbcExactlyOnceSink(url, "weather_data"))
      try waves.foreach { i => stream.addData(wave(i)); q.processAllAvailable() }
      finally q.stop()
    }
    val ours = classOf[ForkFreeCheckpointFileManager].getName

    // same waves under each manager: same names, .crc siblings and modes
    val trees = Seq(SparkDefault, ours).zipWithIndex.map { case (m, i) =>
      val ckpt = Files.createTempDirectory("ckpt_tree")
      drive(m, ckpt, derby(s"ckpt_tree_$i"), MemoryStream[String], 0 to 2)
      tree(ckpt)
    }
    assert(trees(0) == trees(1),
      s"default only: ${(trees(0).toSet -- trees(1).toSet).toSeq.sorted}; " +
        s"engine only: ${(trees(1).toSet -- trees(0).toSet).toSeq.sorted}")

    // written under the default manager, its last commit dropped so the
    // restart replays that batch, then resumed under the engine's
    val ckpt = Files.createTempDirectory("ckpt_resume")
    val url = derby("ckpt_resume")
    val stream = MemoryStream[String]
    drive(SparkDefault, ckpt, url, stream, 0 to 1)
    Files.delete(ckpt.resolve("commits/1"))
    Files.delete(ckpt.resolve("commits/.1.crc"))
    drive(ours, ckpt, url, stream, 2 to 3)
    assert(sinkRows(s, url) == expected(s, 0 to 3))
    val marks = s.read.format("jdbc").option("url", url)
      .option("dbtable", "batch_commits").load()
      .groupBy("batch_id").count().collect().map(r => r.getLong(0)).sorted
    assert(marks.toSeq == Seq(0L, 1L, 2L, 3L), s"ledger batches: ${marks.toSeq}")
  }

  private def manager(dir: JPath) =
    new ForkFreeCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: ForkFreeCheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def bytes(p: JPath): Seq[Byte] = Files.readAllBytes(p).toSeq

  test("createAtomic without overwrite refuses an existing file and leaves " +
      "it and its .crc intact") {
    val dir = Files.createTempDirectory("ckpt_contract")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first", overwrite = false)
    val (data, crc) = (bytes(dir.resolve("0")), bytes(dir.resolve(".0.crc")))
    intercept[FileAlreadyExistsException] { write(fm, p, "second", overwrite = false) }
    assert(bytes(dir.resolve("0")) == data && bytes(dir.resolve(".0.crc")) == crc)
    assert(fm.isLocal)
  }

  test("cancel() leaves neither the temp file nor a .crc") {
    val dir = Files.createTempDirectory("ckpt_contract")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri),
      overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(Files.list(dir).iterator().asScala.isEmpty,
      Files.list(dir).iterator().asScala.toSeq)
  }

  test("an overwrite replaces the data and its .crc, and reads back verified") {
    val dir = Files.createTempDirectory("ckpt_contract")
    val fm = manager(dir)
    val p = new Path(dir.resolve("2").toUri)
    write(fm, p, "a short first version", overwrite = true)
    val crc = bytes(dir.resolve(".2.crc"))
    write(fm, p, "the second version, longer than the first", overwrite = true)
    assert(bytes(dir.resolve(".2.crc")) != crc)
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("2", ".2.crc"))
    // Hadoop's checksummed local file system verifies against the .crc
    val in = FileSystem.getLocal(new Configuration()).open(p)
    val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(back == "the second version, longer than the first")
    val viaManager = fm.open(p)
    try assert(new String(viaManager.readAllBytes(), "UTF-8") == back)
    finally viaManager.close()
  }

  test("a RocksDB-provider query with changelog checkpointing restarts " +
      "from its checkpoint") {
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = Files.createTempDirectory("ckpt_rocksdb").toString
    val stream = MemoryStream[String]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    def run(waves: Seq[Int]): Unit = WaveHarness.withRocksDb(s) {
      val q = WeatherStreamJob.start(WeatherStreamJob.aggregate(stream.toDF()),
        ckpt, Trigger.ProcessingTime(0)) { (batch, id) =>
        batch.filter("lat = 41.1").collect().foreach(r =>
          emitted.add(id -> r.getAs[Double]("hourly_precipitation")))
      }
      try waves.foreach { i => stream.addData(wave(i)); q.processAllAvailable() }
      finally q.stop()
    }
    run(0 to 1)
    run(2 to 2)
    // key (1736532000, 41.1, -8.6) gains 0.25 per wave: the third wave's
    // emission carries the first two from the restored state
    assert(emitted.asScala.toSeq == Seq(0L -> 0.25, 1L -> 0.5, 2L -> 0.75))
    assert(Files.walk(java.nio.file.Paths.get(ckpt, "state")).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".changelog")))
  }
}
