package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Queries exercising the custom `graft-jsonl` DataSource V2 connector
  * ([[graft.sources.JsonLinesSource]]) end-to-end: the documents table is
  * staged once per corpus as JSON-Lines text, read back through the
  * connector with a filter + projection that Catalyst pushes into the
  * scan, and the result is oracle-checked against DuckDB over the
  * original parquet — proving the connector's pruning, pushdown, and
  * split-ownership logic returns exactly the rows the declarative plan
  * promises.
  */
object SourceOps {

  private val stagedJsonlPaths = new ConcurrentHashMap[String, String]()

  /** documents as JSONL text files, staged once per corpus per session
    * (same lifecycle as DedupOps' parquet substrates). Multiple output
    * files so the scan genuinely exercises multi-file planning; a small
    * split.bytes in the query exercises multi-split files too.
    */
  private def stagedJsonl(spark: SparkSession, dir: String): String = {
    val key = DedupOps.stageKey(spark, "jsonl", dir)
    var path = stagedJsonlPaths.get(key)
    if (path == null) {
      stagedJsonlPaths.synchronized {
        path = stagedJsonlPaths.get(key)
        if (path == null) {
          val p = java.nio.file.Files.createTempDirectory("graft-jsonl-").toString
          Tables.documents(spark, dir)
            .select(to_json(struct(
              col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))).as("value"))
            .repartition(4, col("value"))
            .write.mode("overwrite").text(p)
          stagedJsonlPaths.put(key, p)
          path = p
        }
      }
    }
    path
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Filter + project through the DSv2 connector. split.bytes is set far
    * below file size so every file fans out into multiple byte-range
    * splits — the line-ownership rule is on the hot path, not just the
    * happy single-split case. The filter and the 3-column projection are
    * pushed into the scan (PlanSpec asserts both appear in the scan's
    * description).
    */
  def sourceJsonlScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-jsonl")
      .schema(documentsSchema)
      .option("split.bytes", 4096)
      .load(stagedJsonl(spark, dir))
      .filter(col("n_chars") >= 200 && col("lang").isin("en", "de"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val sourceJsonlScanOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE n_chars >= 200 AND lang IN ('en', 'de')
      |ORDER BY doc_id""".stripMargin

  private val writtenPaths = new ConcurrentHashMap[String, String]()

  /** The WRITE path oracle: the documents table is written through the
    * connector's two-phase-commit writer (4 tasks), read back through
    * the connector, and summarized per language. Any dropped partition,
    * unrenamed temp, double-committed attempt, or broken string escape
    * changes a count or checksum and the DuckDB twin (which never saw
    * the JSONL) catches it. The md5-of-text sum is the content check —
    * it covers every byte of every document through the
    * serialize/escape/parse cycle.
    */
  def sourceJsonlWrite(spark: SparkSession, dir: String): DataFrame = {
    val key = DedupOps.stageKey(spark, "jsonl-write", dir)
    var out = writtenPaths.get(key)
    if (out == null) {
      writtenPaths.synchronized {
        out = writtenPaths.get(key)
        if (out == null) {
          val p = java.nio.file.Files.createTempDirectory("graft-jsonl-w-")
            .resolve("docs").toString
          Tables.documents(spark, dir)
            .repartition(4, col("doc_id"))
            .write.format("graft-jsonl").mode("overwrite").save(p)
          writtenPaths.put(key, p)
          out = p
        }
      }
    }
    spark.read.format("graft-jsonl").schema(documentsSchema).load(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        // Order-independent corpus checksum both engines compute
        // exactly IN BIGINT: each text's 48-bit md5 head reduced mod a
        // prime, then summed — never DECIMAL/HUGEINT, which the
        // verification driver hashes differently at equal values. SUM
        // (not XOR) so a double-committed epoch cannot cancel out.
        // Overflow-safe to ~9e9 rows per group.
        sum(pmod(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(1000000007L))).as("text_sum"))
      .orderBy(col("lang"))
  }

  val sourceJsonlWriteOracle: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 1000000007) AS BIGINT) AS text_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val zonedPaths = new ConcurrentHashMap[String, String]()

  /** documents staged once through the connector's OWN writer, RANGE-
    * partitioned on doc_id so each output file's stats-sidecar zone
    * covers a disjoint doc_id interval — the layout zone-map skipping
    * rewards, produced by the engine itself end to end.
    */
  private[graft] def stagedZonedJsonl(spark: SparkSession, dir: String): String = {
    val key = DedupOps.stageKey(spark, "jsonl-zoned", dir)
    var path = zonedPaths.get(key)
    if (path == null) {
      zonedPaths.synchronized {
        path = zonedPaths.get(key)
        if (path == null) {
          val p = java.nio.file.Files.createTempDirectory("graft-jsonl-z-")
            .resolve("docs").toString
          Tables.documents(spark, dir)
            .repartitionByRange(8, col("doc_id"))
            .write.format("graft-jsonl").mode("overwrite").save(p)
          zonedPaths.put(key, p)
          path = p
        }
      }
    }
    path
  }

  /** Zone-map file skipping on the read path, oracle-checked: the
    * selective doc_id filter is pushed into the DSv2 scan, whose
    * planning consults each file's `_stats.jsonl` zone and skips the 7
    * of 8 range-partitioned files whose (min, max) PROVE emptiness —
    * file-listing-level pruning, the whole-file analog of parquet
    * row-group min/max. The oracle computes the same rows from the
    * original parquet without ever seeing the staged files, so a
    * wrongly-skipped file surfaces as missing rows, and PlanSpec
    * asserts skippedFiles > 0 on this exact query shape.
    */
  def sourceJsonlPruned(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-jsonl")
      .schema(documentsSchema)
      .load(stagedZonedJsonl(spark, dir))
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val sourceJsonlPrunedOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id < 40 ORDER BY doc_id""".stripMargin

  private val bloomPaths = new ConcurrentHashMap[String, String]()

  /** Bloom-filter file skipping on a point lookup, oracle-checked: the
    * corpus is staged through the connector's writer HASH-partitioned on
    * doc_id with `bloom.fields=doc_id`, so every file's (min, max)
    * doc_id zone spans nearly the whole domain — zone pruning is
    * structurally blind here — while each file's 1 KiB Bloom sidecar
    * records exactly which keys it holds. The IN-list probe then skips
    * every file whose Bloom proves absence (SourcesSpec asserts
    * skippedFiles > 0 on this exact shape); a wrongly-skipped file
    * surfaces as missing rows against the DuckDB twin, which computes
    * the same rows from the original parquet.
    */
  def sourceJsonlBloom(spark: SparkSession, dir: String): DataFrame = {
    val key = DedupOps.stageKey(spark, "jsonl-bloom", dir)
    var out = bloomPaths.get(key)
    if (out == null) {
      bloomPaths.synchronized {
        out = bloomPaths.get(key)
        if (out == null) {
          val p = java.nio.file.Files.createTempDirectory("graft-jsonl-b-")
            .resolve("docs").toString
          Tables.documents(spark, dir)
            .repartition(8, col("doc_id"))
            .write.format("graft-jsonl")
            .option("bloom.fields", "doc_id")
            .mode("overwrite").save(p)
          bloomPaths.put(key, p)
          out = p
        }
      }
    }
    spark.read.format("graft-jsonl").schema(documentsSchema).load(out)
      .filter(col("doc_id").isin(7L, 123L, 321L))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val sourceJsonlBloomOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (7, 123, 321) ORDER BY doc_id""".stripMargin

  /** Metadata-only aggregation through the connector's COMPLETE
    * aggregate pushdown: COUNT(*)/MIN/MAX over the engine-staged corpus
    * are answered from the `_stats.jsonl` sidecar (per-file row counts +
    * zones) without opening one data file — the lakehouse
    * metadata-query shape, where a 100 TB table's rollup costs one
    * sidecar read. SourcesSpec asserts the plan IS the metadata scan
    * (and that a filtered twin falls back to a real scan); the DuckDB
    * twin recomputes the numbers from the original parquet, so a stale
    * or miscounted sidecar is a visible mismatch, not a silent lie.
    */
  def sourceJsonlAgg(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-jsonl").schema(documentsSchema)
      .load(stagedZonedJsonl(spark, dir))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"))

  val sourceJsonlAggOracle: String =
    """SELECT COUNT(*) AS n_docs,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |       MIN(lang) AS min_lang, MAX(lang) AS max_lang
      |FROM documents""".stripMargin

  private val partitionedPaths = new ConcurrentHashMap[String, String]()

  /** Hive-partitioned layout staged per language (`lang=en/`, …) and
    * read back with `partition.discovery=true`. */
  private[graft] def stagedPartitionedJsonl(spark: SparkSession,
      dir: String): String = {
    val key = DedupOps.stageKey(spark, "jsonl-part", dir)
    var path = partitionedPaths.get(key)
    if (path == null) {
      partitionedPaths.synchronized {
        path = partitionedPaths.get(key)
        if (path == null) {
          val p = java.nio.file.Files.createTempDirectory("graft-jsonl-p-")
            .resolve("docs").toString
          val docs = Tables.documents(spark, dir)
          val langs = docs.select(col("lang")).distinct()
            .collect().map(_.getString(0)).sorted // 5 values, config-sized
          langs.foreach { l =>
            docs.filter(col("lang") === l)
              .repartition(2)
              .write.format("graft-jsonl").mode("overwrite")
              .save(s"$p/lang=$l")
          }
          partitionedPaths.put(key, p)
          path = p
        }
      }
    }
    path
  }

  /** Partition-pruned scan over a Hive-layout corpus, oracle-checked:
    * the engine-staged per-language directories are discovered as
    * partitions, the lang predicate prunes whole DIRECTORIES before a
    * byte is read (SourcesSpec asserts the skip count), the n_chars
    * predicate then applies per row inside the surviving partitions,
    * and the rollup must match DuckDB over the original parquet — the
    * lakehouse layout-pruning shape (date=/lang= partitioned corpora)
    * where a selective partition filter turns a full-corpus scan into
    * a one-directory scan.
    */
  def sourceJsonlPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-jsonl")
      .schema(documentsSchema)
      .option("partition.discovery", "true")
      .load(stagedPartitionedJsonl(spark, dir))
      .filter(col("lang").isin("en", "fr") && col("n_chars") >= 300)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  val sourceJsonlPartitionedOracle: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang IN ('en', 'fr') AND n_chars >= 300
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val streamRtPaths = new ConcurrentHashMap[String, String]()

  /** The connector's STREAMING write path, oracle-checked end to end:
    * the staged JSONL corpus is consumed through the connector's
    * micro-batch read with `maxFilesPerTrigger=1` — forcing one epoch
    * per staged file, so the per-epoch two-phase commit, deterministic
    * naming, and `_epochs.jsonl` ledger all run several times — and
    * written back out through `writeStream.format("graft-jsonl")`
    * (no foreachBatch). The read-back rollup must match DuckDB over the
    * original parquet: a dropped epoch, a double-committed epoch, or any
    * serialize/escape drift in the streaming writer changes a count or
    * the md5-fold checksum. The query is additionally KILLED mid-backlog
    * and restarted from its checkpoint, so epoch resume is on the checked
    * path too. Multi-epoch slicing and restart cannot affect the result
    * — that IS the exactly-once claim, here hash-verified rather than
    * only spec-asserted.
    */
  def sourceJsonlStreamRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val key = DedupOps.stageKey(spark, "jsonl-stream-rt", dir)
    var out = streamRtPaths.get(key)
    if (out == null) {
      streamRtPaths.synchronized {
        out = streamRtPaths.get(key)
        if (out == null) {
          val in = stagedJsonl(spark, dir)
          val base = java.nio.file.Files.createTempDirectory("graft-jsonl-srt-")
          val dest = base.resolve("out").toString
          def startQuery() = spark.readStream.format("graft-jsonl")
            .schema(documentsSchema)
            .option("maxFilesPerTrigger", 1)
            .load(in)
            .writeStream.format("graft-jsonl")
            .option("checkpointLocation", base.resolve("ckpt").toString)
            .start(dest)
          // Mid-backlog kill/restart ON the hash-checked path: the first
          // query is stopped as soon as one epoch has committed (of the 4
          // one-file epochs the backlog holds), then a fresh query resumes
          // from the checkpoint and drains the rest. The oracle hash can
          // only match if resume neither drops nor double-commits an
          // epoch — exactly-once across restart, content-verified. (If the
          // first query races through the whole backlog the restart still
          // exercises checkpoint recovery; the result is identical either
          // way — that IS the claim.)
          val q1 = startQuery()
          try {
            val deadline = System.nanoTime() + 60L * 1000L * 1000000L
            while (!q1.recentProgress.exists(_.numInputRows > 0) &&
                System.nanoTime() < deadline) Thread.sleep(25)
          } finally q1.stop()
          val q2 = startQuery()
          // plan-tripwire coverage (VERDICT r14 #4): record the resumed
          // query's last micro-batch plan like every wave drive does —
          // run-scoped scan paths are scrubbed by the streaming
          // normalizer, so the fingerprint is stable across runs
          try {
            q2.processAllAvailable()
            graft.streaming.WaveHarness.recordLastPlan(q2, "source_jsonl_stream_rt")
          } finally q2.stop()
          streamRtPaths.put(key, dest)
          out = dest
        }
      }
    }
    spark.read.format("graft-jsonl").schema(documentsSchema).load(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(pmod(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(1000000007L))).as("text_sum"))
      .orderBy(col("lang"))
  }

  val sourceJsonlStreamRoundtripOracle: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 1000000007) AS BIGINT) AS text_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val evolvedPaths = new ConcurrentHashMap[String, String]()

  /** Schema-evolution read — the warehouse reality that tables GROW
    * columns: the even-keyed half of events is staged under the v1
    * schema (event_id, event_type), the odd half under v2 (+ value),
    * both into ONE directory; `mergeSchema=true` unifies the footers at
    * planning time and v1 rows surface NULL values. The per-type rollup
    * (count / null-count / value sum) proves the merge assigned every
    * row the right shape — the oracle reconstructs the same union from
    * the parquet fixture without ever seeing the staged files. At scale
    * this is the zero-rewrite column-add path (footer-merge cost only,
    * no data migration).
    */
  def sourceSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val key = DedupOps.stageKey(spark, "schema-evo", dir, "events")
    var p = evolvedPaths.get(key)
    if (p == null) {
      evolvedPaths.synchronized {
        p = evolvedPaths.get(key)
        if (p == null) {
          val out = java.nio.file.Files
            .createTempDirectory("graft-schema-evo-").toString
          val ev = Tables.events(spark, dir)
          ev.filter(col("event_id") % 2 === 0)
            .select(col("event_id"), col("event_type"))
            .repartition(2).write.mode("append").parquet(out)
          ev.filter(col("event_id") % 2 === 1)
            .select(col("event_id"), col("event_type"), col("value"))
            .repartition(2).write.mode("append").parquet(out)
          evolvedPaths.put(key, out)
          p = out
        }
      }
    }
    spark.read.option("mergeSchema", "true").parquet(p)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
        round(sum(coalesce(col("value"), lit(0.0))) + lit(1e-9), 2)
          .as("sum_value"))
      .orderBy(col("event_type"))
  }

  val sourceSchemaEvolutionOracle: String =
    """WITH u AS (
      |  SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, event_type, value
      |  FROM events WHERE event_id % 2 = 1)
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null,
      |       round(SUM(coalesce(value, 0)) + 1e-9, 2) AS sum_value
      |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_jsonl_scan" -> (sourceJsonlScan _),
    "source_jsonl_write" -> (sourceJsonlWrite _),
    "source_jsonl_pruned" -> (sourceJsonlPruned _),
    "source_jsonl_bloom" -> (sourceJsonlBloom _),
    "source_jsonl_agg" -> (sourceJsonlAgg _),
    "source_jsonl_partitioned" -> (sourceJsonlPartitioned _),
    "source_jsonl_stream_rt" -> (sourceJsonlStreamRoundtrip _),
    "source_schema_evolution" -> (sourceSchemaEvolution _))

  def oracles: Map[String, String] = Map(
    "source_jsonl_scan" -> sourceJsonlScanOracle,
    "source_jsonl_write" -> sourceJsonlWriteOracle,
    "source_jsonl_pruned" -> sourceJsonlPrunedOracle,
    "source_jsonl_bloom" -> sourceJsonlBloomOracle,
    "source_jsonl_agg" -> sourceJsonlAggOracle,
    "source_jsonl_partitioned" -> sourceJsonlPartitionedOracle,
    "source_jsonl_stream_rt" -> sourceJsonlStreamRoundtripOracle,
    "source_schema_evolution" -> sourceSchemaEvolutionOracle)
}
