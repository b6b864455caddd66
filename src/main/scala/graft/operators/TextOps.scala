package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TokenWindows

/** Text-analysis operators over the `documents` table (builder mandate:
  * large-scale training-data pipeline surface — language ID, quality
  * scoring, token counting, fingerprinting).
  *
  * All operators are narrow per-row projections (codegen'd array/string
  * built-ins — no UDFs) followed by at most one aggregation, so at 100 TB
  * they scan-and-project with column pruning and only shuffle grouped
  * key-space-sized data. Token/shingle helpers here are shared with
  * DedupOps.
  */
object TextOps {

  /** Whitespace tokens (documents.text is space-separated, FIXTURES.md §2). */
  def tokens(text: Column): Column = split(text, " ")

  /** Every `width`-token window of `toks`, space-joined, in one pass over
    * the array ([[graft.functions.TokenWindows]]). Arrays shorter than
    * `width` and a null array yield an empty array (mirrors DuckDB's
    * graceful empty `range`).
    */
  def tokenWindows(toks: Column, width: Int): Column =
    coalesce(TokenWindows(toks, width, hashed = false), array().cast("array<string>"))

  /** Word 3-gram shingles. */
  def shingles3(toks: Column): Column = tokenWindows(toks, 3)

  /** Spread rows across all cores before compute-heavy per-row work —
    * but ONLY when the input arrives with fewer splits than cores
    * (single-file small parquet would otherwise serialize the
    * tokenize/shingle/hash pipeline on one thread). On a real multi-file
    * warehouse the scan already has >= parallelism splits and this is the
    * identity — no corpus-wide shuffle hides in the dedup/text plans at
    * scale.
    */
  def spread(df: DataFrame): DataFrame = {
    // streaming frames pass through: micro-batch parallelism is the
    // source/trigger's job — an unconditional per-batch shuffle is
    // exactly what this gate exists to avoid
    if (df.isStreaming) return df
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    // an input with an EXPLICIT wide repartition passes through — read
    // it off the analyzed logical tree (walking partition-preserving
    // projections/filters), no RDD instantiation and no physical
    // planning needed (AQE wraps the physical tree, hiding
    // outputPartitioning until execution)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      LogicalPlan, Project, Repartition, RepartitionByExpression}
    @scala.annotation.tailrec
    def plannedParts(p: LogicalPlan): Option[Int] = p match {
      case r: Repartition if r.shuffle => Some(r.numPartitions)
      // ANY by-expression repartition passes through regardless of its
      // declared count: the caller's co-partitioning outweighs the
      // parallelism floor, and under AQE the executed count may be
      // coalesced far below the declared one anyway — stacking a
      // round-robin shuffle would destroy exactly the layout the caller
      // asked for
      case _: RepartitionByExpression => Some(Int.MaxValue)
      case pr: Project => plannedParts(pr.child)
      case f: LFilter => plannedParts(f.child)
      case _ => None
    }
    if (plannedParts(df.queryExecution.analyzed).exists(_ >= target))
      return df
    // scans report UnknownPartitioning(0); estimate their split count
    // from the optimizer's size statistics (total relation bytes /
    // files.maxPartitionBytes) — reading a number the planner computes
    // anyway, instead of instantiating the physical RDD lineage
    // (`df.rdd`) for a query that never runs as an RDD. Over-estimating
    // merely skips a repartition a big scan doesn't need; the
    // small-input case (bytes << one split) is the one that must
    // trigger, and does.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxSplit = BigInt(sess.sessionState.conf.filesMaxPartitionBytes)
    val estSplits = (bytes / maxSplit) + 1
    if (estSplits < target) df.repartition(target) else df
  }

  /** Distinct shingles per doc as (doc_id, shingle) pairs. */
  def docShingles(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      explode(array_distinct(shingles3(tokens(col("text"))))).as("s"))

  /** Per-language token statistics: counting + type/token ratio. */
  def textTokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), tokens(col("text")).as("t"), col("text"))
      .select(col("lang"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        length(regexp_replace(col("text"), " ", "")).cast("double").as("n_letters"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_distinct") / col("n_tokens")), 4).as("avg_ttr"),
        round(avg(col("n_letters") / col("n_tokens")), 4).as("avg_token_len"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"))

  val textTokenStatsOracle: String =
    """WITH d AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      |         CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_letters
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       round(AVG(n_tokens), 4) AS avg_tokens,
      |       round(AVG(n_distinct * 1.0 / n_tokens), 4) AS avg_ttr,
      |       round(AVG(n_letters / n_tokens), 4) AS avg_token_len,
      |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Sequence-length distribution — the report every pretraining run
    * reads before fixing a context length: documents bucketed into
    * 100-char bins (capped at bin 20), with per-bin counts, char mass,
    * and the cumulative document fraction. Scale: one partial-agg
    * shuffle collapsing the corpus to ≤21 bins; the cumulative window
    * then runs over those 21 rows, never the corpus.
    */
  def textLengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .groupBy(expr("least(n_chars div 100, 20)").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("cum_frac",
        round(sum(col("n_docs")).over(cum).cast("double") /
          sum(col("n_docs")).over(all).cast("double") + lit(1e-9), 4))
      .orderBy(col("bin"))
  }

  val textLengthHistogramOracle: String =
    """WITH b AS (
      |  SELECT least(n_chars // 100, 20) AS bin, COUNT(*) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY 1)
      |SELECT bin, n_docs, sum_chars,
      |       round(CAST(SUM(n_docs) OVER (ORDER BY bin) AS DOUBLE)
      |             / CAST(SUM(n_docs) OVER () AS DOUBLE) + 1e-9, 4)
      |         AS cum_frac
      |FROM b ORDER BY bin""".stripMargin

  /** Vocabulary coverage curve — the tokenizer-design report: rank the
    * corpus vocabulary by frequency (ties broken by token text) and
    * report, at standard vocab-size cutoffs, how many types the top-k
    * holds and what fraction of the running token mass they cover.
    * Scale: the vocab aggregate is a partial-agg shuffle bounded by
    * TYPE count, not corpus size (the same class as the TF-IDF df
    * table); the global rank is one sort over that bounded vocab; the
    * cutoffs are a 4-row broadcast, so the coverage fold is map-side.
    */
  def textVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cuts = Seq(100L, 1000L, 5000L, 20000L)
    val vocab = spread(Tables.documents(spark, dir))
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val ranked = vocab.withColumn("rn",
      row_number().over(Window.orderBy(col("c").desc, col("t"))))
    val cutsDf = spark.createDataset(cuts)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("k")
    ranked.crossJoin(broadcast(cutsDf))
      .groupBy(col("k"))
      .agg(
        sum(when(col("rn") <= col("k"), lit(1L)).otherwise(lit(0L)))
          .as("n_types"),
        sum(when(col("rn") <= col("k"), col("c")).otherwise(lit(0L)))
          .as("covered"),
        sum(col("c")).as("total"))
      .select(col("k"), col("n_types"),
        round(col("covered").cast("double") / col("total").cast("double")
          + lit(1e-9), 4).as("coverage"))
      .orderBy(col("k"))
  }

  val textVocabCoverageOracle: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
      |             FROM documents),
      |v AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
      |r AS (SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rn
      |      FROM v),
      |ks AS (SELECT unnest([100, 1000, 5000, 20000]) AS k)
      |SELECT CAST(ks.k AS BIGINT) AS k,
      |       CAST(SUM(CASE WHEN r.rn <= ks.k THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_types,
      |       round(CAST(SUM(CASE WHEN r.rn <= ks.k THEN r.c ELSE 0 END)
      |                  AS DOUBLE)
      |             / CAST(SUM(r.c) AS DOUBLE) + 1e-9, 4) AS coverage
      |FROM r CROSS JOIN ks GROUP BY ks.k ORDER BY k""".stripMargin

  /** The weighted quality formula over its raw components — shared by the
    * batch query and the streaming document pipeline
    * (graft.streaming.DocStreamJob). +1e-9 nudges exact .00005 boundaries
    * off the half so Spark's decimal-string HALF_UP and DuckDB's
    * binary-value round agree (README "Rounding tie-break policy").
    */
  def qualityScore(nTokens: Column, stopRatio: Column, avgLen: Column): Column =
    round(least(nTokens / lit(100.0), lit(1.0)) * 0.4
      + (lit(1.0) - stopRatio) * 0.3
      + least(avgLen / lit(6.0), lit(1.0)) * 0.3 + lit(1e-9), 4)

  /** Add the raw quality components + score to any frame with a `text`
    * column: n_tokens, stop_ratio, avg_len (unrounded), quality. Shared
    * by the batch query, the curation manifest, and the streaming
    * cleanse stage (graft.streaming.DocStreamJob).
    */
  def withQuality(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("stop_ratio",
        size(filter(t, x => x === lit("a") || x === lit("the")))
          / col("n_tokens").cast("double"))
      .withColumn("avg_len",
        length(regexp_replace(col("text"), " ", "")) / col("n_tokens").cast("double"))
      .withColumn("quality",
        qualityScore(col("n_tokens"), col("stop_ratio"), col("avg_len")))
  }

  /** Per-document quality score: length, stopword ratio, mean token
    * length — a deterministic analog of the heuristics used to filter web
    * corpora before LLM training.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_ratio"), 4).as("stop_ratio"),
        round(col("avg_len"), 4).as("avg_len"),
        col("quality"))
      .withColumn("tier",
        when(col("quality") >= 0.8, lit("high"))
          .when(col("quality") >= 0.6, lit("mid"))
          .otherwise(lit("low")))
      .orderBy(col("doc_id"))

  val textQualityOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the'))
      |           * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
      |         length(replace(text, ' ', '')) * 1.0
      |           / len(string_split(text, ' ')) AS avg_len
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, n_tokens,
      |         round(stop_ratio, 4) AS stop_ratio,
      |         round(avg_len, 4) AS avg_len,
      |         round(least(n_tokens / 100.0, 1.0) * 0.4
      |               + (1.0 - stop_ratio) * 0.3
      |               + least(avg_len / 6.0, 1.0) * 0.3 + 1e-9, 4) AS quality
      |  FROM d)
      |SELECT doc_id, n_tokens, stop_ratio, avg_len, quality,
      |       CASE WHEN quality >= 0.8 THEN 'high'
      |            WHEN quality >= 0.6 THEN 'mid'
      |            ELSE 'low' END AS tier
      |FROM q ORDER BY doc_id""".stripMargin

  /** Vocabulary size for [[textOov]] (top-K corpus tokens). */
  val OovVocabSize = 200

  /** Tokenizer-coverage / OOV-rate — the pretraining metric that decides
    * whether a vocabulary fits a corpus: the vocabulary is the corpus's
    * own top-[[OovVocabSize]] tokens (count desc, token asc — fully
    * deterministic, no external asset), and each document reports its
    * out-of-vocabulary token count and rate. One vocab-bounded token
    * shuffle builds the table; it broadcasts back over a map-side
    * anti-membership pass (tokens explode once, shared by both stages).
    */
  def textOov(spark: SparkSession, dir: String): DataFrame = {
    val toks = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(OovVocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens").cast("double") + lit(1e-9), 4))
      .orderBy(col("doc_id"))
  }

  val textOovOracle: String =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      |    ORDER BY n DESC, tok LIMIT $OovVocabSize)),
      |flagged AS (
      |  SELECT t.doc_id,
      |         CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       CAST(SUM(oov) AS BIGINT) AS n_oov,
      |       round(SUM(oov) * 1.0 / COUNT(*) + 1e-9, 4) AS oov_rate
      |FROM flagged
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Canonical text normalization — the pass every pipeline runs before
    * tokenizing/deduping: lowercase, strip non-alphanumeric to spaces,
    * collapse whitespace runs, trim. ONE map-only scan projection; the
    * per-doc outputs (normalized length, token count, changed bit, and
    * an md5-head checksum of the normalized text) make every byte of
    * the transform oracle-visible. Regex classes are shared-semantics
    * subsets of both engines' dialects ([^a-z0-9 ] and space runs).
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    spread(Tables.documents(spark, dir))
      .withColumn("norm", trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        size(split(col("norm"), " ")).cast("long").as("n_tokens_norm"),
        (col("norm") =!= col("text")).as("changed"),
        conv(substring(md5(col("norm").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("checksum"))
      .orderBy(col("doc_id"))

  val textNormalizeOracle: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |         trim(regexp_replace(regexp_replace(
      |           lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(length(norm) AS BIGINT) AS n_chars_norm,
      |       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens_norm,
      |       norm <> text AS changed,
      |       CAST('0x' || substr(md5(norm), 1, 12) AS BIGINT) AS checksum
      |FROM n ORDER BY doc_id""".stripMargin

  /** Buckets in the hashed-classifier feature space (the model size —
    * fixed regardless of vocabulary).
    */
  val ClassifierBuckets = 4096L

  /** Keep threshold for [[textClassifierScore]]'s gate, applied to the
    * rounded score so both engines compare the same double.
    */
  val ClassifierKeepAt = 0.0

  /** Weight of one token under the hashed linear classifier: the token's
    * 60-bit md5 hash picks a bucket (hashing trick — the model is a
    * fixed-size weight vector, never a vocabulary), and the bucket id
    * maps to an integer weight in [-100, 100]. A trained model would
    * broadcast a literal weight array here; the closed-form weight keeps
    * the oracle engine-independent while exercising the same scoring
    * machinery (hash -> bucket -> weight -> mean). Integer weights make
    * the per-doc sum exact in any fold order.
    */
  private def tokenWeight(tok: Column): Column = {
    val bucket =
      conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long") %
        lit(ClassifierBuckets)
    (bucket * lit(37L) + lit(11L)) % lit(201L) - lit(100L)
  }

  /** Adds `n_tokens`, `w_sum`, and the rounded mean-weight `cls_score`
    * in [-1, 1]. Map-only: the fold runs inside `aggregate` per row —
    * no shuffle, no vocabulary state, whole-stage codegen. Shared by the
    * oracle query and CurationSpec's law tests.
    */
  def withClassifierScore(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    df.withColumn("w_sum",
        aggregate(toks, lit(0L), (acc, t) => acc + tokenWeight(t)))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("cls_score",
        round(col("w_sum") / (lit(100.0) * col("n_tokens")) + lit(1e-9), 4))
  }

  /** Model-based quality gate — the fastText-shape linear classifier
    * used to screen pretraining corpora (wiki-ref style), as distinct
    * from the heuristic battery ([[withGopherRules]]) and the bigram LM
    * ([[textPerplexity]]): score = mean hashed-bucket weight of the
    * doc's tokens, gate = threshold on the score. At 100 TB this is the
    * cheapest possible shape — one map-only scan, the model broadcast is
    * the entire distribution cost, and the gate composes with the
    * curation manifest exactly like the heuristic quality floor.
    */
  def textClassifierScore(spark: SparkSession, dir: String): DataFrame =
    withClassifierScore(spread(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("n_tokens"), col("cls_score"),
        (col("cls_score") >= ClassifierKeepAt).as("keep"))
      .orderBy(col("doc_id"))

  val textClassifierScoreOracle: String =
    s"""WITH s AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(list_sum(list_transform(string_split(text, ' '),
      |           x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
      |                    % $ClassifierBuckets) * 37 + 11) % 201 - 100))
      |           AS BIGINT) AS w_sum
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |         round(w_sum / (100.0 * n_tokens) + 1e-9, 4) AS cls_score
      |  FROM s)
      |SELECT doc_id, n_tokens, cls_score,
      |       cls_score >= $ClassifierKeepAt AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Classifier calibration curve — the curation-QA report that decides
    * whether a model-based quality gate can be trusted: documents
    * bucketed by classifier score into 10 fixed-width bins over the
    * score's [-1, 1] range, each bin reporting its document count, mean
    * classifier score, mean INDEPENDENT heuristic quality, and
    * high-tier rate. A trustworthy gate shows both quality columns
    * rising monotonically with the bin. Fixed-width bins (not ntile)
    * on purpose: the report stays map-only + one 10-row partial-agg
    * shuffle at any corpus size, where a decile ntile would need a
    * global single-task sort.
    */
  def textClassifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = withClassifierScore(withQuality(
      spread(Tables.documents(spark, dir))))
    scored
      .withColumn("bin",
        least(floor((col("cls_score") + lit(1.0)) * 5), lit(9L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("cls_score")) + lit(1e-9), 4).as("avg_cls"),
        round(avg(col("quality")) + lit(1e-9), 4).as("avg_quality"),
        round(avg(when(col("quality") >= 0.8, lit(1.0)).otherwise(lit(0.0)))
          + lit(1e-9), 4).as("high_rate"))
      .orderBy(col("bin"))
  }

  val textClassifierCalibrationOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(list_sum(list_transform(string_split(text, ' '),
       |           x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
       |                    % $ClassifierBuckets) * 37 + 11) % 201 - 100))
       |           AS BIGINT) AS w_sum
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         round(w_sum / (100.0 * n_tokens) + 1e-9, 4) AS cls_score
       |  FROM s),
       |d AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the'))
       |           * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
       |         length(replace(text, ' ', '')) * 1.0
       |           / len(string_split(text, ' ')) AS avg_len
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |         round(least(n_tokens / 100.0, 1.0) * 0.4
       |               + (1.0 - stop_ratio) * 0.3
       |               + least(avg_len / 6.0, 1.0) * 0.3 + 1e-9, 4) AS quality
       |  FROM d),
       |j AS (
       |  SELECT CAST(least(floor((c.cls_score + 1.0) * 5), 9) AS BIGINT)
       |           AS bin,
       |         c.cls_score, q.quality
       |  FROM c JOIN q ON c.doc_id = q.doc_id)
       |SELECT bin, COUNT(*) AS n_docs,
       |       round(AVG(cls_score) + 1e-9, 4) AS avg_cls,
       |       round(AVG(quality) + 1e-9, 4) AS avg_quality,
       |       round(AVG(CASE WHEN quality >= 0.8 THEN 1.0 ELSE 0.0 END)
       |             + 1e-9, 4) AS high_rate
       |FROM j GROUP BY bin ORDER BY bin""".stripMargin

  /** End-to-end curation funnel — the survivors-per-stage report a
    * pipeline owner reads before anything trains: total corpus →
    * heuristic quality gate → exact dedup (md5 of text, min doc_id
    * wins) → bag-of-words fingerprint dedup → token-length floor, with
    * each stage's surviving count and fraction of the original corpus.
    * Every stage reuses the EXACT formula its standalone operator pins
    * (quality = [[withQuality]], fingerprint = [[textFingerprint]]), so
    * the funnel cannot drift from the operators it summarizes. Scale:
    * one corpus scan computing per-doc survival FLAGS (Spark does not
    * dedupe common subplans, so the r12 union-of-filtered-aggregates
    * shape rescanned the corpus five times), then two keyed dedup
    * windows (hash-partitioned on their keys) and ONE scalar aggregate
    * over the flags; the five stage rows are exploded from that single
    * aggregate row — no stage rescans. The dedup stages are sequential
    * (exact dedup among quality survivors, fingerprint dedup among
    * exact-dedup survivors), so "first surviving row per key" is a
    * running sum of the upstream flag over the keyed window, not a raw
    * row_number: a row wins its h-group iff it passes quality and no
    * earlier (doc_id-ordered) quality survivor shares its hash.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val base = withQuality(spread(Tables.documents(spark, dir)))
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))
          .cast("binary")))
    val wH = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flags = base
      .withColumn("s1", (col("quality") >= 0.6).cast("long"))
      .withColumn("s2",
        (col("s1") === 1 && sum(col("s1")).over(wH) === 1).cast("long"))
      .withColumn("s3",
        (col("s2") === 1 && sum(col("s2")).over(wF) === 1).cast("long"))
      .withColumn("s4",
        (col("s3") === 1 && col("n_tokens") >= 50).cast("long"))
    val one = flags.agg(
      count(lit(1)).as("n0"), sum("s1").as("n1"), sum("s2").as("n2"),
      sum("s3").as("n3"), sum("s4").as("n4"))
    def st(id: Long, name: String, n: Column): Column = struct(
      lit(id).as("stage_id"), lit(name).as("stage"), n.as("n_docs"))
    one
      .select(col("n0"), explode(array(
        st(0L, "total", col("n0")),
        st(1L, "quality_gate", col("n1")),
        st(2L, "exact_dedup", col("n2")),
        st(3L, "fingerprint_dedup", col("n3")),
        st(4L, "length_floor", col("n4")))).as("s"))
      .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"),
        round(col("s.n_docs") / col("n0") + lit(1e-9), 4).as("frac"))
      .orderBy(col("stage_id"))
  }

  val curationFunnelOracle: String =
    """WITH d0 AS (
      |  SELECT doc_id, text,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the'))
      |           * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
      |         length(replace(text, ' ', '')) * 1.0
      |           / len(string_split(text, ' ')) AS avg_len,
      |         md5(text) AS h,
      |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents),
      |d AS (
      |  SELECT *, round(least(n_tokens / 100.0, 1.0) * 0.4
      |               + (1.0 - stop_ratio) * 0.3
      |               + least(avg_len / 6.0, 1.0) * 0.3 + 1e-9, 4) AS quality
      |  FROM d0),
      |f1 AS (SELECT * FROM d WHERE quality >= 0.6),
      |f2 AS (SELECT * FROM (
      |         SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |         FROM f1) WHERE rn = 1),
      |f3 AS (SELECT * FROM (
      |         SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn2
      |         FROM f2) WHERE rn2 = 1),
      |f4 AS (SELECT * FROM f3 WHERE n_tokens >= 50),
      |stages AS (
      |  SELECT 0 AS stage_id, 'total' AS stage, COUNT(*) AS n_docs FROM d
      |  UNION ALL SELECT 1, 'quality_gate', COUNT(*) FROM f1
      |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*) FROM f2
      |  UNION ALL SELECT 3, 'fingerprint_dedup', COUNT(*) FROM f3
      |  UNION ALL SELECT 4, 'length_floor', COUNT(*) FROM f4)
      |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
      |       CAST(n_docs AS BIGINT) AS n_docs,
      |       round(n_docs * 1.0 / (SELECT COUNT(*) FROM d) + 1e-9, 4) AS frac
      |FROM stages ORDER BY stage_id""".stripMargin

  /** Self-trained unigram language classifier: the top-10 most frequent
    * tokens per language (ties broken by token) form each language's
    * profile; a document is classified as the language whose profile
    * overlaps most with its distinct tokens (ties broken by lang asc).
    * The profile build is a small aggregate (vocabulary-sized) that gets
    * broadcast back against the corpus — no corpus-sized shuffle.
    */
  /** The classifier's per-doc winner table (doc_id, lang, p_lang,
    * overlap), STAGED once per corpus (r15, guide §2.4 "two operations
    * keyed the same way can share one exchange" taken to its substrate
    * conclusion): the profile build + per-doc scoring + argmax window is
    * the whole cost of BOTH langid read-outs, and [[textLangidConfusion]]
    * re-ran every stage of [[textLangId]] before this. Same
    * build-once-read-many shape as the shingle/postings substrates.
    */
  private def stagedLangIdBest(spark: SparkSession, dir: String): DataFrame =
    DedupOps.staged(spark, DedupOps.stageKey(spark, "langid-best", dir)) {
      val docs = spread(Tables.documents(spark, dir))
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
      val profile = tok.groupBy(col("lang").as("p_lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("p_lang")).orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rk") <= 10)
        .select(col("p_lang"), col("tok"))
      val docTok = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      val scored = docTok.join(broadcast(profile), Seq("tok"))
        .groupBy(col("doc_id"), col("lang"), col("p_lang"))
        .agg(count(lit(1)).as("overlap"))
      scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("overlap").desc, col("p_lang"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang"), col("p_lang"), col("overlap"))
    }

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    stagedLangIdBest(spark, dir)
      .select(col("doc_id"), col("lang"), col("p_lang").as("predicted"),
        col("overlap"),
        when(col("lang") === col("p_lang"), lit(1L)).otherwise(lit(0L)).as("correct"))
      .orderBy(col("doc_id"))

  val textLangIdOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |profile AS (
      |  SELECT p_lang, tok FROM (
      |    SELECT lang AS p_lang, tok, COUNT(*) AS cnt,
      |           row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tok) AS rk
      |    FROM tok GROUP BY lang, tok)
      |  WHERE rk <= 10),
      |doctok AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |scored AS (
      |  SELECT d.doc_id, d.lang, p.p_lang, COUNT(*) AS overlap
      |  FROM doctok d JOIN profile p ON d.tok = p.tok
      |  GROUP BY d.doc_id, d.lang, p.p_lang),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |            ORDER BY overlap DESC, p_lang) AS rk
      |  FROM scored)
      |SELECT doc_id, lang, p_lang AS predicted, overlap,
      |       CAST(CASE WHEN lang = p_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix — the eval read-out on top of
    * [[textLangId]]: per (true, predicted) cell counts with the
    * row-normalized rate (the diagonal is per-language recall), the
    * report that says WHERE the classifier confuses rather than just
    * how often. Rollup over the classifier's per-doc output — adds one
    * key-space-sized aggregate; the ε tie-break guards the
    * small-denominator rates.
    */
  def textLangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    stagedLangIdBest(spark, dir)
      .select(col("lang"), col("p_lang").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(w))
      .select(col("lang"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("row_total") + lit(5e-10), 4)
          .as("rate"),
        (col("lang") === col("predicted")).as("is_diagonal"))
      .orderBy(col("lang"), col("predicted"))
  }

  val textLangidConfusionOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |profile AS (
      |  SELECT p_lang, tok FROM (
      |    SELECT lang AS p_lang, tok, COUNT(*) AS cnt,
      |           row_number() OVER (PARTITION BY lang
      |             ORDER BY COUNT(*) DESC, tok) AS rk
      |    FROM tok GROUP BY lang, tok)
      |  WHERE rk <= 10),
      |doctok AS (
      |  SELECT doc_id, lang,
      |         unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |scored AS (
      |  SELECT d.doc_id, d.lang, p.p_lang, COUNT(*) AS overlap
      |  FROM doctok d JOIN profile p ON d.tok = p.tok
      |  GROUP BY d.doc_id, d.lang, p.p_lang),
      |best AS (
      |  SELECT lang, p_lang AS predicted FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |              ORDER BY overlap DESC, p_lang) AS rk
      |    FROM scored) WHERE rk = 1),
      |cells AS (
      |  SELECT lang, predicted, COUNT(*) AS n
      |  FROM best GROUP BY lang, predicted)
      |SELECT lang, predicted, n,
      |       round(CAST(n AS DOUBLE)
      |             / SUM(n) OVER (PARTITION BY lang) + 5e-10, 4) AS rate,
      |       lang = predicted AS is_diagonal
      |FROM cells ORDER BY lang, predicted""".stripMargin

  /** Content-defined fingerprint: md5 over the sorted distinct token set
    * (bag-of-words normalization), with the number of documents sharing
    * each fingerprint — the cheap first pass of fuzzy dedup.
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))
          .cast("binary")).as("fingerprint"))
      .withColumn("n_sharing",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .orderBy(col("doc_id"))

  val textFingerprintOracle: String =
    """SELECT doc_id,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      |       COUNT(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS n_sharing
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus-level n-gram profile: top-20 word bigrams. The explode is
    * map-side; only (bigram, partial count) pairs shuffle.
    */
  def textBigrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
    val toks = docs.select(tokens(col("text")).as("t"))
    val bigrams = toks.select(explode(tokenWindows(col("t"), 2)).as("bigram"))
    bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  val textBigramsOracle: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM toks WHERE len(t) >= 2)
      |SELECT bigram, COUNT(*) AS n FROM bi
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** Token counting three ways (builder mandate: whitespace + a BPE-ish
    * regex + the chars/4 estimator used for LLM budget planning). The
    * regex splits on subword-ish boundaries (vowel-consonant transitions),
    * a deterministic stand-in for a learned BPE merge table.
    */
  def textBpeTokens(spark: SparkSession, dir: String): DataFrame =
    spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(split(col("text"), "[aeiou]+")).cast("long").as("n_bpe_tokens"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("est_llm_tokens"))
      .orderBy(col("doc_id"))

  val textBpeTokensOracle: String =
    """SELECT doc_id, n_chars,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |       CAST(len(string_split_regex(text, '[aeiou]+')) AS BIGINT) AS n_bpe_tokens,
      |       CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_llm_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition detection — the training-corpus quality signal for
    * machine-generated/boilerplate text: the fraction of a document's
    * 3-gram occurrences that are duplicates of an earlier one. Pure
    * per-row array math (size vs distinct size), map-only at any scale.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    // spread (r16): this was the one heavy per-row text op reading the
    // small fixture without the parallelism floor — 8.1 s of shingle
    // building serialized on one scan task while 31 cores idled
    spread(Tables.documents(spark, dir))
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("n_distinct") / col("n_grams").cast("double") + lit(1e-9), 4)))
      .withColumn("is_repetitive", (col("rep_ratio") >= 0.2).cast("long"))
      .orderBy(col("doc_id"))

  val textRepetitionOracle: String =
    """WITH g AS (
      |  SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 1)),
      |                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |r AS (
      |  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
      |         CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
      |         CASE WHEN len(g) = 0 THEN 0.0
      |              ELSE round(1.0 - len(list_distinct(g)) * 1.0 / len(g) + 1e-9, 4) END AS rep_ratio
      |  FROM g)
      |SELECT doc_id, n_grams, n_distinct, rep_ratio,
      |       CAST(rep_ratio >= 0.2 AS BIGINT) AS is_repetitive
      |FROM r ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document: term frequency per (doc, token),
    * document frequency per token, score tf * ln((N+1)/(df+1)), top-3 by
    * score with token tiebreak. Two key-bounded shuffles (doc-token, then
    * token) plus a per-doc window — the vocabulary table is tiny relative
    * to the corpus at any scale.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
    // N for the idf term: a zero-column count over parquet (row counts
    // come from footers, no data pages read) — not a second table scan
    val n = Tables.documents(spark, dir).count()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // df as a window count over the tf table: one row per (doc, tok)
    // means rows-per-tok == docs containing tok. This derives df from the
    // ALREADY-aggregated tf in one tok-shuffle — the groupBy+join form
    // re-ran the whole explode+tf aggregate for the dfreq branch (Spark
    // reuses exchanges, not aggregate subtrees)
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("tfidf",
        round(col("tf") * log((lit(n.toDouble) + 1.0) / (col("df") + lit(1.0))), 4))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("tok"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val textTfidfOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |s AS (
      |  SELECT t.doc_id, t.tok, round(t.tf * ln((n.n + 1.0) / (d.df + 1.0)), 4) AS tfidf
      |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN n),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |            ORDER BY tfidf DESC, tok) AS rk
      |  FROM s)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tfidf
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Context window for sequence packing (tokens). */
  val CtxTokens = 256

  /** Concatenate-and-chunk sequence packing — how pretraining pipelines
    * turn variable-length documents into fixed context windows: within
    * each lang shard, documents concatenate in doc_id order into a token
    * stream that is cut every [[CtxTokens]] tokens; each doc records its
    * stream offset and the chunk span it lands in. The running sum is
    * per-shard (partitionBy lang), so shards pack in parallel — never a
    * single global cumulative sort.
    */
  def textPacking(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $CtxTokens").as("first_chunk"),
        expr(s"(tok_offset + n_tokens - 1) div $CtxTokens").as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
      .orderBy(col("doc_id"))
  }

  val textPackingOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  -- DuckDB's window SUM(BIGINT) widens to HUGEINT (int128); the
      |  -- harness hashes int128 differently than int64, so pin BIGINT.
      |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, tok_offset,
      |       CAST(tok_offset // $CtxTokens AS BIGINT) AS first_chunk,
      |       CAST((tok_offset + n_tokens - 1) // $CtxTokens AS BIGINT) AS last_chunk,
      |       CAST((tok_offset + n_tokens - 1) // $CtxTokens
      |         - tok_offset // $CtxTokens + 1 AS BIGINT) AS n_chunks
      |FROM o ORDER BY doc_id""".stripMargin

  /** 60-bit md5 hash of doc_id — the deterministic, engine-independent
    * sampling residue every sampling operator keys on (DuckDB twin:
    * `CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS
    * BIGINT)`).
    */
  private def docHash60: Column =
    conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Percentage of each stratum kept by [[sampleStratified]]. */
  val SamplePct = 20

  /** Deterministic stratified sampling: keep a doc iff its md5-derived
    * 60-bit hash lands in the first [[SamplePct]] residues mod 100 — the
    * same sample regardless of row order, partitioning, or engine, with
    * per-lang proportions preserved in expectation. Map-only: the one
    * sampling pattern that never shuffles and never needs a count first.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("hk", docHash60)
      .filter(col("hk") % 100 < SamplePct)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val sampleStratifiedOracle: String =
    s"""SELECT doc_id, lang FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 100 < $SamplePct
      |ORDER BY doc_id""".stripMargin

  /** Per-language token budget for [[sampleTokenBudget]] — sized so the
    * budget BITES at every fixture scale (each lang shard holds more
    * tokens than this) while still keeping rows at sf0.001.
    */
  val LangTokenBudget = 400L

  /** Token-budget sampling — pretraining mixes are sized in TOKENS, not
    * documents: fill each language's [[LangTokenBudget]] by walking that
    * language's documents in deterministic md5 order and keeping a
    * document iff the tokens accumulated BEFORE it are still under
    * budget (greedy fill; the boundary document may overshoot — the
    * standard packing rule, and exclusive-prefix semantics make the
    * kept set independent of how the boundary doc itself is sized).
    * One shuffle on lang; the running sum is partition-parallel per
    * shard exactly like [[textPacking]]'s offsets. For finer
    * parallelism at corpus scale, split the budget over (lang,
    * hash-bucket) sub-shards — same shape, more partitions.
    */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("hk"))
    val before = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .filter(col("tokens_before") < LangTokenBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("tokens_before"))
      .orderBy(col("doc_id"))
  }

  val sampleTokenBudgetOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         md5(CAST(doc_id AS VARCHAR)) AS hk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, n_tokens,
      |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
      |           ORDER BY hk, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS tokens_before
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, tokens_before
      |FROM r WHERE tokens_before < $LangTokenBudget
      |ORDER BY doc_id""".stripMargin

  /** Samples kept per stratum by [[sampleWeighted]]. */
  val WeightedSampleK = 10

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis): key_i = -ln(u_i) / w_i with u_i a uniform
    * derived from md5(doc_id) and w_i = n_chars; the k smallest keys per
    * lang are the sample, so longer documents are proportionally more
    * likely — the length/quality-weighted selection step of training-data
    * curation. Same sample on any engine, row order, or partitioning;
    * the per-key top-k plans as a map-side partial WindowGroupLimit.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    // u in (0, 1]: (h + 1) / 2^60
    val u = (docHash60.cast("double") + lit(1.0)) / lit(math.pow(2.0, 60))
    val key = -log(u) / col("n_chars")
    Tables.documents(spark, dir)
      // zero/null-weight docs are unsampleable (and would divide by zero
      // under ANSI / rank NULLS-FIRST): excluded identically in the oracle
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("es_key"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("es_key"), col("doc_id"))))
      .filter(col("rk") <= WeightedSampleK)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val sampleWeightedOracle: String =
    s"""WITH keyed AS (
      |  SELECT doc_id, lang, n_chars,
      |         -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |              + 1.0) / power(2.0, 60)) / n_chars AS es_key
      |  FROM documents WHERE n_chars > 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |            ORDER BY es_key, doc_id) AS rk
      |  FROM keyed)
      |SELECT doc_id, lang, n_chars, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= $WeightedSampleK
      |ORDER BY lang, rk""".stripMargin

  /** Residue scale for [[sampleMixture]] rates (1/10000 granularity). */
  val MixtureResidues = 10000

  /** Data-mixture rebalancing — the step that turns a skewed crawl into
    * the language (or domain) proportions a training run wants: compute
    * each language's keep-rate toward an equal share,
    * `rate_l = min(1, total / (n_langs * cnt_l))`, then keep a document
    * iff its md5-residue falls under `floor(rate_l * 10000)`. The same
    * deterministic hash-residue trick as [[sampleStratified]], so the
    * sample is identical on any engine or partitioning; over-represented
    * languages down-sample, under-represented ones pass through whole.
    * One tiny aggregate (lang counts) broadcast back against a map-only
    * corpus scan — no corpus shuffle at any scale.
    */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_langs"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("lang"),
        least(lit(1.0), col("total") / (col("n_langs") * col("cnt"))).as("rate"))
    docs.select(col("doc_id"), col("lang"), docHash60.as("hk"))
      .join(broadcast(rates), "lang")
      .filter(col("hk") % MixtureResidues <
        floor(col("rate") * MixtureResidues).cast("long"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val sampleMixtureOracle: String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_langs FROM c),
      |r AS (SELECT lang, least(1.0, total * 1.0 / (n_langs * cnt)) AS rate
      |      FROM c CROSS JOIN t)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r USING (lang)
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % $MixtureResidues < CAST(floor(rate * $MixtureResidues) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** Bigram perplexity proxy — the KenLM-style quality filter shape:
    * train corpus bigram statistics, score each document by its mean
    * negative log conditional probability `-ln(c(w1 w2) / c(w1))`. High
    * scores mark documents whose word transitions are unusual for the
    * corpus (noise, shuffled text); the standard pretraining quality
    * gate next to [[textQuality]]'s surface heuristics. Count tables are
    * vocabulary-bounded (tiny vs the corpus), so the two count shuffles
    * and the score join stay key-bounded at any scale; every document
    * bigram occurs in the corpus counts by construction, so p > 0 and no
    * smoothing is needed for the proxy.
    */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    // a token never holds the " " it was split on, so a bigram's first
    // word is its text up to the first space
    val bi = toks.select(col("doc_id"), explode(tokenWindows(col("t"), 2)).as("bg"))
      .select(col("doc_id"), substring_index(col("bg"), " ", 1).as("w1"), col("bg"))
    val c2 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = docs.select(explode(tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(c2, "bg").join(c1, "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("c2") / col("c1"))), 4).as("nll"))
      .orderBy(col("doc_id"))
  }

  val textPerplexityOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM toks WHERE len(t) >= 2),
      |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
      |c1 AS (SELECT unnest(t) AS w1 FROM toks),
      |c1c AS (SELECT w1, COUNT(*) AS c1 FROM c1 GROUP BY w1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |       round(AVG(-ln(c2 * 1.0 / c1)), 4) AS nll
      |FROM bi JOIN c2 USING (bg) JOIN c1c USING (w1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Quality gate and sample rate for [[corpusCuration]]. */
  val CurationMinQuality = 0.6
  val CurationSamplePct = 50

  /** Oracle fragments for the quality components and score — the SQL
    * twins of [[withQuality]]/[[qualityScore]], shared by every oracle
    * that reproduces the quality formula so it exists in ONE place.
    * `qualityComponentsSql` expects (doc_id, text, ...) in scope;
    * `qualityExprSql` expects the component aliases.
    */
  private[graft] val qualityComponentsSql =
    """CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the'))
      |           * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
      |         length(replace(text, ' ', '')) * 1.0
      |           / len(string_split(text, ' ')) AS avg_len""".stripMargin

  private[graft] val qualityExprSql =
    """round(least(n_tokens / 100.0, 1.0) * 0.4
      |               + (1.0 - stop_ratio) * 0.3
      |               + least(avg_len / 6.0, 1.0) * 0.3 + 1e-9, 4)""".stripMargin

  /** Per-source curation scorecard — the rollup a curation team reads to
    * set source sampling weights or blocklists: how many documents each
    * ingestion source contributed, how many were exact-duplicate
    * casualties (non-survivors of the min-doc_id rule), the mean quality
    * score, the token mass, and how many rows actually made it through
    * the full [[corpusCuration]] gate (survivor AND quality AND sample
    * residue — the SAME predicates, so the scorecard's n_kept column
    * sums exactly to the manifest's row count). One window shuffle for
    * the survivor flag, one source-keyed aggregation — source
    * cardinality is tiny, so the final shuffle is trivially bounded at
    * any corpus scale.
    */
  def curationSourceStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(lower(col("text"))).orderBy(col("doc_id"))
    val d = withQuality(Tables.documents(spark, dir)
        .withColumn("rk", row_number().over(w)))
      .withColumn("is_survivor", (col("rk") === 1).cast("long"))
      .withColumn("is_kept",
        ((col("rk") === 1) && col("quality") >= CurationMinQuality &&
          docHash60 % 100 < CurationSamplePct).cast("long"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - sum(col("is_survivor"))).cast("long").as("n_dups"),
        round(avg(col("quality")) + lit(1e-9), 4).as("avg_quality"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        sum(col("is_kept")).cast("long").as("n_kept"))
      .orderBy(col("source"))
  }

  lazy val curationSourceStatsOracle: String =
    s"""WITH s AS (
      |  SELECT doc_id, text, source,
      |         row_number() OVER (PARTITION BY lower(text) ORDER BY doc_id) AS rk
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, source, rk,
      |         $qualityComponentsSql
      |  FROM s),
      |q AS (
      |  SELECT doc_id, source, rk, n_tokens,
      |         $qualityExprSql AS quality
      |  FROM d)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      |       round(AVG(quality) + 1e-9, 4) AS avg_quality,
      |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |       CAST(SUM(CASE WHEN rk = 1 AND quality >= $CurationMinQuality
      |                 AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |                     % 100 < $CurationSamplePct
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** End-to-end curation manifest — the composition a training run
    * actually consumes: exact-dup survivors (min doc_id per normalized
    * text), gated at quality >= [[CurationMinQuality]] (the `mid` tier
    * floor), then deterministically down-sampled to
    * [[CurationSamplePct]]% by md5 residue. One window shuffle for the
    * dedup, map-only from there — each stage is the already-verified
    * operator, composed.
    */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame =
    withQuality(DedupOps.exactSurvivors(Tables.documents(spark, dir)))
      .filter(col("quality") >= CurationMinQuality)
      .filter(docHash60 % 100 < CurationSamplePct)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
      .orderBy(col("doc_id"))

  val corpusCurationOracle: String =
    s"""WITH s AS (
      |  SELECT doc_id, text, lang FROM (
      |    SELECT doc_id, text, lang,
      |           row_number() OVER (PARTITION BY lower(text) ORDER BY doc_id) AS rk
      |    FROM documents)
      |  WHERE rk = 1),
      |d AS (
      |  SELECT doc_id, lang,
      |         $qualityComponentsSql
      |  FROM s),
      |q AS (
      |  SELECT doc_id, lang, n_tokens,
      |         $qualityExprSql AS quality
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, quality
      |FROM q
      |WHERE quality >= $CurationMinQuality
      |  AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 100 < $CurationSamplePct
      |ORDER BY doc_id""".stripMargin

  /** Per-document word-distribution entropy — the information-density
    * quality signal next to [[textRepetition]]'s n-gram ratio: templated
    * or spam-generated text reuses few words and scores near 0, natural
    * prose approaches ln(n_distinct). Computed with the one-pass
    * identity `H = ln(n) - (sum c*ln c)/n` (exact algebra for
    * `-sum (c/n) ln(c/n)`), so the plan is two keyed aggregations — a
    * map-side-combined (doc, word) count then a per-doc fold — with no
    * second join for the total.
    */
  def textWordEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * log(col("c"))).as("clc"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        // +1e-9 steps exact .00005 halves off the Spark/DuckDB rounding
        // divergence (README "Rounding tie-break policy")
        round(log(col("n_words")) - col("clc") / col("n_words") + lit(1e-9), 4)
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  val textWordEntropyOracle: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w)
      |SELECT doc_id,
      |       CAST(SUM(c) AS BIGINT) AS n_words,
      |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |       round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) + 1e-9, 4) AS entropy
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** NTILE bucket count and the kept-tier ceiling for the percentile
    * gate.
    */
  val QualityTierCount = 10
  val QualityTierKeep = 3

  /** Percentile-based quality gate — the "keep the top 30% per language"
    * curation step: NTILE([[QualityTierCount]]) deciles over the SHARED
    * quality score ([[withQuality]]), partitioned by lang, keep tiers
    * <= [[QualityTierKeep]]. Unlike [[corpusCuration]]'s absolute
    * threshold, a percentile gate self-calibrates per language — the
    * standard way to hold a fixed token budget when per-lang quality
    * distributions differ. One window shuffle on lang (the same key the
    * mixture/packing family shuffles on); ties broken (quality desc,
    * doc_id) so tier assignment is engine-independent.
    */
  def sampleQualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    withQuality(spread(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("lang"), col("quality"))
      .withColumn("tier", ntile(QualityTierCount).over(w).cast("long"))
      .filter(col("tier") <= QualityTierKeep)
      .orderBy(col("doc_id"))
  }

  val sampleQualityPercentileOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |         $qualityComponentsSql
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, lang,
      |         $qualityExprSql AS quality
      |  FROM d),
      |t AS (
      |  SELECT doc_id, lang, quality,
      |         CAST(NTILE($QualityTierCount) OVER (PARTITION BY lang
      |              ORDER BY quality DESC, doc_id) AS BIGINT) AS tier
      |  FROM q)
      |SELECT doc_id, lang, quality, tier
      |FROM t WHERE tier <= $QualityTierKeep
      |ORDER BY doc_id""".stripMargin

  /** DEFLATE-compression-ratio quality signal — the model-free
    * repetitiveness detector (low compressed/raw ratio = templated or
    * looped text; natural prose sits near its entropy ceiling). No SQL
    * twin exists (the byte stream depends on the DEFLATE implementation),
    * so this is a LIBRARY op: the deflater initializes once per
    * partition (the codec batch shape) and the ratio is deterministic
    * for a given JVM zlib. Pipelines gate on ratio bands the same way
    * they gate on [[textWordEntropy]]; DocStreamJob-style streaming use
    * is a stateless projection.
    */
  def withCompressionRatio(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val withRatio = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // one deflater per partition, reset per row — init-once like the
        // multimodal codecs, BEST_COMPRESSION for a stable signal
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_COMPRESSION)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          val ratio =
            if (raw.length == 0) 1.0
            else compressed.toDouble / raw.length
          (id, raw.length.toLong, compressed, math.round(ratio * 10000) / 10000.0)
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed", "compression_ratio")
    withRatio
  }

  /** Split fractions: residues < 80 train, < 90 validation, else test. */
  val SplitTrainPct = 80
  val SplitValPct = 90

  /** Deterministic train/validation/test split — the assignment every
    * training run needs, as a map-only hash-residue projection: a
    * document's split is a pure function of its id (md5 residue, the
    * same family as [[sampleStratified]]/[[sampleMixture]]), so the
    * split is stable across runs, engines, and corpus growth (new docs
    * never move old docs between splits — the property random
    * shuffling-based splits lose on every refresh). No shuffle at all;
    * the per-split counts concentrate around 80/10/10 by hash
    * uniformity.
    */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    spread(Tables.documents(spark, dir))
      .withColumn("hk", docHash60 % 100)
      .withColumn("split",
        when(col("hk") < SplitTrainPct, lit("train"))
          .when(col("hk") < SplitValPct, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))

  val sampleSplitOracle: String =
    s"""SELECT doc_id, lang,
      |       CASE WHEN r < $SplitTrainPct THEN 'train'
      |            WHEN r < $SplitValPct THEN 'val'
      |            ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang,
      |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |        % 100 AS r
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Stop-word list for the Gopher stop-word rule: the published 8-word
    * set (the/be/to/of/and/that/have/with) plus the fixture's other
    * function word 'a' — the synthetic vocabulary contains only
    * {'the','a'} of the canonical list, and without 'a' the rule would be
    * constant-false here (vacuous on this corpus, wrong signal in a
    * regression diff).
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  /** Gopher-style quality rule battery (Rae et al. 2021, §A1.1 — public
    * rule set used to filter MassiveWeb): per document,
    *   r_wordcount  50 <= words <= 100000
    *   r_wordlen    3 <= mean word length <= 10
    *   r_alpha      >= 80% of words contain an alphabetic character
    *   r_stop       >= 2 distinct stop words present ([[GopherStopWords]])
    *   r_top2       chars in the most frequent word 2-gram <= 20% of text
    *   r_rep3       duplicate 3-gram occurrence fraction <= 0.2
    * keep = every rule passes. All measures are per-row array/string math
    * (the top-2-gram argmax is an O(distinct^2) in-row fold over <=100
    * grams, ties broken max-count-then-lexicographic-min) — the whole
    * battery is ONE map-only scan projection: at 100 TB it runs at
    * parquet-read speed with zero shuffles, which is exactly why these
    * cheap heuristics run before any model-based scorer in production
    * curation stacks.
    */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame =
    withGopherRules(spread(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("stop_hits"), col("top2_frac"), col("rep3_frac"),
        col("r_wordcount"), col("r_wordlen"), col("r_alpha"), col("r_stop"),
        col("r_top2"), col("r_rep3"), col("keep"))
      .orderBy(col("doc_id"))

  /** [[textGopherRules]] as a library op over any frame with a `text`
    * column: appends the six measures, their rule flags, and `keep`.
    */
  def withGopherRules(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val g2 = tokenWindows(t, 2)
    val g3 = shingles3(t)
    // r16 per-row cost rewrite (guide §4) — same outputs, cheaper
    // evaluation; every replacement is exact, not approximate:
    //  - stop_hits: 9 array_contains scans -> one array_intersect
    //    (GopherStopWords is duplicate-free, so the intersect size IS
    //    the distinct-stop-words-present count);
    //  - mean_word_len: regexp_replace -> translate (single-char space
    //    deletion needs no regex engine);
    //  - alpha_frac: per-token rlike("[a-zA-Z]") -> translate-delete of
    //    the 52 ASCII letters + length compare (a token contains a
    //    letter iff deleting letters shortens it);
    //  - top-2-gram: the O(distinct^2) nested filter fold -> sort +
    //    one linear run-length fold (ascending order makes the FIRST
    //    gram reaching the max count the lexicographically smallest,
    //    reproducing the documented tie-break).
    val stopHits = size(array_intersect(
      array(GopherStopWords.map(lit): _*), t))
    val asciiLetters = ('a' to 'z').mkString + ('A' to 'Z').mkString
    val hasLetter = (x: Column) =>
      length(translate(x, asciiLetters, "")) < length(x)
    val foldInit = struct(lit(null).cast("string").as("prev"),
      lit(0).as("run"), lit(0).as("cnt"),
      lit(null).cast("string").as("gram"))
    val folded = aggregate(array_sort(g2), foldInit, (acc, x) => {
      val run2 = when(acc.getField("prev").isNotNull &&
        x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
      struct(x.as("prev"), run2.as("run"),
        when(run2 > acc.getField("cnt"), run2)
          .otherwise(acc.getField("cnt")).as("cnt"),
        when(run2 > acc.getField("cnt"), x)
          .otherwise(acc.getField("gram")).as("gram"))
    })
    docs
      .withColumn("n_words", size(t).cast("long"))
      .withColumn("mean_word_len",
        round(length(translate(col("text"), " ", ""))
          / col("n_words").cast("double") + lit(1e-9), 4))
      .withColumn("alpha_frac",
        round(size(filter(t, hasLetter))
          / col("n_words").cast("double") + lit(1e-9), 4))
      .withColumn("stop_hits", stopHits.cast("long"))
      // max occurrence count over 2-grams, then the lexicographically
      // smallest gram attaining it (deterministic cross-engine
      // tie-break; integer counts, no float compare)
      .withColumn("top2", folded)
      .withColumn("top2_cnt", col("top2.cnt"))
      .withColumn("top2_gram", col("top2.gram"))
      .withColumn("top2_frac",
        when(col("top2_cnt") === 0, lit(0.0))
          .otherwise(round(col("top2_cnt") * length(col("top2_gram"))
            / length(col("text")).cast("double") + lit(1e-9), 4)))
      .withColumn("rep3_frac",
        when(size(g3) === 0, lit(0.0))
          .otherwise(round(lit(1.0) - size(array_distinct(g3)) / size(g3).cast("double")
            + lit(1e-9), 4)))
      .withColumn("r_wordcount",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("long"))
      .withColumn("r_wordlen",
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("long"))
      .withColumn("r_alpha", (col("alpha_frac") >= 0.8).cast("long"))
      .withColumn("r_stop", (col("stop_hits") >= 2).cast("long"))
      .withColumn("r_top2", (col("top2_frac") <= 0.2).cast("long"))
      .withColumn("r_rep3", (col("rep3_frac") <= 0.2).cast("long"))
      .withColumn("keep",
        (col("r_wordcount") + col("r_wordlen") + col("r_alpha")
          + col("r_stop") + col("r_top2") + col("r_rep3") === 6).cast("long"))
      .drop("top2", "top2_cnt", "top2_gram")
  }

  val textGopherRulesOracle: String = {
    val stops = GopherStopWords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
      |base AS (
      |  SELECT doc_id, text,
      |         CAST(len(t) AS BIGINT) AS n_words,
      |         round(length(replace(text, ' ', '')) * 1.0 / len(t) + 1e-9, 4)
      |           AS mean_word_len,
      |         round(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
      |           * 1.0 / len(t) + 1e-9, 4) AS alpha_frac,
      |         CAST(len(list_filter($stops, s -> list_contains(t, s)))
      |           AS BIGINT) AS stop_hits,
      |         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
      |         list_transform(range(1, greatest(len(t) - 1, 1)),
      |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      |  FROM t),
      |top2 AS (
      |  SELECT doc_id, g, c FROM (
      |    SELECT doc_id, g, COUNT(*) AS c,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY COUNT(*) DESC, g) AS rn
      |    FROM (SELECT doc_id, unnest(g2) AS g FROM base)
      |    GROUP BY doc_id, g) WHERE rn = 1),
      |m AS (
      |  SELECT b.doc_id, b.n_words, b.mean_word_len, b.alpha_frac, b.stop_hits,
      |         CASE WHEN p.c IS NULL THEN 0.0
      |              ELSE round(p.c * length(p.g) * 1.0 / length(b.text) + 1e-9, 4)
      |         END AS top2_frac,
      |         CASE WHEN len(b.g3) = 0 THEN 0.0
      |              ELSE round(1.0 - len(list_distinct(b.g3)) * 1.0 / len(b.g3)
      |                         + 1e-9, 4) END AS rep3_frac
      |  FROM base b LEFT JOIN top2 p USING (doc_id)),
      |r AS (
      |  SELECT *,
      |         CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_wordcount,
      |         CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS BIGINT) AS r_wordlen,
      |         CAST(alpha_frac >= 0.8 AS BIGINT) AS r_alpha,
      |         CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
      |         CAST(top2_frac <= 0.2 AS BIGINT) AS r_top2,
      |         CAST(rep3_frac <= 0.2 AS BIGINT) AS r_rep3
      |  FROM m)
      |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits, top2_frac,
      |       rep3_frac, r_wordcount, r_wordlen, r_alpha, r_stop, r_top2, r_rep3,
      |       CAST(r_wordcount + r_wordlen + r_alpha + r_stop + r_top2 + r_rep3 = 6
      |            AS BIGINT) AS keep
      |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Counter budget / reported-top-N for [[textHeavyHitters]]. */
  val HeavyHitterCapacity = 16
  val HeavyHitterTopN = 5

  /** Approximate heavy hitters via the mergeable Misra–Gries sketch
    * ([[graft.functions.MgSketch]]): ONE bounded-memory aggregation whose
    * partial buffers are m counters each — at 100 TB the vocabulary
    * never shuffles, m counters per partition do. Because MG counter
    * values legally vary with merge order, the query emits what is
    * order-INdependent: the exact top-N tokens (from a second, exact
    * aggregation), the sketch's total-count n (exact by construction),
    * and the theorem guarantees — c(x) <= true(x) <= c(x) + err for
    * every item, stored or not — evaluated in-engine as booleans the
    * SQL oracle asserts constant-true. A violated bound = a real sketch
    * bug = a hash mismatch. The fixture's near-uniform token counts are
    * the sketch's documented worst case (no guaranteed-heavy items
    * exist); the bound checks stay non-vacuous because err and the
    * stored counters are genuinely exercised.
    */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MgSketch.register(spark)
    val toks = spread(Tables.documents(spark, dir))
      .select(explode(tokens(col("text"))).as("tok"))
    val sk = toks.agg(
      expr(s"mg_sketch(tok, $HeavyHitterCapacity)").as("sk"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("tok")).limit(HeavyHitterTopN)
    exact.crossJoin(broadcast(sk))
      .withColumn("c", coalesce(element_at(col("sk.items"), col("tok")), lit(0L)))
      .select(col("tok"), col("exact_count"),
        (col("c") <= col("exact_count") &&
          col("exact_count") - col("c") <= col("sk.err"))
          .cast("long").as("bounds_ok"),
        col("sk.n").as("n_stream"))
      .orderBy(col("exact_count").desc, col("tok"))
  }

  val textHeavyHittersOracle: String =
    s"""WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_stream FROM tok),
      |top AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
      |  FROM tok GROUP BY tok
      |  ORDER BY exact_count DESC, tok LIMIT $HeavyHitterTopN)
      |SELECT tok, exact_count, CAST(1 AS BIGINT) AS bounds_ok, n_stream
      |FROM top CROSS JOIN tot
      |ORDER BY exact_count DESC, tok""".stripMargin

  // PII scrub patterns — deliberately simple, deterministic shapes that
  // mean the same thing in Java regex (Spark codegen'd regexp_replace)
  // and RE2 (the DuckDB twin): emails, NNN-NNNN phone stubs, dotted-quad
  // IPs. Real deployments extend the pattern set; the PLUMBING (map-only
  // multi-pattern rewrite + per-source accounting + content checksum) is
  // what this operator pins.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"
  private val IpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII detection + redaction over the corpus — the scrub pass every
    * training-data pipeline runs before anything else sees the text.
    * The fixture corpus is synthetic word-salad with no PII, so a
    * deterministic doc_id-keyed injection (emails on ≡0 mod 7, phone
    * stubs mod 11, IPs mod 13 — reproduced token-for-token by the
    * oracle) makes every pattern and every overlap class non-vacuous.
    * Detection counts run against the pre-redaction text; redaction
    * applies email → IP → phone in a fixed order in both engines; the
    * md5-fold checksum of the REDACTED text proves the rewrites are
    * byte-identical, not merely count-identical.
    *
    * Scale: map-only (three codegen'd regexp passes per row), one
    * per-source hash aggregation with map-side partials — nothing
    * shuffles but the per-source partials.
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("text"))
    val withPii = docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string")))
        .otherwise(lit(""))))
    withPii
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col("text"), lit(PhoneRe)))
      .withColumn("n_ips", regexp_count(col("text"), lit(IpRe)))
      .withColumn("rtext", regexp_replace(regexp_replace(regexp_replace(
        col("text"), EmailRe, "[EMAIL]"), IpRe, "[IP]"), PhoneRe, "[PHONE]"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ips")).as("n_ips"),
        sum(pmod(conv(substring(md5(col("rtext").cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(1000000007L))).as("red_sum"))
      .orderBy(col("source"))
  }

  val textPiiRedactOracle: String =
    s"""WITH pii AS (
       |  SELECT doc_id, source,
       |    text
       |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
       |      AS text
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |    len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
       |    len(regexp_extract_all(text, '$IpRe')) AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$EmailRe', '[EMAIL]', 'g'),
       |      '$IpRe', '[IP]', 'g'),
       |      '$PhoneRe', '[PHONE]', 'g') AS rtext
       |  FROM pii)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       |       CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       |       CAST(SUM(n_ips) AS BIGINT) AS n_ips,
       |       CAST(SUM(CAST('0x' || substr(md5(rtext), 1, 12) AS BIGINT)
       |           % 1000000007) AS BIGINT) AS red_sum
       |FROM red GROUP BY source ORDER BY source""".stripMargin

  /** RAG-style sliding-window chunking: split every document into
    * fixed-size token chunks (64 tokens, stride 48 → 16-token overlap)
    * and emit per-chunk ids, lengths, and a 48-bit BIGINT content hash —
    * the retrieval-corpus build step that precedes embedding. Map-only:
    * tokenize → `sequence` of chunk starts → `explode` → `slice`; no
    * shuffle at all (the final orderBy is presentation-only), so at
    * 100 TB it streams through the scan at full width. The md5-head hash
    * stays in BIGINT domain (driver-hashable, same convention as the
    * fingerprint ops).
    */
  def textRagChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunk = lit(ChunkTokensN)
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStrideN)))
          .as("start"))
      .select(col("doc_id"),
        expr(s"start div $ChunkStrideN").as("chunk_id"),
        array_join(slice(col("t"), col("start") + 1, chunk), " ").as("ctext"))
      .select(col("doc_id"), col("chunk_id"),
        (size(split(col("ctext"), " "))).cast("long").as("n_tokens"),
        conv(substring(md5(col("ctext").cast("binary")), 1, 12), 16, 10)
          .cast("long").as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Chunk geometry for [[textRagChunks]] — 64-token chunks every 48. */
  val ChunkTokensN = 64
  val ChunkStrideN = 48

  val textRagChunksOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |s AS (
      |  SELECT doc_id, t, unnest(range(0, len(t), $ChunkStrideN)) AS start
      |  FROM d),
      |c AS (
      |  SELECT doc_id, start // $ChunkStrideN AS chunk_id,
      |         array_to_string(list_slice(t, start + 1, start + $ChunkTokensN), ' ')
      |           AS ctext
      |  FROM s)
      |SELECT doc_id, chunk_id,
      |       CAST(len(string_split(ctext, ' ')) AS BIGINT) AS n_tokens,
      |       CAST('0x' || substr(md5(ctext), 1, 12) AS BIGINT) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-domain frequency capping (the CommonCrawl-style curation rule:
    * no source may contribute more than N documents): keep the
    * [[DomainCapN]] docs with the smallest md5(doc_id) per source —
    * consistent hashing, so the SAME documents survive on every run,
    * engine, and partitioning — and report per-source kept/total plus a
    * checksum of the kept ids. Reuses the [[graft.functions.BottomKByHash]]
    * O(k) heap aggregate: map-side partials push at most N ids per
    * (source, partition) into the shuffle, so a billion-doc source costs
    * the same shuffle bytes as a hundred-doc one — the window-function
    * formulation the oracle uses would sort every source's full posting.
    */
  def curationDomainCap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BottomKByHash.register(spark)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        expr(s"bottom_k_by_hash(cast(doc_id AS string), $DomainCapN)")
          .as("kept"))
      .select(col("source"), col("n_total"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("aggregate(kept, 0L, (acc, x) -> acc + cast(x AS long))")
          .as("kept_docid_sum"))
      .orderBy(col("source"))
  }

  /** Per-source document cap for [[curationDomainCap]]. */
  val DomainCapN = 30

  val curationDomainCapOracle: String =
    s"""WITH ranked AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR))
      |           AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_total,
      |       CAST(SUM(CASE WHEN rn <= $DomainCapN THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       CAST(SUM(CASE WHEN rn <= $DomainCapN THEN doc_id END) AS BIGINT)
      |         AS kept_docid_sum
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** Hashed-feature space size for [[textDsirWeights]]. */
  val DsirBuckets = 64

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * with Importance Resampling"): score every document by how much
    * more likely its hashed-token bag is under the TARGET distribution
    * (here: the `en` shard) than under the RAW corpus distribution —
    * weight = sum_f count_f(doc) * [ln p_tgt(f) − ln p_raw(f)] over
    * [[DsirBuckets]] md5-hashed unigram features with Laplace
    * smoothing. This is the standard cheap proxy for "select raw data
    * that looks like the high-quality target" at pretraining scale.
    *
    * Scale shape: two token-keyed partial aggregations (per-bucket
    * global counts — a [[DsirBuckets]]-row table — and per-(doc,
    * bucket) counts), then the bucket->lambda table broadcasts back;
    * no join ever carries text, and nothing is corpus-quadratic. The
    * hash is the engine-portable md5-head-mod (the checksum
    * convention), so DuckDB reproduces weights bit-for-bit.
    */
  def textDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", pmod(
        conv(substring(md5(col("tok").cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(DsirBuckets.toLong)))
    val counts = tok.groupBy(col("b")).agg(
      count(lit(1)).as("raw_n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt_n"))
    val totals = counts.agg(sum(col("raw_n")).as("raw_tot"),
      sum(col("tgt_n")).as("tgt_tot"))
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("tgt_n") + 1.0) / (col("tgt_tot") + DsirBuckets)) -
          log((col("raw_n") + 1.0) / (col("raw_tot") + DsirBuckets))).as("lam"))
    tok.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("c") * col("lam")), 4).as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  val textDsirWeightsOracle: String =
    s"""WITH tb AS (
      |  SELECT doc_id, lang,
      |         CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % $DsirBuckets AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |counts AS (
      |  SELECT b, COUNT(*) AS raw_n,
      |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_n
      |  FROM tb GROUP BY b),
      |tot AS (SELECT CAST(SUM(raw_n) AS BIGINT) AS raw_tot,
      |               CAST(SUM(tgt_n) AS BIGINT) AS tgt_tot FROM counts),
      |lam AS (
      |  SELECT b, ln((tgt_n + 1.0) / (tgt_tot + $DsirBuckets))
      |          - ln((raw_n + 1.0) / (raw_tot + $DsirBuckets)) AS lam
      |  FROM counts CROSS JOIN tot),
      |pd AS (SELECT doc_id, lang, b, COUNT(*) AS c FROM tb
      |       GROUP BY doc_id, lang, b)
      |SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |       round(SUM(c * lam), 4) AS dsir_weight
      |FROM pd JOIN lam USING (b)
      |GROUP BY doc_id, lang
      |ORDER BY doc_id""".stripMargin

  /** First-occurrence n-gram novelty — the per-document "how much of
    * this have we already ingested" score that complements the pairwise
    * dedup family: for each distinct word-trigram shingle, the document
    * with the minimal doc_id owns the first occurrence; a document's
    * novelty is the fraction of its distinct shingles it is the first
    * owner of (1.0 = all-new text, near 0 = recombined boilerplate).
    * In an incremental ingest doc_id is the arrival order, so this IS
    * the "new tokens contributed by this batch" curve.
    *
    * Plan: the shingle explode is map-side ([[docShingles]]); one
    * shuffle on the shingle key computes first-owner via a window min
    * (at 100 TB: hash the shingle to 64 bits first — the
    * exact-substring substrate — and let AQE split skewed boilerplate
    * shingles), then one key-space-sized shuffle on doc_id folds the
    * per-doc ratio. Documents under 3 tokens have no shingles and no
    * novelty row, identically in both engines.
    */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s"))
    docShingles(Tables.documents(spark, dir))
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel") * lit(1.0) / col("n_shingles"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val textNgramNoveltyOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tri0 AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |tri AS (SELECT DISTINCT doc_id, s FROM tri0),
      |f AS (SELECT doc_id, s,
      |             MIN(doc_id) OVER (PARTITION BY s) AS first_doc
      |      FROM tri)
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_novel,
      |       round(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
      |             / COUNT(*), 4) AS novelty
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** k-anonymity threshold and quasi-identifier bucket width. */
  val KAnonK = 3
  val KAnonCharBucket = 200

  /** k-anonymity audit over release quasi-identifiers — the privacy
    * gate a corpus release runs next to [[textPiiRedact]]'s content
    * scrub: bucket each document's quasi-identifier tuple
    * (lang, source, length bucket) and flag every equivalence class
    * smaller than k — classes where metadata alone could re-identify a
    * contributor. The report is per-class (class count, k-anonymous
    * flag) plus the re-identification risk mass each class carries
    * (1/class-size per doc). One exact groupBy on the quasi-identifier
    * key — key-space-bounded (lang × source × length buckets), map-side
    * partials do the work at 100 TB; suppression/generalization of the
    * flagged classes is then a broadcast-join filter over this tiny
    * report, never a second full shuffle.
    */
  def curationKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"),
        (col("n_chars") / lit(KAnonCharBucket)).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("class_size"))
      .select(col("lang"), col("source"), col("len_bucket"), col("class_size"),
        (col("class_size") >= KAnonK).as("k_anonymous"),
        round(lit(1.0) / col("class_size"), 4).as("reident_risk"))
      .orderBy(col("lang"), col("source"), col("len_bucket"))

  val curationKAnonymityOracle: String =
    s"""SELECT lang, source, n_chars // $KAnonCharBucket AS len_bucket,
      |       COUNT(*) AS class_size,
      |       COUNT(*) >= $KAnonK AS k_anonymous,
      |       round(1.0 / COUNT(*), 4) AS reident_risk
      |FROM documents
      |GROUP BY lang, source, len_bucket
      |ORDER BY lang, source, len_bucket""".stripMargin

  /** Sources compared by the KS drift gate. */
  val KsSourceA = "src1"
  val KsSourceB = "src2"

  /** Two-sample Kolmogorov–Smirnov drift test between two sources'
    * quality-score distributions — the distribution-drift gate a
    * curation pipeline runs when a feed changes upstream (a mean shift
    * is caught by [[curationSourceStats]]; KS catches shape changes at
    * equal means). D = max |F_A − F_B| over the pooled support: scores
    * round to 4 dp and group per distinct value (ties pooled), the two
    * empirical CDFs come from cumulative window sums over that
    * DISTINCT-VALUE table — bounded by the rounded score space (≤ 10⁴
    * rows), so the unpartitioned cumulative window is a bounded-table
    * sort, not a data-scale one; the only corpus-touching stage is the
    * per-value count shuffle. The drift flag compares against the
    * α = 0.05 critical value 1.36·√((n_A+n_B)/(n_A·n_B)), both sides
    * rounded before the compare so the boolean cannot sit on an ulp.
    */
  def curationDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = Tables.documents(spark, dir)
      .filter(col("source").isin(KsSourceA, KsSourceB))
      .select(col("source"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 4)
          .as("v"))
    val perV = scored.groupBy(col("v"))
      .agg(sum(when(col("source") === KsSourceA, 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === KsSourceB, 1L).otherwise(0L)).as("c2"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    perV
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("diff",
        abs(sum(col("c1")).over(wCum) / col("n1")
          - sum(col("c2")).over(wCum) / col("n2")))
      .groupBy(col("n1"), col("n2"))
      .agg(round(max(col("diff")), 4).as("ks_d"))
      .withColumn("ks_crit",
        round(lit(1.36) * sqrt((col("n1") + col("n2"))
          / (col("n1") * col("n2"))), 4))
      .select(col("n1"), col("n2"), col("ks_d"), col("ks_crit"),
        (col("ks_d") > col("ks_crit")).as("drifted"))
  }

  val curationDriftKsOracle: String =
    s"""WITH scored AS (
      |  SELECT source,
      |         round(len(list_distinct(string_split(text, ' '))) * 1.0
      |               / len(string_split(text, ' ')), 4) AS v
      |  FROM documents WHERE source IN ('$KsSourceA', '$KsSourceB')),
      |perv AS (
      |  SELECT v,
      |         SUM(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END) AS c1,
      |         SUM(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END) AS c2
      |  FROM scored GROUP BY v),
      |cum AS (
      |  SELECT SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2,
      |         abs(SUM(c1) OVER w * 1.0 / SUM(c1) OVER ()
      |           - SUM(c2) OVER w * 1.0 / SUM(c2) OVER ()) AS diff
      |  FROM perv WINDOW w AS (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |d AS (
      |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |         round(MAX(diff), 4) AS ks_d
      |  FROM cum GROUP BY n1, n2)
      |SELECT n1, n2, ks_d,
      |       round(1.36 * sqrt((n1 + n2) * 1.0 / (n1 * n2)), 4) AS ks_crit,
      |       ks_d > round(1.36 * sqrt((n1 + n2) * 1.0 / (n1 * n2)), 4)
      |         AS drifted
      |FROM d""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_drift_ks" -> (curationDriftKs _),
    "curation_k_anonymity" -> (curationKAnonymity _),
    "text_ngram_novelty" -> (textNgramNovelty _),
    "text_dsir_weights" -> (textDsirWeights _),
    "text_rag_chunks" -> (textRagChunks _),
    "curation_domain_cap" -> (curationDomainCap _),
    "text_pii_redact" -> (textPiiRedact _),
    "text_heavy_hitters" -> (textHeavyHitters _),
    "text_gopher_rules" -> (textGopherRules _),
    "sample_split" -> (sampleSplit _),
    "sample_quality_percentile" -> (sampleQualityPercentile _),
    "text_word_entropy" -> (textWordEntropy _),
    "curation_source_stats" -> (curationSourceStats _),
    "sample_token_budget" -> (sampleTokenBudget _),
    "corpus_curation" -> (corpusCuration _),
    "sample_mixture" -> (sampleMixture _),
    "text_perplexity" -> (textPerplexity _),
    "sample_weighted" -> (sampleWeighted _),
    "text_tfidf" -> (textTfidf _),
    "text_packing" -> (textPacking _),
    "sample_stratified" -> (sampleStratified _),
    "text_repetition" -> (textRepetition _),
    "text_classifier_score" -> (textClassifierScore _),
    "text_normalize" -> (textNormalize _),
    "text_oov" -> (textOov _),
    "text_bpe_tokens" -> (textBpeTokens _),
    "text_token_stats" -> (textTokenStats _),
    "text_length_histogram" -> (textLengthHistogram _),
    "text_vocab_coverage" -> (textVocabCoverage _),
    "text_classifier_calibration" -> (textClassifierCalibration _),
    "curation_funnel" -> (curationFunnel _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_langid_confusion" -> (textLangidConfusion _),
    "text_fingerprint" -> (textFingerprint _),
    "text_bigrams" -> (textBigrams _))

  def oracles: Map[String, String] = Map(
    "curation_drift_ks" -> curationDriftKsOracle,
    "curation_k_anonymity" -> curationKAnonymityOracle,
    "text_ngram_novelty" -> textNgramNoveltyOracle,
    "text_dsir_weights" -> textDsirWeightsOracle,
    "text_rag_chunks" -> textRagChunksOracle,
    "curation_domain_cap" -> curationDomainCapOracle,
    "text_pii_redact" -> textPiiRedactOracle,
    "text_heavy_hitters" -> textHeavyHittersOracle,
    "text_gopher_rules" -> textGopherRulesOracle,
    "sample_split" -> sampleSplitOracle,
    "sample_quality_percentile" -> sampleQualityPercentileOracle,
    "text_word_entropy" -> textWordEntropyOracle,
    "curation_source_stats" -> curationSourceStatsOracle,
    "sample_token_budget" -> sampleTokenBudgetOracle,
    "corpus_curation" -> corpusCurationOracle,
    "sample_mixture" -> sampleMixtureOracle,
    "text_perplexity" -> textPerplexityOracle,
    "sample_weighted" -> sampleWeightedOracle,
    "text_tfidf" -> textTfidfOracle,
    "text_packing" -> textPackingOracle,
    "sample_stratified" -> sampleStratifiedOracle,
    "text_repetition" -> textRepetitionOracle,
    "text_classifier_score" -> textClassifierScoreOracle,
    "text_normalize" -> textNormalizeOracle,
    "text_oov" -> textOovOracle,
    "text_bpe_tokens" -> textBpeTokensOracle,
    "text_token_stats" -> textTokenStatsOracle,
    "text_length_histogram" -> textLengthHistogramOracle,
    "text_vocab_coverage" -> textVocabCoverageOracle,
    "text_classifier_calibration" -> textClassifierCalibrationOracle,
    "curation_funnel" -> curationFunnelOracle,
    "text_quality" -> textQualityOracle,
    "text_langid" -> textLangIdOracle,
    "text_langid_confusion" -> textLangidConfusionOracle,
    "text_fingerprint" -> textFingerprintOracle,
    "text_bigrams" -> textBigramsOracle)
}
