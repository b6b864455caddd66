package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RelationalOps

/** Physical-plan shape assertions: the optimizations we design for must
  * actually fire (SURVEY.md §4; builder mandate "explain and iterate").
  *
  * Plans are materialized (collect) before inspection so AQE's final plan
  * — the one that actually ran — is what gets asserted, and
  * `explainString(formatted)` avoids the truncation in plan toString.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("filter + projection push down to the parquet scan") {
    val plan = finalPlan(RelationalOps.qFilterPushdown(spark, dir))
    assert(plan.contains("PushedFilters"), s"no pushed filters in:\n$plan")
    assert(plan.contains("GreaterThan(l_discount,0.08)"), s"discount predicate not pushed:\n$plan")
    // pruned read schema — only the referenced columns are scanned
    assert(!plan.contains("l_returnflag") && !plan.contains("l_tax"),
      "scan reads columns the query never references")
  }

  test("dimension joins broadcast; no shuffle of the fact side") {
    val plan = finalPlan(RelationalOps.qBroadcastJoin(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(RelationalOps.qSortLimit(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  test("dpp join: the partitioned fact scan carries a dynamicpruning " +
      "partition filter (static pruning is impossible here)") {
    val plan = finalPlan(RelationalOps.qDppJoin(spark, dir))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
  }

  test("grouped aggregation is partial+final hash aggregate") {
    val plan = finalPlan(RelationalOps.q1PricingSummary(spark, dir))
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected map-side partial aggregation before the shuffle")
  }

  test("weather pipeline stays in whole-stage codegen up to the aggregate") {
    val plan = finalPlan(graft.operators.WeatherOps.weatherPipeline(spark, dir))
    // formatted mode marks whole-stage-codegen operators with [codegen id : N]
    assert(plan.contains("[codegen id :"), s"no codegen spans:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("dedup family: candidate generation is bucketed, never all-pairs") {
    // dedup_ngram_jaccard's query path reads a staged parquet, so the
    // shape assertion runs against the unstaged pair-pipeline builder
    val frames = Seq(
      "dedup_exact" -> graft.operators.DedupOps.queries("dedup_exact")(spark, dir),
      "ngram_pairs_plan" -> graft.operators.DedupOps.ngramPairsPlan(spark, dir),
      "dedup_minhash_lsh" -> graft.operators.DedupOps.queries("dedup_minhash_lsh")(spark, dir),
      "dedup_simhash" -> graft.operators.DedupOps.queries("dedup_simhash")(spark, dir),
      "dedup_simhash_pairs" -> graft.operators.DedupOps.queries("dedup_simhash_pairs")(spark, dir),
      "dedup_embedding" -> graft.operators.DedupOps.queries("dedup_embedding")(spark, dir))
    for ((name, df) <- frames) {
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$plan")
    }
  }

  test("corpus-growing sides are never hint-forced into a broadcast " +
      "(clusters manifest, contamination bench side)") {
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      // forced-large setting: with no hint in the plan, nothing may
      // broadcast; a leftover broadcast() hint would override this
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // structural walk instead of a string match on the formatted dump:
      // the dump inlines InMemoryRelation internals, and cached fragments
      // built by concurrently-running suites under the DEFAULT conf may be
      // reused here — those are that conf's plans, not this query forcing
      // a broadcast. InMemoryTableScan is a leaf, so the walk stops there.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def broadcasts(p: SparkPlan): Seq[String] = {
        val here = if (p.nodeName.contains("BroadcastExchange")) Seq(p.nodeName) else Nil
        val nested = p match {
          case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
          case q: QueryStageExec => broadcasts(q.plan)
          case _ => Nil
        }
        here ++ nested ++ p.children.flatMap(broadcasts)
      }
      for (name <- Seq("dedup_clusters", "text_contamination")) {
        val df = graft.operators.DedupOps.queries(name)(spark, dir)
        df.collect()
        val found = broadcasts(df.queryExecution.executedPlan)
        assert(found.isEmpty,
          s"$name forces a broadcast of a corpus-growing side: $found")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("registry-wide broadcast-hint hygiene: no hint resolves onto a " +
      "fact-class scan without a cardinality bounder in between") {
    // r10 "What's wrong" #2/#3 closed as a CLASS: walk every
    // batch-registered query's ANALYZED plan (lazy — drives excluded via
    // streamingQueries, whose builders execute streams eagerly) and flag
    // any broadcast hint whose subtree reaches a scan of an SF-growing
    // table unless a global aggregate (<=1 row) or a limit bounds the
    // cardinality between the hint and the scan. Bounded-by-domain
    // groupings (chunk ids, event types, sources, band ids...) are
    // whitelisted BY NAME below with the bounding argument, so a new
    // query hinting a growing side fails here by default.
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BinaryComparison, Expression, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val factTables = Set("lineitem", "orders", "customer", "supplier",
      "part", "documents", "events", "embeddings")
    // per-row identifiers of the fact tables: a grouping key that traces
    // to one of these has SF-growing cardinality (the r10 perPart bug:
    // group by l_partkey). nationkey/regionkey are NOT here — their
    // domains are fixed (25/5) at every SF.
    def isFactId(name: String): Boolean = {
      val n = name.toLowerCase
      n.endsWith("custkey") || n.endsWith("orderkey") ||
        n.endsWith("partkey") || n.endsWith("suppkey") ||
        Set("doc_id", "vec_id", "user_id", "event_id", "session_id")(n)
    }
    def stripCasts(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCasts(c.child)
      case other => other
    }
    // a probe filter (bare id column vs literals) pins the side to a
    // constant set of rows; a content predicate (fn(col) > lit) does not
    def isProbeConjunct(e: Expression): Boolean = e match {
      case b: BinaryComparison => (stripCasts(b.left), stripCasts(b.right)) match {
        case (a: AttributeReference, _: Literal) => isFactId(a.name)
        case (_: Literal, a: AttributeReference) => isFactId(a.name)
        case _ => false
      }
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        isFactId(a.name)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // trace grouping-key names through Alias definitions in the subtree
    // to the leaf column names they derive from (name-based fixpoint)
    def tracedNames(start: Set[String], p: LogicalPlan): Set[String] = {
      val defs = scala.collection.mutable.Map.empty[String, Set[String]]
      p.foreach { n =>
        n.expressions.foreach(_.foreach {
          case al: Alias =>
            defs(al.name) =
              defs.getOrElse(al.name, Set.empty) ++ al.child.references.map(_.name)
          case _ =>
        })
      }
      var cur = start
      var grown = true
      while (grown) {
        val next = cur ++ cur.flatMap(n => defs.getOrElse(n, Set.empty))
        grown = next.size > cur.size
        cur = next
      }
      cur
    }
    // a filter on a rank-like window column (row_number/rank <= k) is a
    // per-key top-k: the shortlist-broadcast pattern (matryoshka stage 2,
    // where the window keys are themselves probe-bounded). Heuristic: a
    // top-k over UNBOUNDED keys would slip through, but no hint in the
    // registry broadcasts one — the knn edge list reaches its join by
    // shuffle, not hint
    def isRankLimitConjunct(e: Expression, below: LogicalPlan): Boolean = {
      def rankDefined(name: String): Boolean = {
        var found = false
        below.foreach { n =>
          n.expressions.foreach(_.foreach {
            case al: Alias if al.name == name =>
              al.child.foreach {
                case w: org.apache.spark.sql.catalyst.expressions.WindowExpression =>
                  w.windowFunction match {
                    case _: org.apache.spark.sql.catalyst.expressions.RowNumber |
                         _: org.apache.spark.sql.catalyst.expressions.Rank |
                         _: org.apache.spark.sql.catalyst.expressions.DenseRank =>
                      found = true
                    case _ =>
                  }
                case _ =>
              }
            case _ =>
          })
        }
        found
      }
      e match {
        case b: BinaryComparison => (stripCasts(b.left), stripCasts(b.right)) match {
          case (a: AttributeReference, _: Literal) => rankDefined(a.name)
          case (_: Literal, a: AttributeReference) => rankDefined(a.name)
          case _ => false
        }
        case _ => false
      }
    }
    def factLeavesUnbounded(p: LogicalPlan): Seq[String] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => Nil // <=1 row
      case a: Aggregate =>
        // grouped: bounded iff no grouping key traces to a per-row fact
        // identifier (per-domain rollups — event_type, source, language,
        // cell, chunk — stay constant-sized as SF grows)
        val roots = a.groupingExpressions.flatMap(_.references).map(_.name).toSet
        if (tracedNames(roots, a.child).exists(isFactId))
          a.children.flatMap(factLeavesUnbounded)
        else Nil
      case _: GlobalLimit | _: LocalLimit => Nil // bounded by the limit
      case f: Filter if conjuncts(f.condition).exists(isProbeConjunct) => Nil
      case f: Filter
          if conjuncts(f.condition).exists(isRankLimitConjunct(_, f.child)) =>
        Nil
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            .filter(factTables.contains)
        case _ => Nil
      }
      case other => other.children.flatMap(factLeavesUnbounded)
    }
    def hintViolations(p: LogicalPlan): Seq[String] = p match {
      case h: ResolvedHint
          if h.hints.strategy.exists(_.toString.toUpperCase.contains("BROADCAST")) =>
        factLeavesUnbounded(h.child) ++ hintViolations(h.child)
      case other =>
        other.children.flatMap(hintViolations) ++
          other.subqueries.flatMap(hintViolations)
    }
    // documented bounded exceptions the structural rule cannot see
    // (r11 closed the two similarity entries: sim_bitext_margin now
    // probe-bounds its source side and sim_knn_mutual carries no hint;
    // the full-corpus shapes are the IVF-cell-fed *_ann variants)
    val whitelist: Map[String, String] = Map(
      "events_sessionize_late" ->
        "chunk-max side groups by chunk id (<= StatefulChunks rows)",
      "events_attribution" ->
        "chunk-watermark side groups by chunk id (<= StatefulChunks rows)")
    // negative controls: both r10 shapes must be flagged by the walk —
    // a raw fact-scan hint (q_local_supplier_volume's broadcast(customer))
    // and a group-by-fact-key hint (q_basket_affinity's broadcast(perPart))
    import org.apache.spark.sql.functions.{broadcast => bcast, col => c, count => cnt, lit => l}
    val li = graft.Tables.lineitem(spark, dir)
    val rawScanHint = li.join(bcast(graft.Tables.customer(spark, dir)),
      c("l_orderkey") === c("c_custkey"))
    assert(hintViolations(rawScanHint.queryExecution.analyzed).nonEmpty,
      "negative control: raw fact-scan hint not flagged")
    val perPart = li.select(c("l_partkey").as("pk")).groupBy(c("pk"))
      .agg(cnt(l(1)).as("pc"))
    val factKeyAggHint = li.join(bcast(perPart), c("l_partkey") === c("pk"))
    assert(hintViolations(factKeyAggHint.queryExecution.analyzed).nonEmpty,
      "negative control: group-by-fact-key hint not flagged")
    val batchNames =
      (SparkEntry.queries.keySet -- SparkEntry.streamingQueries).toSeq.sorted
    // whitelist integrity: every entry must (a) name a registered query
    // — a rename would otherwise leave a stale exemption behind — and
    // (b) still TRIP the walk when not exempted, so a column rename that
    // defangs the name heuristic (isFactId is convention-based) cannot
    // silently turn an exemption into dead weight that later hides a
    // real violation under the same name
    for ((name, why) <- whitelist) {
      assert(batchNames.contains(name),
        s"whitelist entry $name is not a registered batch query ($why)")
      val analyzed =
        SparkEntry.queries(name)(spark, dir).queryExecution.analyzed
      assert(hintViolations(analyzed).nonEmpty,
        s"whitelist entry $name no longer trips the walk — the exemption " +
          s"is dead; delete it (was: $why)")
    }
    val bad = batchNames.filterNot(whitelist.contains).flatMap { name =>
      val analyzed =
        SparkEntry.queries(name)(spark, dir).queryExecution.analyzed
      hintViolations(analyzed).map(t => s"$name -> $t")
    }
    assert(bad.isEmpty,
      s"broadcast hints forced onto SF-growing sides:\n${bad.mkString("\n")}")
  }

  test("registry-wide cartesian hygiene: no condition-less join pairs " +
      "two unbounded fact-class sides") {
    // the all-pairs killer, closed as a class at the ANALYZED-plan level
    // (the per-family executed-plan tests sample; this walk is total):
    // a Join with NO condition (crossJoin, or a join Spark will plan as
    // nested-loop/cartesian) is legal only when at least one side is
    // cardinality-bounded — a global aggregate (<=1 row, the nOrders
    // scalar pattern), a limit, an id-literal probe filter, or a local
    // relation. Two SF-growing sides under a condition-less join is
    // O(n^2) at any scale and fails here by default.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Expression, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val factTables = Set("lineitem", "orders", "customer", "supplier",
      "part", "documents", "events", "embeddings")
    def stripCasts(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCasts(c.child)
      case other => other
    }
    def isIdProbe(e: Expression): Boolean = e match {
      case b: BinaryComparison => (stripCasts(b.left), stripCasts(b.right)) match {
        case (a: AttributeReference, _: Literal) => a.name.endsWith("_id")
        case (_: Literal, a: AttributeReference) => a.name.endsWith("_id")
        case _ => false
      }
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        a.name.endsWith("_id")
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def unboundedFacts(p: LogicalPlan): Seq[String] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => Nil
      case _: GlobalLimit | _: LocalLimit => Nil
      case f: Filter if conjuncts(f.condition).exists(isIdProbe) => Nil
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            .filter(factTables.contains)
        case _ => Nil
      }
      case other => other.children.flatMap(unboundedFacts)
    }
    def crossViolations(p: LogicalPlan): Seq[String] = {
      val here = p match {
        case j: Join if j.condition.isEmpty =>
          val (l, r) = (unboundedFacts(j.left), unboundedFacts(j.right))
          if (l.nonEmpty && r.nonEmpty)
            Seq(s"${l.mkString("+")} x ${r.mkString("+")}")
          else Nil
        case _ => Nil
      }
      here ++ p.children.flatMap(crossViolations) ++
        p.subqueries.flatMap(crossViolations)
    }
    // negative control: an unbounded x unbounded crossJoin must be flagged
    val li = graft.Tables.lineitem(spark, dir)
    assert(crossViolations(
      li.crossJoin(graft.Tables.orders(spark, dir)).queryExecution.analyzed)
      .nonEmpty, "negative control: fact x fact crossJoin not flagged")
    // no exceptions: r11 closed the two former grid-evaluator entries —
    // sim_bitext_margin probe-bounds its source side (vec_id <
    // BitextSrcIds) and the full-corpus shapes (sim_bitext_margin_ann,
    // sim_knn_mutual_ann) generate candidates inside staged IVF cells
    val batchNames =
      (SparkEntry.queries.keySet -- SparkEntry.streamingQueries).toSeq.sorted
    val bad = batchNames.flatMap { name =>
      crossViolations(
        SparkEntry.queries(name)(spark, dir).queryExecution.analyzed)
        .map(t => s"$name -> $t")
    }
    assert(bad.isEmpty,
      s"condition-less joins over two unbounded fact sides:\n${bad.mkString("\n")}")
  }

  test("registry-wide lambda hygiene: no lambda body re-evaluates a " +
      "row-sized expression that ignores the lambda's variables") {
    // A higher-order function evaluates its lambda body once per element,
    // so a subexpression that refers to none of the variables bound in
    // the lambda is recomputed per element for the same result. When its
    // cost grows with the row (split the text, join or hash or sort an
    // array, run a regex), an O(n) expression becomes O(n^2) per row:
    // a window lambda over `split(text)` re-splits the document for
    // every window. Walks every batch query's OPTIMIZED plan (after collapsing
    // projections has inlined `t = split(text)` into the lambdas) plus
    // the un-staged substrate builds that the staged queries read.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def rowSized(e: Expression): Boolean = e match {
      case _: StringSplit | _: ArrayJoin | _: Md5 | _: Sha1 | _: Sha2 |
           _: ArrayDistinct | _: SortArray | _: ArraySort | _: RLike => true
      case other => other.getClass.getSimpleName.startsWith("RegExp")
    }
    def lambdaViolations(p: LogicalPlan): Seq[String] = {
      val here = p.expressions.flatMap(_.collect { case lf: LambdaFunction => lf })
        .flatMap { lf =>
          // variables bound by this lambda or by a lambda nested in it:
          // a subexpression touching none of them is the same value on
          // every iteration of this lambda
          val bound = lf.collect { case l: LambdaFunction => l.arguments }
            .flatten.map(_.exprId).toSet
          lf.function.collect {
            case sub if rowSized(sub) && !sub.exists {
                case v: NamedLambdaVariable => bound(v.exprId)
                case _ => false
              } => s"${sub.prettyName} in ${lf.function.sql.take(160)}"
          }
        }
      here ++ p.children.flatMap(lambdaViolations) ++
        p.subqueries.flatMap(lambdaViolations)
    }
    def plan(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan
    // negative control: 3-gram windows picked out of an inlined split
    import org.apache.spark.sql.functions.{col => c, concat_ws, element_at, lit => l, sequence, size, split, transform}
    val toks = split(c("text"), " ")
    val lambdaShingles = graft.Tables.documents(spark, dir).select(
      transform(sequence(l(0), size(toks) - 3), j => concat_ws(" ",
        element_at(toks, j + 1), element_at(toks, j + 2), element_at(toks, j + 3))))
    assert(lambdaViolations(plan(lambdaShingles)).nonEmpty,
      "negative control: a per-window split(text) is not flagged")
    // no exceptions: every registered query passes without one
    val batchNames =
      (SparkEntry.queries.keySet -- SparkEntry.streamingQueries).toSeq.sorted
    val frames: Seq[(String, () => DataFrame)] =
      batchNames.map(n => n -> (() => SparkEntry.queries(n)(spark, dir))) ++ Seq(
        "build:docShingleHashes" ->
          (() => graft.operators.DedupOps.docShingleHashes(spark, dir)),
        "build:spanOccurrences" ->
          (() => graft.operators.DedupOps.spanOccurrencesBuild(spark, dir)))
    val bad = frames.flatMap { case (name, build) =>
      lambdaViolations(plan(build())).distinct.map(v => s"$name -> $v")
    }
    assert(bad.isEmpty,
      s"lambda bodies re-evaluating row-sized invariant expressions:\n${bad.mkString("\n")}")
  }

  test("pair-verification broadcasts carry only the 16-byte pair ids, " +
      "never document text or source columns") {
    // r10 #4: the second lookup used to broadcast the withA half WITH its
    // text column (|pairs| x avg-doc-bytes through the driver); now both
    // lookups broadcast the bare (da, db) set and the slim halves meet in
    // a pairs-keyed shuffle join
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}
    def hintOutputs(p: LogicalPlan): Seq[Seq[String]] =
      (p match {
        case h: ResolvedHint => Seq(h.child.output.map(_.name))
        case _ => Nil
      }) ++ p.children.flatMap(hintOutputs)
    for (name <- Seq("dedup_edit_distance", "dedup_source_matrix")) {
      val analyzed = graft.operators.DedupOps.queries(name)(spark, dir)
        .queryExecution.analyzed
      val outputs = hintOutputs(analyzed)
      assert(outputs.nonEmpty, s"$name lost its pair-set broadcasts")
      val fat = outputs.filterNot(_.toSet.subsetOf(Set("da", "db")))
      assert(fat.isEmpty,
        s"$name broadcasts more than the pair ids: $fat")
    }
  }

  test("late-sessionize watermark join broadcasts the chunk-max side; " +
      "the corpus shuffles only on user_id") {
    val plan = finalPlan(graft.operators.EventOps.eventsSessionizeLate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"watermark table should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the watermark join:\n$plan")
  }

  test("attribution twin broadcasts the chunk-watermark side like the " +
      "late-sessionize guard") {
    val plan = finalPlan(graft.operators.EventOps.eventsAttribution(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the O(LateChunks) watermark table should broadcast:\n$plan")
  }

  test("quantized rescore's probe join carries int8 codes, not float " +
      "embeddings, on the corpus side") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, dir)
    val nlist = graft.operators.SimilarityOps.nlistFor(e.count())
    val df = graft.operators.SimilarityOps.quantizedRescoreSearch(
      e, e.filter(col("vec_id") < 10),
      graft.operators.SimilarityOps.seedCodebook(e, nlist), nlist, 5)
    // the memory-bandwidth contract: the side of the candidate join that
    // ships the code arrays must NOT also ship the float vectors (floats
    // are fetched later, for the shortlist only)
    val ok = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      .exists(j => Seq(j.left, j.right).exists { side =>
        val names = side.output.map(_.name)
        names.contains("qb") && !names.contains("embedding")
      })
    assert(ok, "no join side carries codes without the float embedding — " +
      "the quantized path is shipping full-precision vectors")
  }

  test("simhash fingerprints aggregate in a single groupBy (no bit explode)") {
    // the query path reads staged parquet; assert on the unstaged builder
    val plan = finalPlan(graft.operators.DedupOps.simhashPlan(spark, dir))
    // inspect only the AQE final plan (the formatted dump repeats operators
    // in the initial-plan and per-node-detail sections)
    val finalSection = plan.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalSection).size == 2,
      s"expected exactly one partial+final aggregate pair:\n$plan")
    // exactly one Generate: the per-doc shingle explode. The old 48x
    // per-bit explode would add a second one.
    assert("Generate".r.findAllIn(finalSection).size == 1,
      s"fingerprinting should explode shingles once, nothing else:\n$plan")
  }

  test("per-key top-k windows plan a partial WindowGroupLimit before the shuffle") {
    // row_number + rk<=k must not sort whole partitions: Spark's
    // InferWindowGroupLimit keeps only k rows per key map-side.
    // r16: the ranking moved into the staged dense-shortlist substrate
    // (built once per corpus, prefix-read by bruteforce/MMR/RRF), so the
    // assertion targets the substrate BUILD — the plan that ranks.
    val plan = finalPlan(
      graft.operators.SimilarityOps.denseShortlistBuild(spark, dir))
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
    assert(plan.contains("Partial"), s"no map-side partial top-k in:\n$plan")
  }

  test("runtime bloom filter prunes the fact scan of a selective shuffle join") {
    // the exact plan body + conf scope q_bloom_join stages for its oracle
    val conf = spark.conf
    val saved = RelationalOps.BloomJoinConfs.map { case (k, _) =>
      k -> conf.getOption(k) }
    try {
      RelationalOps.BloomJoinConfs.foreach { case (k, v) => conf.set(k, v) }
      val joined = RelationalOps.bloomJoinPlan(spark, dir)
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
      joined.collect() // and it executes
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    // without the scope the local fixture is below the injection gate —
    // the conf restore is what keeps every OTHER query's plan clean
    val bare = RelationalOps.bloomJoinPlan(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!bare.contains("might_contain"),
      "bloom filter leaked outside the scoped confs")
  }

  test("bucketed tables co-locate: the fact-fact join runs with ZERO " +
      "exchanges — neither side shuffles") {
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      // park broadcasting so the join strategy must rely on the bucket
      // layout, as it would between two 100 TB fact tables
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val (li, o) = RelationalOps.ensureBucketedTables(spark, dir)
      val joined = spark.table(li)
        .join(spark.table(o),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // the same join over the raw (unbucketed) parquet DOES shuffle —
      // the layout, not the data size, is what removed the exchange
      val raw = graft.Tables.lineitem(spark, dir)
        .join(graft.Tables.orders(spark, dir),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      assert(raw.queryExecution.executedPlan.toString.contains("Exchange") ||
        { raw.collect(); raw.queryExecution.executedPlan.toString.contains("Exchange") },
        "control join unexpectedly shuffle-free")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("staged substrate is reused: after one dedup query runs, the next " +
      "ngram query plans a parquet scan, not the shingle pipeline") {
    // first call stages (or finds already-staged) the verified pairs
    graft.operators.DedupOps.queries("dedup_ngram_jaccard")(spark, dir).collect()
    val second = graft.operators.DedupOps.queries("dedup_ngram_jaccard")(spark, dir)
    val plan = second.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Join"),
      s"second invocation recomputed the pair pipeline instead of reading the stage:\n$plan")
    assert(second.count() > 0)
  }

  test("spread is the identity when the scan is already parallel") {
    val already = spark.range(1000).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism)
    assert(graft.operators.TextOps.spread(already) eq already,
      "spread repartitioned an input that already had enough splits")
  }

  test("spread passes through ANY by-expression repartition — a stacked " +
      "round-robin would destroy the caller's co-partitioning even when " +
      "the declared count is below the parallelism floor") {
    val byExpr = spark.range(1000).toDF("doc_id")
      .repartition(2, org.apache.spark.sql.functions.col("doc_id"))
    assert(graft.operators.TextOps.spread(byExpr) eq byExpr,
      "spread stacked a shuffle on a narrow by-expression repartition")
    val byExprNoCount = spark.range(1000).toDF("doc_id")
      .repartition(org.apache.spark.sql.functions.col("doc_id"))
    assert(graft.operators.TextOps.spread(byExprNoCount) eq byExprNoCount,
      "spread stacked a shuffle on a count-less by-expression repartition")
  }

  test("cohort retention: first-seen day and activity set share ONE " +
      "user_id exchange — no self-join, no second events shuffle") {
    val plan = finalPlan(
      graft.operators.EventOps.queries("events_cohort_retention")(spark, dir))
    assert(!plan.contains("Join"), s"cohort plan joins the events scan " +
      s"against itself — min+collect_set should fuse the branches:\n$plan")
    // formatted mode puts the partitioning in an Arguments: line, not
    // on the Exchange node itself
    val userShuffles = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userShuffles >= 1,
      s"no user_id exchange found — key changed?:\n$plan")
    assert(userShuffles <= 2, // the exchange + its ShuffleQueryStage echo
      s"events scan shuffles on user_id more than once:\n$plan")
  }

  test("srp-lsh: query bands broadcast; the corpus reaches the band join " +
      "map-only (no corpus shuffle, no cartesian)") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, dir)
    val df = graft.operators.SimilarityOps.lshCandidates(
      e, e.filter(col("vec_id") < 10), 64)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"query band table should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"srp-lsh plans an all-pairs join:\n$plan")
    // exactly ONE shuffle exchange is legitimate (the candidate
    // distinct); a second would mean the corpus was shuffled to be
    // signed or bucketed, which breaks the map-only scale contract
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1,
      s"expected only the distinct's shuffle, found $shuffles:\n$plan")
  }

  test("gopher rule battery is map-only: zero exchanges, zero joins") {
    val plan = finalPlan(graft.operators.TextOps.withGopherRules(
      graft.Tables.documents(spark, dir)))
    assert(!plan.contains("Exchange"),
      s"gopher rules shuffled — the scan-speed contract is broken:\n$plan")
    assert(!plan.contains("Join"), s"gopher rules planned a join:\n$plan")
  }

  test("semantic dedup: the in-cell self-join shuffles on cell — no " +
      "cartesian, no forced broadcast of a corpus-growing side") {
    val plan = finalPlan(
      graft.operators.SimilarityOps.dedupSemantic(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup plans an all-pairs join:\n$plan")
    // both self-join sides grow with the corpus: a hint-forced broadcast
    // would OOM at scale (AQE may still choose one at this fixture size,
    // so assert the LOGICAL plan carries no hint rather than the
    // physical choice)
    val logical = graft.operators.SimilarityOps.dedupSemantic(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!logical.contains("ResolvedHint"),
      s"corpus side hint-forced into broadcast:\n$logical")
  }

  test("pii redaction: map-only regex passes, the ONLY exchange is the " +
      "per-source partial+final aggregate") {
    val plan = finalPlan(graft.operators.TextOps.textPiiRedact(spark, dir))
    assert(!plan.contains("Join"), s"pii scrub planned a join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-source rollup must pre-aggregate map-side:\n$plan")
    // the only shuffles allowed are the spread repartition (small
    // fixture), the source rollup, and the output sort — AQE's formatted
    // explain prints initial AND final trees, so 3 nodes = 6 headers
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 6,
      s"pii scrub should shuffle only for the rollup (+spread/sort), " +
        s"found $exchanges Exchange node headers:\n$plan")
  }

  test("semantic pagerank: per-iteration inflow pre-aggregates map-side; " +
      "no cartesian, no forced broadcast of corpus-growing sides") {
    val df = graft.operators.SimilarityOps.simPagerank(spark, dir)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pagerank planned an all-pairs join:\n$plan")
    assert(plan.contains("partial_sum"),
      s"inflow rollup must pre-aggregate map-side:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!logical.contains("ResolvedHint"),
      s"corpus-growing side hint-forced into broadcast:\n$logical")
  }

  test("heavy-hitter sketch aggregates map-side: an ObjectHashAggregate " +
      "partial runs before the single-row exchange") {
    val plan = finalPlan(graft.operators.TextOps.textHeavyHitters(spark, dir))
    assert(plan.contains("ObjectHashAggregate"),
      s"mg_sketch did not plan as an object hash aggregate:\n$plan")
    assert(plan.contains("partial_mg_sketch"),
      s"no partial (map-side) sketch stage — every token row would " +
        s"reach the final aggregate's single reducer:\n$plan")
  }

  test("exact-substring dedup: no per-key window — the duplicated flag " +
      "pre-aggregates with a map-side partial and joins back") {
    val plan = finalPlan(graft.operators.DedupOps.dedupExactSubstr(spark, dir))
    // a COUNT() OVER (PARTITION BY h) would funnel every (h, doc) row of
    // a boilerplate span into ONE partition with no partial step and no
    // AQE recourse; the groupBy+join shape pre-combines per map task and
    // stays skew-splittable
    assert(!plan.contains("Window"),
      s"exact-substring dedup must not use a per-h window:\n$plan")
    assert(plan.contains("partial_count"),
      s"dup-flag must pre-aggregate map-side before any exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"no all-pairs shape may appear:\n$plan")
    // r16: the window-hash pass moved into the staged span-occurrence
    // substrate (shared with dedup_top_spans and the span postings), so
    // the map-side-explode assertion targets the substrate BUILD
    val buildPlan = finalPlan(
      graft.operators.DedupOps.spanOccurrencesBuild(spark, dir))
    assert(buildPlan.contains("Generate"),
      s"span windows must explode map-side (Generate):\n$buildPlan")
    assert(!buildPlan.contains("Exchange hashpartitioning"),
      s"the substrate build must stay map-only:\n$buildPlan")
  }

  test("top duplicated-passages report: ranking shuffles hashes only " +
      "(TakeOrdered), span text recovered via broadcast of the top-20") {
    val plan = finalPlan(graft.operators.DedupOps.dedupTopSpans(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered for the hash ranking:\n$plan")
    // text recovery must be the broadcast of the 20-row top list into a
    // map-side scan — a sort-merge join here means the corpus's span
    // TEXT got shuffled, the exact cost the two-pass design avoids
    assert(plan.contains("BroadcastHashJoin"),
      s"top-20 text recovery should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"span text must never shuffle:\n$plan")
  }

  test("cdc chunking dedup: chunker itself plans no exchange; the " +
      "cross-doc stage never goes all-pairs") {
    import org.apache.spark.sql.functions.col
    val chunkPlan = finalPlan(graft.operators.DedupOps.cdcChunks(
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
    assert(!chunkPlan.contains("Exchange"),
      s"per-doc chunking shuffled:\n$chunkPlan")
    val plan = finalPlan(graft.operators.DedupOps.dedupCdcChunks(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cdc dedup plans an all-pairs join:\n$plan")
  }

  test("pq-adc: every join is against a broadcast (codebook or LUT) — " +
      "the corpus side never sort-merge-joins") {
    val plan = finalPlan(graft.operators.SimilarityOps.simPqTopk(spark, dir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"pq search shuffled a join side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"LUT join should be a broadcast hash join:\n$plan")
    // codes collapse map-side before their shuffle: partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial aggregation on the code argmin:\n$plan")
  }

  test("z-order stats are map-only up to the bucket rollup") {
    val plan = finalPlan(graft.operators.EventOps.eventsZorder(spark, dir))
    assert(!plan.contains("Join"), s"zorder stats planned a join:\n$plan")
    // one exchange for the bucket rollup, one for the final orderBy —
    // nothing else (the interleave itself is a map-side expression);
    // count only the executed plan, not the echoed Initial Plan section
    val executed = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange \\(".r.findAllIn(executed).size
    assert(exchanges <= 2, s"zorder stats shuffled more than rollup+sort:\n$plan")
    assert(plan.contains("z_interleave16"),
      s"the native interleave expression is not in the plan:\n$plan")
  }

  test("vocab coverage: the cutoff side broadcasts; the vocab never does") {
    val df = graft.operators.TextOps.textVocabCoverage(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"4-row cutoff table should broadcast:\n$plan")
    // the vocab side grows with the corpus type count — the explicit
    // broadcast hint must sit on the 4-row cutoff relation only
    assert(!plan.contains("CartesianProduct"),
      s"cutoff cross must ride the broadcast, not a cartesian:\n$plan")
    // invariants: coverage is monotone in k and lands in (0, 1]
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(100L, 1000L, 5000L, 20000L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3 + 1e-12,
        s"coverage not monotone: $a then $b")
      assert(a._2 <= b._2, s"n_types not monotone: $a then $b")
    }
    assert(rows.forall(r => r._3 > 0.0 && r._3 <= 1.0 + 1e-9), rows.toSeq)
  }

  test("length histogram collapses to bins before the cumulative window") {
    val df = graft.operators.TextOps.textLengthHistogram(spark, dir)
    val plan = finalPlan(df)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"binning must pre-aggregate map-side:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // bins ascend, cum_frac is monotone and ends at ~1.0
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 + 1e-12, s"cum_frac not monotone: $a then $b")
    }
    assert(math.abs(rows.last._4 - 1.0) < 1e-3, rows.last.toString)
    assert(rows.map(_._2).sum ==
      graft.Tables.documents(spark, dir).count(), "bin counts lose docs")
  }

  test("correlation matrix: all fifteen moments come from ONE scan and " +
      "one partial+final aggregate — never six per-pair passes") {
    val df = graft.operators.StatsOps.qCorrMatrix(spark, dir)
    df.collect()
    // count scans in the FINAL adaptive plan only (toString appends the
    // initial plan section, which would double-count the same scan)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"corr matrix must read lineitem exactly once:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected map-side partial moments before the shuffle")
    assert(!plan.contains("Join"), s"no join belongs in a one-pass matrix:\n$plan")
  }

  test("rolling distinct: the explode-to-buckets plan has NO join and " +
      "exactly one data-touching scan") {
    val plan = finalPlan(
      graft.operators.TimeSeriesOps.eventsRollingDistinct(spark, dir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"sliding distinct must not self-join per day:\n$plan")
    assert(plan.contains("Generate"), s"expected the sequence explode:\n$plan")
  }

  test("filtered vector search pushes the language predicate to the " +
      "documents scan, before any scoring") {
    val plan = finalPlan(
      graft.operators.SimilarityOps.simFilteredTopk(spark, dir))
    assert(plan.contains("EqualTo(lang,en)") || plan.contains("lang), en"),
      s"lang filter not pushed to the scan:\n$plan")
  }

  test("ANN-fed bitext margin and mutual-kNN: candidates come from a " +
      "cell-keyed equi-join of the staged IVF assignment — no cartesian, " +
      "no nested loop, no broadcast hint anywhere in the plan") {
    // the two queries that closed the r11 similarity whitelist: their
    // pair generation must stay cell-bounded (shuffle on cell) and the
    // margin/mutuality joins must stay hint-free (AQE's call — both
    // per-key mean/edge tables grow with the corpus)
    for (name <- Seq("sim_bitext_margin_ann", "sim_knn_mutual_ann")) {
      val df = graft.operators.SimilarityOps.queries(name)(spark, dir)
      val plan = finalPlan(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join:\n$plan")
      val logical = graft.operators.SimilarityOps.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(!logical.contains("ResolvedHint"),
        s"$name hint-forces a join strategy:\n$logical")
      assert(df.count() > 0, s"$name vacuous at ${TestSpark.sfDir}")
    }
  }

  test("curation_funnel scans documents once: survival flags + one " +
      "aggregate, not per-stage rescans") {
    // the r12 shape unioned five filtered aggregates and Spark does not
    // dedupe common subplans, so the corpus scanned 5x; the flag rewrite
    // must plan exactly one parquet scan of documents
    val plan = finalPlan(
      graft.operators.TextOps.queries("curation_funnel")(spark, dir))
    // count unique scan NODES via the formatted-mode detail headers
    // ("(n) Scan parquet") — the tree section repeats the operator name
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$plan")
  }

  test("fuzzy linkage collapses to the name catalog BEFORE the pair " +
      "sweep: the nested-loop sides are aggregates, not raw scans") {
    val plan = finalPlan(
      graft.operators.DedupOps.dedupFuzzyLinkage(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the bounded catalog cross:\n$plan")
    // both inputs to the pair join must pass through the distinct-name
    // aggregate; a raw-scan side would be the row-quadratic rewrite
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"pair sides must be catalog aggregates:\n$plan")
  }
}
