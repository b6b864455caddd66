package perfbench

import scala.collection.mutable
import graft.SparkEntry
import graft.operators.{DedupOps, SimilarityOps, StatsOps, TextOps}

/** A fixed set of batch queries of DedupOps, SimilarityOps, TextOps and
  * StatsOps, run once each in name order by one closed-loop client (all 98
  * take ~100 s on a 4-core host, too long to run and check in one run of
  * this benchmark). Each query is built, planned and fully written to the
  * `noop` sink; substrates the operators stage are cached per session, so
  * their cost lands on the first query that needs them. When checking is
  * on, every query then runs again, outside the timed spans, and its rows
  * are written for the DuckDB oracle comparison that run.py makes.
  */
object BatchOperators {

  val Modules: Seq[(String, Set[String])] = Seq(
    "Dedup" -> DedupOps.queries.keySet, "Similarity" -> SimilarityOps.queries.keySet,
    "Text" -> TextOps.queries.keySet, "Stats" -> StatsOps.queries.keySet)

  /** Chosen so that one pass and its check fit in a run: the ROADMAP's open
    * operator items text_ngram_novelty, q_dd_quantiles and text_repetition,
    * and the queries whose Exchange counts recent rounds cut
    * (dedup_exact_substr, sim_hybrid_rrf, sim_topk_bruteforce). NOTES.md
    * says why sim_mmr_rerank and text_gopher_rules are not among them.
    */
  val Queries: Seq[String] = Seq(
    "dedup_exact_substr", "sim_hybrid_rrf", "sim_topk_bruteforce",
    "text_ngram_novelty", "text_repetition", "q_dd_quantiles")

  def module(name: String): String = Modules.find(_._2(name)).map(_._1).getOrElse("")

  final case class Timed(name: String, build: Double, plan: Double, exec: Double,
      exchanges: Int, error: Option[String]) {
    def wall: Double = build + plan + exec
  }

  def run(c: Main.Conf, s: Session, t: Tracer): Main.Outcome = {
    val names = Queries.sorted
    val tables = Seq("documents", "embeddings", "events", "part", "orders", "lineitem")
    val (setupS, setupEach, _) = Stats.timeSetups(c.setupReps) { _ =>
      s.restart()
      tables.foreach(tb => s.spark.read.parquet(s"${c.data}/$tb.parquet").count())
    }
    Main.log("set up")
    s.exec.settle()
    s.exec.reset()
    val sc = s.spark.sparkContext

    val timed = mutable.ArrayBuffer.empty[Timed]
    val spanOf = mutable.Map.empty[String, Seq[Int]] // query -> build, plan, execute span ids
    val root = t.span(0, "workload batch_operators", "workload") { root =>
      names.foreach { name =>
        s.spark.catalog.clearCache()
        sc.setJobGroup(name, name)
        t.span(root, s"${module(name)}:$name", "operators") { qid =>
          var b = 0.0; var p = 0.0; var e = 0.0; var ex = 0
          var ids = Seq.empty[Int]
          def timedPart[T](label: String)(f: => T): (T, Double) = {
            val t0 = System.nanoTime()
            val r = t.span(qid, label, "operators") { id => ids :+= id; f }
            (r, (System.nanoTime() - t0) / 1e9)
          }
          val err = try {
            val (df, bs) = timedPart("build")(SparkEntry.queries(name)(s.spark, c.data)); b = bs
            val (plan, ps) = timedPart("plan")(df.queryExecution.executedPlan.toString); p = ps
            ex = "Exchange".r.findAllIn(plan).size
            e = timedPart("execute")(df.write.format("noop").mode("overwrite").save())._2
            None
          } catch { case x: Throwable => Some(s"${x.getClass.getSimpleName}: ${x.getMessage}") }
          spanOf(name) = ids
          timed += Timed(name, b, p, e, ex, err)
          System.err.println(f"[perfbench] $name%-32s build $b%.3f plan $p%.3f exec $e%.3f" +
            err.fold("")(" FAILED " + _))
        }
      }
      root
    }
    sc.clearJobGroup()
    s.exec.settle()
    val stages = s.exec.snapshot()
    Main.log("measured")
    val heapMb = s.heapMb()

    if (t.on) {
      val byId = t.all.map(sp => sp.id -> sp).toMap
      stages.filter(st => spanOf.contains(st.owner)).foreach { st =>
        val (a, z) = (st.submitMs * 1000000L, st.endMs * 1000000L)
        val parts = spanOf(st.owner).flatMap(byId.get)
        val parent = parts.find(sp => a >= sp.start && a <= sp.end).orElse(parts.lastOption)
        parent.foreach(p => t.record(p.id, s"stage ${st.id}: ${st.name}", "exec", a, z))
      }
    }

    Main.log("checking")
    // untimed: rows of every query that ran, for the oracle comparison
    val checkErrors = mutable.Map.empty[String, String]
    if (c.check) timed.filter(_.error.isEmpty).foreach { q =>
      sc.setJobGroup(s"check:${q.name}", q.name)
      try SparkEntry.queries(q.name)(s.spark, c.data).coalesce(1).write.mode("overwrite")
        .parquet(c.work.resolve(s"check/${q.name}").toString)
      catch { case x: Throwable => checkErrors(q.name) = x.getMessage }
      s.spark.catalog.clearCache()
    }
    sc.clearJobGroup()

    val walls = timed.map(_.wall * 1000).toSeq
    val tail = Stats.tailPct(walls.size)
    val total = timed.map(_.wall).sum
    val failedQueries = timed.count(_.error.isDefined).toLong
    val failures = Map(
      "queries_failed" -> failedQueries,
      "check_runs_failed" -> checkErrors.size.toLong,
      "task_failures" -> stages.map(_.failures).sum,
      "stages_aborted" -> stages.count(_.aborted).toLong)
    val e2e = Map(
      "setup_s" -> (setupS, "s", c.setupReps.toLong),
      "latency_p50_ms" -> (Stats.median(walls), "ms", walls.size.toLong),
      "latency_tail_ms" -> (Stats.pct(walls, tail), "ms", walls.size.toLong),
      "throughput_per_s" -> (timed.size / total, "1/s", walls.size.toLong),
      "busy_s" -> (total, "s", walls.size.toLong),
      "retained_heap_mb" -> (heapMb, "MB", 1L))
    val ops = Modules.map(_._1).flatMap { m =>
      val qs = timed.filter(q => module(q.name) == m)
      val st = stages.filter(x => qs.exists(_.name == x.owner))
      val single = st.filter(_.tasks == 1).map(_.maxTaskRows)
      Seq(
        s"ops.$m.wall_s" -> (qs.map(_.wall).sum, "s"),
        s"ops.$m.build_s" -> (qs.map(_.build).sum, "s"),
        s"ops.$m.plan_s" -> (qs.map(_.plan).sum, "s"),
        s"ops.$m.exec_s" -> (qs.map(_.exec).sum, "s"),
        s"ops.$m.task_cpu_s" -> (st.map(_.cpuNs).sum / 1e9, "s"),
        s"ops.$m.shuffle_bytes" -> (st.map(_.shuffleWrite).sum.toDouble, "bytes"),
        s"ops.$m.exchanges" -> (qs.map(_.exchanges).sum.toDouble, "count"),
        s"ops.$m.tasks" -> (st.map(_.tasks).sum.toDouble, "count"),
        s"ops.$m.single_task_rows_max" -> ((0L +: single).max.toDouble, "count"))
    }.toMap
    val execTotals = ExecListener.totals(stages.filter(x => spanOf.contains(x.owner)))
    Main.Outcome(timed.size.toLong, failedQueries + checkErrors.size + failures("task_failures") +
      failures("stages_aborted"), failures, e2e,
      ops ++ execTotals ++ SelfTime.report(t, root),
      Map("latency_tail_pct" -> tail, "setup_each_s" -> setupEach,
        "queries" -> timed.map(q => q.name -> Map("module" -> module(q.name),
          "wall_s" -> q.wall, "build_s" -> q.build, "plan_s" -> q.plan, "exec_s" -> q.exec,
          "exchanges" -> q.exchanges, "error" -> q.error)).toMap,
        "check_dir" -> (if (c.check) c.work.resolve("check").toString else ""),
        "oracles" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }
}
