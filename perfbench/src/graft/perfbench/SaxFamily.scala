package graft.perfbench

import graft.queries.{AtRestTables, DedupQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Concat, Expression, In, InSet, Substring}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** `sax_family`: the paper's own operator surface, the 30 SAX queries, run
  * one after another by a single closed-loop client. Each query starts
  * from `graft.Bench`'s clean state (component memo invalidated, cache
  * cleared); the seed shuffles the order.
  *
  * Set-up is process start, session start and one untimed warm pass over
  * the 30 queries, which also builds every at-rest table they serve from.
  * The warm pass is the check's writer: it writes each query's rows the
  * way `graft.Verify` does, plus the oracle statements, and `run.py`
  * checks them against the DuckDB oracle with `tools/compare.py`.
  * (`Verify.main` itself cannot be called here: it stops the session.)
  * Like `graft.Verify`, the warm pass runs the queries one at a time and
  * clears the cache after each. */
object SaxFamily {

  val Queries: Seq[String] = Seq(
    "q01_sax_batch_encode", "q02_sax_window_encode", "q03_sax_numerosity",
    "q04_sax_mindist", "q05_sax_topk", "q06_sax_threshold", "q07_sax_word_join",
    "q08_sax_moments", "q09_sax_sparse", "q10_sax_mindist_ab", "q11_sax_paa",
    "q12_sax_runs", "q13_sax_prefix_search", "q14_sax_agg_encode",
    "q15_sax_multikey", "q16_sax_hires", "q17_sax_word_matrix",
    "q18_sax_props_series", "q19_sax_stream_replay", "q28_sax_weekly",
    "q61_salted_word_topk", "q77_sax_anomaly", "q78_bucketed_word_join",
    "q92_isax_adaptive_index", "q102_session_encode", "q206_sax_discord",
    "q209_sax_predictability", "q210_sax_motif", "q224_sax_saturation",
    "q228_sax_symbol_distribution")

  /** The queries' SAX geometry (n, w, c), for the kernel calls. */
  private val Geometry = (8, 4, 4)

  private final case class Detail(constructS: Double, executeS: Double,
                                  phases: Map[String, Double], pruneOut: Long,
                                  pruneIn: Long, pruneNodes: Int)

  def run(c: Ctx): Outcome = {
    val a = c.args
    val spark = c.session()
    val fns = Queries.map(n => n -> graft.SparkEntry.queries(n))
    writeAll(spark, fns, a.data, c.path("verify"))
    val setupS = c.sinceStart()
    c.mark("set-up done")
    val builds = AtRestTables.buildSeconds

    // one pass (about 10 s) per ten seconds of run length, each in its own
    // seeded order; a query's latency is its best pass, as in graft.Bench.
    // The first pass after the cold one still runs 10-25 % slower while the
    // JIT catches up. A traced run makes one pass.
    val rng = new scala.util.Random(a.seed)
    val passes = if (a.trace) 1 else math.max(1, a.seconds / 10)
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    c.settleHeap()
    // traced runs follow each query with a traced run of it, alternating
    // which of the two goes first so neither gains from the other's warm-up;
    // only the traced run has the listener attached
    val runs = for (p <- 0 until passes; ((name, fn), i) <- rng.shuffle(fns).zipWithIndex) yield {
      def plain = runOne(spark, s"op-$p-$i", name, fn, a.data, None)
      def traced = tracer.get.listening(runOne(spark, s"traced-$p-$i", name, fn, a.data, tracer))
      if (tracer.isEmpty) Seq(plain)
      else if (i % 2 == 0) Seq(plain, traced)
      else Seq(traced, plain)
    }
    val (plain, traced) = runs.flatten.partition(_._1.kind == "timed")
    c.mark("timed passes done")
    val wallS = plain.map(_._1.latS).sum
    val checks = Map[String, Any]("verify_dir" -> c.path("verify"))
    val extra = Map[String, Any]("atrest_build_s" -> builds, "passes" -> passes)
    if (!a.trace)
      return Outcome(setupS, plain.map(_._1), wallS, c.retainedHeapMb(), checks,
        Map.empty, extra + ("probe_s" -> c.probeS(spark)), Nil)

    val tr = tracer.get
    val tracedWall = traced.map(_._1.latS).sum
    tr.attachSparkSpans()
    val series = eventSeries(spark, a.data)
    val (n, w, k) = Geometry
    val kernels = Kernels.measure(series, n, w, k, tr) +
      ("sax.replay_events_per_s" -> Kernels.replayEventsPerS(series, n, w, k))
    val spans = tr.spans.toSeq
    val ops = spans.filter(_.op != "kernels")
    val d = traced.map(_._2)
    val phase = (p: String) => d.flatMap(_.phases.get(p)).sum
    val pruneIn = d.map(_.pruneIn).sum
    val perLayer = Map(
      "queries.construct_s" -> d.map(_.constructS).sum,
      "queries.construct_jobs" -> tr.jobs.count(_.phase == "construct").toDouble,
      "queries.execute_s" -> d.map(_.executeS).sum,
      "atrest.build_s" -> builds.values.sum,
      "atrest.builds" -> builds.size.toDouble,
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.prune_pass_frac" -> (if (pruneIn > 0) d.map(_.pruneOut).sum.toDouble / pruneIn else 0.0),
      "plan.prune_nodes" -> d.map(_.pruneNodes).sum.toDouble,
      "exec.between_jobs_s" -> Trace.betweenJobsS(ops),
      "trace.cover_frac" -> Trace.coverFrac(ops),
      "trace.overhead_frac" -> (tracedWall / wallS - 1.0)) ++
      Trace.execMetrics(tr, tracedWall, a.cores) ++ kernels
    Outcome(setupS, (plain ++ traced).map(_._1), wallS, c.retainedHeapMb(), checks, perLayer,
      extra + ("self_s" -> Trace.selfByName(ops)), spans)
  }

  /** The warm pass: run every query once, in order, and write its rows as
    * `graft.Verify` does, beside `oracle_sql.json` and `_failures.json` in
    * Verify's layout, so `tools/compare.py` reads the directory unchanged. */
  private def writeAll(spark: SparkSession, fns: Seq[(String, (SparkSession, String) => DataFrame)],
                       dir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.Map[String, String]()
    for ((name, fn) <- fns) {
      try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(800)
      }
      spark.catalog.clearCache()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    def write(file: String, m: Map[String, String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, file),
        mapper.writeValueAsString(m))
    write("oracle_sql.json", fns.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap)
    write("_failures.json", failures.toMap)
  }

  /** One query from the clean state: construction (the query function
    * call) then `force`, `graft.Bench`'s full count of the physical rows. */
  private def runOne(spark: SparkSession, tag: String, name: String,
                     fn: (SparkSession, String) => DataFrame, dir: String,
                     tracer: Option[Tracer]): (Op, Detail) = {
    val sc = spark.sparkContext
    DedupQueries.invalidateComponentMemo()
    spark.catalog.clearCache()
    sc.setJobGroup(tag, name)
    sc.setLocalProperty(TaskLog.PhaseKey, "construct")
    val t0 = System.nanoTime()
    var t1 = t0
    var df: DataFrame = null
    val rows =
      try {
        df = fn(spark, dir)
        t1 = System.nanoTime()
        sc.setLocalProperty(TaskLog.PhaseKey, "force")
        df.queryExecution.toRdd.count()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name threw: $e")
          -1L
      }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    sc.clearJobGroup()
    sc.setLocalProperty(TaskLog.PhaseKey, null)
    val op = Op(name, if (tracer.isEmpty) "timed" else "traced", (t2 - t0) / 1e9,
      rows >= 0, rows)
    val detail = tracer match {
      case Some(tr) if df != null =>
        val root = tr.add("query", tag, 0L, tr.ms(t0), tr.ms(t2))
        val con = tr.add("construct", tag, root, tr.ms(t0), tr.ms(t1))
        val frc = tr.add("force", tag, root, tr.ms(t1), tr.ms(t2))
        val phases = df.queryExecution.tracker.phases
        for ((p, s) <- phases if Set("analysis", "optimization", "planning")(p)) {
          val parent = if (s.startTimeMs < tr.ms(t1)) con else frc
          tr.add(s"plan.$p", tag, parent, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
        val (out, in, nodes) = prunedRows(df.queryExecution.executedPlan)
        Detail((t1 - t0) / 1e9, (t2 - t1) / 1e9,
          phases.map { case (p, s) => p -> s.durationMs / 1e3 }, out, in, nodes)
      case _ => Detail((t1 - t0) / 1e9, (t2 - t1) / 1e9, Map.empty, 0L, 0L, 0)
    }
    (op, detail)
  }

  private def kids(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case r: ReusedExchangeExec    => Seq(r.child)
    case o                        => o.children
  }) ++ p.subqueries

  private def outRows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Rows produced by the nearest node below `p` that counts its rows. */
  private def inRows(p: SparkPlan): Long =
    outRows(p).getOrElse(kids(p).headOption.map(inRows).getOrElse(0L))

  /** `MindistPruneRule`'s injected conjuncts: a one-character substring of
    * the word (or a pair of them) tested for membership. */
  private def isPrune(cond: Expression): Boolean = cond.exists {
    case In(v, _)    => probe(v)
    case InSet(v, _) => probe(v)
    case _           => false
  }

  private def probe(v: Expression): Boolean = v match {
    case _: Substring => true
    case Concat(cs)   => cs.nonEmpty && cs.forall(_.isInstanceOf[Substring])
    case _            => false
  }

  /** (rows out, rows in, node count) over the executed plan's Filter and
    * nested-loop Join nodes that carry the rule's conjuncts. */
  private def prunedRows(plan: SparkPlan): (Long, Long, Int) = {
    def walk(p: SparkPlan): Seq[(Long, Long)] = {
      val here = p match {
        case f: FilterExec if isPrune(f.condition) =>
          Seq((outRows(f).getOrElse(0L), inRows(f.child)))
        case j: BroadcastNestedLoopJoinExec if j.condition.exists(isPrune) =>
          Seq((outRows(j).getOrElse(0L), inRows(j.left) * inRows(j.right)))
        case j: CartesianProductExec if j.condition.exists(isPrune) =>
          Seq((outRows(j).getOrElse(0L), inRows(j.left) * inRows(j.right)))
        case _ => Nil
      }
      here ++ kids(p).flatMap(walk)
    }
    val found = walk(plan)
    (found.map(_._1).sum, found.map(_._2).sum, found.size)
  }

  /** Each user's event values in arrival order: the workload's own series. */
  private def eventSeries(spark: SparkSession, dir: String): Seq[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/events.parquet")
      .select($"user_id", $"event_id", $"value").as[(Long, Long, Double)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_._2).map(_._3) }
  }
}
