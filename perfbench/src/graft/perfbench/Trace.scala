package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval: `op` is the id shared by every span of one timed
  * operation (query or micro-batch); times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** What the listener keeps of one finished task. */
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, overheadMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, input: Long,
                         spill: Long, failed: Boolean)

final case class JobRec(id: Int, group: String, phase: String, batch: String,
                        submit: Long, var end: Long, stages: Seq[Int])

/** Records every Spark job, stage and task. Jobs are tied to their
  * operation through the job group (or the streaming batch id) and to the
  * phase through a local property the benchmark sets. */
final class TaskLog extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stageTimes = scala.collection.mutable.Map[Int, (Long, Long)]()
  val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    synchronized {
      jobs += JobRec(e.jobId, prop("spark.jobGroup.id"), prop(TaskLog.PhaseKey),
        prop("streaming.sql.batchId"), e.time, e.time, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      synchronized { stageTimes(i.stageId) = (s, c) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    val rec =
      if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0,
        0, 0, 0, 0, failed = true)
      else {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, math.max(0L, (i.finishTime - i.launchTime) - busy),
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          failed = e.reason != Success)
      }
    synchronized { tasks += rec }
  }
}

object TaskLog {
  val PhaseKey = "perfbench.phase"
}

/** In-memory span store plus the listener; spans are written out once, at
  * the end of the run. The listener is attached only around traced
  * operations (`listening`), so untraced ones run without it. */
final class Tracer(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = ArrayBuffer[Span]()
  val log = new TaskLog
  /** The jobs and stages of traced operations, once attached. */
  val jobs = ArrayBuffer[JobRec]()
  val stages = scala.collection.mutable.Set[Int]()

  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  /** Run one traced operation with the listener attached. The bus is
    * drained before the listener is added and again before it is removed,
    * so it sees every event of `body` and none of other operations. The
    * caller's timed interval lies inside `body`. */
  def listening[A](body: => A): A = {
    PerfbenchBus.drain(sc)
    sc.addSparkListener(log)
    try body
    finally {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(log)
    }
  }

  def add(name: String, op: String, parent: Long, start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    synchronized { spans += Span(id, parent, name, op, start, end) }
    id
  }

  /** Time `body` as a span; the body receives the span's id for children. */
  def span[A](name: String, op: String, parent: Long = 0L)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally synchronized { spans += Span(id, parent, name, op, ms(t0), ms(System.nanoTime())) }
  }

  /** Hang the jobs, stages and tasks of each traced operation (one with
    * spans) under the span of its operation and phase. */
  def attachSparkSpans(): Unit = {
    val byOp = spans.groupBy(_.op)
    val tasksByStage = log.tasks.groupBy(_.stage)
    for (j <- log.jobs.sortBy(_.id);
         opSpans = byOp.getOrElse(j.group, byOp.getOrElse(s"batch-${j.batch}", Nil))
         if opSpans.nonEmpty) {
      jobs += j
      val root = opSpans.find(_.parent == 0L)
      // a streaming batch's jobs run inside its addBatch phase
      val parent = opSpans.find(_.name == j.phase).orElse(opSpans.find(_.name == "addBatch"))
        .orElse(root).map(_.id).getOrElse(0L)
      val op = root.map(_.op).getOrElse("")
      val jobId = add("job", op, parent, j.submit.toDouble, j.end.toDouble)
      for (s <- j.stages if stages.add(s); (st, en) <- log.stageTimes.get(s)) {
        val stageId = add("stage", op, jobId, st.toDouble, en.toDouble)
        for (t <- tasksByStage.getOrElse(s, Nil))
          add("task", op, stageId, t.launch.toDouble, t.finish.toDouble)
      }
    }
  }
}

object Trace {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e0 > reach) { covered += e0 - math.max(s0, reach); reach = e0 }
    }
    covered
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - unionLen(c, s.start, s.end))
    }.toMap
  }

  /** Self seconds summed per span name — the per-layer split of the run. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e3 }
  }

  /** Spans that only frame an operation: the timed call, its construct and
    * force halves, the micro-batch and its trigger. They explain nothing
    * about which layer the time went to. */
  val Frames: Set[String] = Set("query", "construct", "force", "batch", "trigger")

  /** Median over operations of the share of each operation's wall time
    * that layer spans (Catalyst phases, micro-batch phases, Spark jobs and
    * what they contain) cover; frame spans do not count. */
  def coverFrac(spans: Seq[Span]): Double = {
    val byOp = spans.groupBy(_.op)
    val roots = spans.filter(s => s.parent == 0L && s.dur > 0)
    if (roots.isEmpty) 0.0
    else Stats.median(roots.map { r =>
      val layers = byOp(r.op).filterNot(s => Frames(s.name)).map(s => (s.start, s.end))
      unionLen(layers, r.start, r.end) / r.dur
    })
  }

  /** Driver time of each operation that no Spark job interval covers. */
  def betweenJobsS(spans: Seq[Span]): Double = {
    val jobsByOp = spans.filter(_.name == "job").groupBy(_.op)
    spans.filter(_.parent == 0L).map { r =>
      val j = jobsByOp.getOrElse(r.op, Nil).map(s => (s.start, s.end))
      r.dur - unionLen(j, r.start, r.end)
    }.sum / 1e3
  }

  /** The Spark execution layer over the traced operations' jobs. */
  def execMetrics(tr: Tracer, wallS: Double, cores: Int): Map[String, Double] = {
    val t = tr.log.tasks.filter(x => tr.stages(x.stage))
    val run = t.map(_.runMs).sum / 1e3
    Map(
      "exec.jobs" -> tr.jobs.size.toDouble,
      "exec.stages" -> tr.stages.count(tr.log.stageTimes.contains).toDouble,
      "exec.tasks" -> t.size.toDouble,
      "exec.task_run_s" -> run,
      "exec.task_cpu_s" -> t.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> t.map(_.gcMs).sum / 1e3,
      "exec.core_busy" -> (if (wallS > 0) run / (wallS * cores) else 0.0),
      "exec.sched_delay_s" -> t.map(_.overheadMs).sum / 1e3,
      "exec.shuffle_write_bytes" -> t.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> t.map(_.shuffleRead).sum.toDouble,
      "exec.scan_bytes" -> t.map(_.input).sum.toDouble,
      "exec.spill_bytes" -> t.map(_.spill).sum.toDouble,
      "exec.failed_tasks" -> t.count(_.failed).toDouble)
  }

  def spansJson(spans: Seq[Span]): Seq[Map[String, Any]] =
    spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
