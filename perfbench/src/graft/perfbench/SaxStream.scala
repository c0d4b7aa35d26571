package graft.perfbench

import scala.collection.mutable

import graft.sax.SaxWindow
import graft.streaming.SaxStreaming
import graft.streaming.SaxStreaming.{SeriesEvent, WordOut}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `sax_stream`: `SaxStreaming.encodeStream` (the reference's append-driven
  * `sts_window`) fed fixed-size micro-batches from a `MemoryStream` by one
  * closed-loop client that waits for each batch (`processAllAvailable`).
  * The window geometry is the upper bound the reference documents
  * (n=4096, w=64, c=16); keys are Zipf-skewed, and about a fifth of the
  * values are NaN or ±Inf. Every emitted word is checked against a pure
  * single-threaded `SaxWindow` replay of the same stream. */
object SaxStream {
  val N = 4096
  val W = 64
  val C = 16
  val Keys = 100
  val BatchEvents = 3000
  /** Batches fed during set-up: the first ten batches still pay JIT and
    * code-generation warm-up. */
  val WarmBatches = 10
  /** Timed batches per throughput block. */
  val BlockBatches = 10
  private val ZipfS = 1.1

  /** The seeded stream: `batches` batches of `BatchEvents` events, event
    * ids and timestamps increasing in arrival order. Each key walks its
    * own level; a fifth of the values are NaN, +Inf or -Inf. */
  def generate(seed: Long, batches: Int): Seq[Array[SeriesEvent]] = {
    val rng = new java.util.SplittableRandom(seed)
    val cdf = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS)).scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    val level = Array.tabulate(Keys)(_ => rng.nextDouble() * 100.0)
    var id = 0L
    Seq.fill(batches) {
      Array.fill(BatchEvents) {
        val u = rng.nextDouble() * total
        val k = math.min(Keys - 1, cdf.search(u).insertionPoint)
        level(k) += rng.nextDouble() * 2.0 - 1.0
        val r = rng.nextDouble()
        val v =
          if (r < 0.10) Double.NaN
          else if (r < 0.15) Double.PositiveInfinity
          else if (r < 0.20) Double.NegativeInfinity
          else level(k) + rng.nextDouble() * 4.0 - 2.0
        id += 1
        SeriesEvent(k.toLong, id, 1704067200000000000L + id * 1000L, v)
      }
    }
  }

  def run(c: Ctx): Outcome = {
    val a = c.args
    // three timed batches (about 0.45 s each) per two seconds of run length
    val timedBatches = 3 * a.seconds / 2
    val phases = if (a.trace) 2 else 1
    val batches = generate(a.seed, WarmBatches + phases * timedBatches)
    val spark = c.session()
    import spark.implicits._
    val stream = MemoryStream[SeriesEvent](spark)
    val out = mutable.Map[Long, Array[WordOut]]()
    val sink = (ds: Dataset[WordOut], id: Long) => {
      val rows = ds.collect()
      out.synchronized { out(id) = rows }
    }
    val query = SaxStreaming.encodeStream(stream.toDS(), N, W, C)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", c.path("sax_stream_ckpt"))
      .start()
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None

    // replay oracle: one pure window per key, fed in arrival order
    val oracle = mutable.Map[Long, SaxWindow]()
    var replayNs = 0L
    var replayed = 0L
    var plantPending = a.plant
    def check(b: Int): Boolean = {
      val got = out.synchronized(out.remove(b.toLong)).getOrElse(Array.empty[WordOut])
      if (plantPending && got.nonEmpty) {
        got(0) = got(0).copy(word = got(0).word.reverse + "#")
        plantPending = false
      }
      val t0 = System.nanoTime()
      val want = batches(b).map { e =>
        e.eventId -> oracle.getOrElseUpdate(e.userId, new SaxWindow(N, W, C)).append(e.value)
      }.toMap
      replayNs += System.nanoTime() - t0
      replayed += batches(b).length
      got.length == want.size && got.forall(o => want.get(o.eventId).contains(o.word))
    }
    /** Feed batch `b` and wait for it: its start and end in nanoseconds. */
    def feed(b: Int): (Long, Long) = {
      val t0 = System.nanoTime()
      stream.addData(batches(b).toIndexedSeq)
      query.processAllAvailable()
      (t0, System.nanoTime())
    }

    val warm = (0 until WarmBatches).map { b => val (t0, t1) = feed(b); b -> (t1 - t0) / 1e9 }
    val setupS = c.sinceStart()
    val ops = mutable.ArrayBuffer[Op]()
    for ((b, s) <- warm) ops += Op(s"batch-$b", "warm", s, check(b), BatchEvents.toLong)
    c.settleHeap()

    // traced runs alternate an untraced and a traced batch; only the traced
    // one has the listener attached
    val tracedOps = mutable.ArrayBuffer[(Int, Double)]()
    for (i <- 0 until phases * timedBatches) {
      val b = WarmBatches + i
      val traced = a.trace && i % 2 == 1
      val (t0, t1) = tracer.filter(_ => traced).fold(feed(b))(_.listening(feed(b)))
      val lat = (t1 - t0) / 1e9
      val ok = check(b)
      if (traced) {
        tracedOps += b -> lat
        tracer.foreach(tr => tr.add("batch", s"batch-$b", 0L, tr.ms(t0), tr.ms(t1)))
      }
      ops += Op(s"batch-$b", if (traced) "traced" else "timed", lat, ok, BatchEvents.toLong,
        i / (phases * BlockBatches))
    }
    val wallS = ops.filter(_.kind == "timed").map(_.latS).sum
    val heapMb = c.retainedHeapMb()
    val progress = query.recentProgress.filter(_.batchId >= WarmBatches)
    query.stop()
    val checks = Map[String, Any]("wrong_batches" -> ops.count(!_.ok), "planted" -> a.plant)
    val extra = Map[String, Any]("batch_events" -> BatchEvents, "keys" -> Keys,
      "geometry" -> Seq(N, W, C))
    if (!a.trace)
      return Outcome(setupS, ops.toSeq, wallS, heapMb, checks, Map.empty,
        extra + ("probe_s" -> c.probeS(spark)), Nil)

    val tr = tracer.get
    val tracedIds = tracedOps.map(_._1.toLong).toSet
    val prog = progress.filter(p => tracedIds(p.batchId))
    for (p <- prog) {
      val root = tr.spans.find(_.op == s"batch-${p.batchId}").map(_.id).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs
      val trig = tr.add("trigger", s"batch-${p.batchId}", root, start,
        start + d.getOrDefault("triggerExecution", 0L))
      var t = start
      for (part <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
                       "addBatch", "commitOffsets") if d.containsKey(part)) {
        tr.add(part, s"batch-${p.batchId}", trig, t, t + d.get(part))
        t += d.get(part)
      }
    }
    tr.attachSparkSpans()
    val series = batches.flatten.groupBy(_.userId).toSeq.sortBy(_._1)
      .map(_._2.map(_.value).toArray)
    val kernels = Kernels.measure(series, N, W, C, tr)
    val spans = tr.spans.toSeq
    val ops2 = spans.filter(_.op != "kernels")
    val tracedWall = tracedOps.map(_._2).sum
    def dur(k: String) = prog.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum / 1e3
    val state = prog.flatMap(_.stateOperators.headOption)
    val perLayer = Map(
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.state_commit_s" -> state.map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_updated_rows" -> state.map(_.numRowsUpdated).sum.toDouble,
      "streaming.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "sax.replay_events_per_s" -> replayed / (replayNs / 1e9),
      "exec.between_jobs_s" -> Trace.betweenJobsS(ops2),
      "trace.cover_frac" -> Trace.coverFrac(ops2),
      "trace.overhead_frac" -> (tracedWall / wallS - 1.0)) ++
      Trace.execMetrics(tr, tracedWall, a.cores) ++
      (kernels - "sax.replay_events_per_s")
    Outcome(setupS, ops.toSeq, wallS, heapMb, checks, perLayer,
      extra + ("self_s" -> Trace.selfByName(ops2)), spans)
  }
}
