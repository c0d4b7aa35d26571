package graft.perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, data: String, work: String, out: String,
                      plant: Boolean)

/** One checked operation as the result file records it. `kind` is
  * "timed" (feeds the end-to-end metrics), "traced" (ran with tracing on)
  * or "warm" (part of set-up); every kind counts as attempted. `block`
  * numbers the consecutive slices of the timed phase that throughput is
  * measured over (ten batches of a stream; one for the queries). */
final case class Op(name: String, kind: String, latS: Double, ok: Boolean, rows: Long,
                    block: Int = 0) {
  def json: Map[String, Any] =
    Map("name" -> name, "kind" -> kind, "lat_s" -> latS, "ok" -> ok, "rows" -> rows,
      "block" -> block)
}

/** What every workload reports back to `run.py`, which turns it into the
  * end-to-end metrics. `perLayer` and `spans` are filled on traced runs. */
final case class Outcome(setupS: Double, ops: Seq[Op], wallS: Double, heapMb: Double,
                         checks: Map[String, Any], perLayer: Map[String, Double],
                         extra: Map[String, Any], spans: Seq[Span])

final class Ctx(val args: Args) {
  private val jvmStartNs =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** Seconds since the JVM started: process start is where set-up begins. */
  def sinceStart(): Double = (System.nanoTime() - jvmStartNs) / 1e9

  def session(): SparkSession = {
    val s = graft.SparkUtil.configure(
      SparkSession.builder().master(s"local[${args.cores}]"), args.cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Log a progress line with the seconds since process start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${sinceStart()}%.2f s: $what")

  def path(rel: String): String = new java.io.File(args.work, rel).getPath

  /** Full collections, so every timed phase starts from the same heap. */
  def settleHeap(): Unit = (1 to 2).foreach(_ => System.gc())

  /** Driver heap in use after full collections, in MB. The collections are
    * spaced out so Spark's ContextCleaner can drop the broadcast and
    * shuffle blocks whose owners the previous collection freed. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(400) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The data-independent CPU probe `graft.Bench` records, timed once. */
  def probeS(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 28).selectExpr("sum(pmod(id * 2654435761, 1048576))").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Entry point of the benchmark JVM; `run.py` launches it with the input
  * already generated and turns the result file into the printed metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt, kv("data"), kv("work"), kv("out"),
      kv.get("plant").contains("1"))
    val ctx = new Ctx(args)
    val o = args.workload match {
      case "sax_family" => SaxFamily.run(ctx)
      case "sax_stream" => SaxStream.run(ctx)
      case w            => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val doc = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "setup_s" -> o.setupS, "ops" -> o.ops.map(_.json), "timed_wall_s" -> o.wallS,
      "retained_heap_mb" -> o.heapMb, "checks" -> o.checks,
      "per_layer" -> o.perLayer, "extra" -> o.extra, "spans" -> Trace.spansJson(o.spans))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out),
      mapper.writeValueAsString(doc))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
