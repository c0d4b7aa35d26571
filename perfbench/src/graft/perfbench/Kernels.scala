package graft.perfbench

import graft.sax.{Sax, SaxWindow}

/** Direct calls into the `graft.sax` kernels on a workload's own series,
  * at the workload's own (n, w, c). Each kernel loops over the input for
  * at least `minNs` after one untimed warm loop. The replay throughput is
  * measured by each workload on its whole stream. */
object Kernels {

  /** Input caps that keep one kernel loop well under the timing window. */
  private val MaxWindows = 256
  private val MaxValues = 20000

  private def timed(minNs: Long)(loop: => Long): Double = {
    loop // JIT warm loop
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minNs) calls += loop
    (System.nanoTime() - t0).toDouble / math.max(1L, calls)
  }

  /** Single-threaded arrival-order replay: one `SaxWindow` per key, one
    * `append` per event. Returns events per second. */
  def replayEventsPerS(series: Seq[Array[Double]], n: Int, w: Int, c: Int): Double = {
    val t0 = System.nanoTime()
    var events = 0L
    for (s <- series) {
      val win = new SaxWindow(n, w, c)
      var i = 0
      while (i < s.length) { win.append(s(i)); i += 1 }
      events += s.length
    }
    events / ((System.nanoTime() - t0) / 1e9)
  }

  def measure(series: Seq[Array[Double]], n: Int, w: Int, c: Int,
              tracer: Tracer, minNs: Long = 300000000L): Map[String, Double] = {
    val windows = series.flatMap(_.grouped(n).filter(_.length == n)).take(MaxWindows)
    val values = series.iterator.flatten.take(MaxValues).toArray
    require(windows.nonEmpty && values.nonEmpty, "no series to run the kernels on")
    val words = windows.map(Sax.encodeSymbols(_, w, c))
    def k[A](name: String)(f: => A): A = tracer.span(s"kernel.$name", "kernels")(_ => f)
    val encode = k("encode")(timed(minNs) {
      windows.foreach(Sax.encode(_, w, c)); windows.size.toLong
    })
    val push = k("push")(timed(minNs) {
      val win = new SaxWindow(n, w, c)
      var i = 0
      while (i < values.length) { win.push(values(i)); i += 1 }
      values.length.toLong
    })
    val append = k("window_append")(timed(minNs) {
      val win = new SaxWindow(n, w, c)
      var i = 0
      while (i < values.length) { win.append(values(i)); i += 1 }
      values.length.toLong
    })
    val mindist = k("mindist")(timed(minNs) {
      var i = 1
      while (i < words.length) {
        Sax.mindistSymbols(words(i - 1), n.toLong, words(i), n.toLong, c); i += 1
      }
      (words.length - 1).toLong
    })
    Map("sax.encode_ns" -> encode, "sax.push_ns" -> push,
      "sax.window_append_ns" -> append, "sax.mindist_ns" -> mindist)
  }
}
