package graft.perfbench

/** Evidence of host drag, measured from inside the JVM.
  *
  * The canary is fixed work, an integer-mixing loop and a strided sweep of
  * a 32 MB array, so its time moves only when the host takes CPU or
  * memory bandwidth away. Steal is the `/proc/stat` steal share over the
  * run, in cores; it misses co-tenant drag that the canary still sees.
  */
object Host {
  private val buf = new Array[Long](4 << 20)

  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    var s = 0L
    var pass = 0
    while (pass < 16) {
      var j = pass
      while (j < buf.length) { buf(j) += x; s += buf(j); j += 8 }
      pass += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (s == 42L) println("") // keeps the sweep live
    dt
  }

  /** (steal ticks, all ticks) of the whole host, or zeros if unreadable. */
  def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  def stealCores(a: (Long, Long), b: (Long, Long)): Double = {
    val total = b._2 - a._2
    if (total <= 0) 0.0
    else (b._1 - a._1).toDouble / total * Runtime.getRuntime.availableProcessors()
  }
}
