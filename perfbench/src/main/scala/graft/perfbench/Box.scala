package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Box-noise telemetry for the run record: CPU steal and busy shares from
  * /proc/stat deltas over the measured window, 1-minute load, co-resident
  * JVMs, cores and heap — so drift between two runs of identical code can
  * be attributed from the record alone. */
object Box {
  private def read(p: String): String = Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).getOrElse("")

  /** (total, idle+iowait, steal) jiffies from the aggregate cpu line. */
  def cpuTicks(): (Long, Long, Long) = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    def at(i: Int) = if (i < f.length) f(i) else 0L
    (f.take(8).sum, at(3) + at(4), at(7))
  }

  def load1(): Double = Try(read("/proc/loadavg").split(" ")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** Live `java` processes other than this JVM. */
  def otherJvms(): Int = Try {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().filter(p => p.pid() != self &&
      p.info().command().map[Boolean](c => c.endsWith("/java")).orElse(false)).count().toInt
  }.getOrElse(-1)

  final case class Window(t0: (Long, Long, Long), load0: Double, jvms0: Int)

  def open(): Window = Window(cpuTicks(), load1(), otherJvms())

  def close(w: Window): Seq[(String, String)] = {
    val (tot1, idle1, steal1) = cpuTicks()
    val dt = math.max(1L, tot1 - w.t0._1).toDouble
    val rt = Runtime.getRuntime
    Seq(
      "cpu_busy_share" -> Json.num(1.0 - (idle1 - w.t0._2) / dt),
      "cpu_steal_share" -> Json.num((steal1 - w.t0._3) / dt),
      "load1_start" -> Json.num(w.load0),
      "load1_end" -> Json.num(load1()),
      "other_jvms_start" -> w.jvms0.toString,
      "other_jvms_end" -> otherJvms().toString,
      "cores" -> rt.availableProcessors.toString,
      "heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0))
  }
}

/** Order statistics over samples. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 10) (100.0, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (100.0 * i / (s.size - 1), s(i))
    }

  /** Record fields for a timing: median, tail (see [[tail]]) and count. */
  def fields(name: String, xs: Seq[Double]): Seq[(String, String)] = {
    val (p, v) = tail(xs)
    Seq(s"${name}_p50_ms" -> Json.num(median(xs)), s"${name}_tail_ms" -> Json.num(v),
      s"${name}_tail_percentile" -> Json.num(p), s"${name}_samples" -> xs.size.toString)
  }
}
