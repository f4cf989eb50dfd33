package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: arguments, the session, what the workload
  * attempted and failed, and the metrics and record fields it produced. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val dir: String,
    val st: Option[SparkTrace]) {
  def trace: Boolean = st.isDefined
  val cores: Int = Runtime.getRuntime.availableProcessors

  var attempted = 0L
  /** Operations that failed: refused, errored, or answered wrongly. */
  var failed = 0L
  /** Outputs that the checks found wrong (a subset of the failures). */
  var wrong = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** End-to-end metrics, recorded in both modes (the printed set depends
    * on the mode). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics, recorded in the traced run. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra record fields (raw JSON values). */
  val record = mutable.ArrayBuffer.empty[(String, String)]

  def fail(what: String, n: Long = 1L): Unit = { failed += n; problems += what }

  def wrongOutput(what: String, n: Long = 1L): Unit = { wrong += n; fail(what, n) }

  def path(name: String): String = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    f.getAbsolutePath
  }

  /** Median of `n` timed set-ups, in seconds; every sample is recorded. */
  def setups[A](n: Int)(mk: Int => A)(discard: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (i <- 0 until n) {
      last.foreach(discard)
      val t0 = System.nanoTime()
      last = Some(Trace.span("workload", s"setup-$i")(mk(i)))
      times += (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = Stats.median(times.toSeq)
    record += "setup_samples_s" -> times.map(Json.num).mkString("[", ",", "]")
    last.get
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
