package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload <ingest|play> --seed <n> --seconds <s> --trace <0|1> --dir <work dir> --record <file>`.
  *
  * Prints the result object as the last stdout line: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The full run
  * record (both metric sets, box telemetry, check failures; with tracing,
  * spans and per-layer self time) goes to `--record`.
  */
object Main {
  /** Epoch nanoseconds minus System.nanoTime, to place epoch-stamped
    * listener events on the span clock. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Materialize.quietReleaseWarnings()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val st = if (trace) Some(new SparkTrace(spark)) else None
    st.foreach { s => s.register(); Trace.start(spark) }
    val c = new Ctx(spark, seed, seconds, dir, st)
    val box = Box.open()
    val spanT0 = System.nanoTime()
    try workload match {
      case "ingest" => Ingest.run(c)
      case "play" => Play.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        // A crashed workload is a failed run: report it and print no result.
        e.printStackTrace()
        System.err.println(s"perfbench: workload $workload failed: $e")
        sys.exit(3)
    }
    val telemetry = Box.close(box) ++ Seq("rss_peak_mb" -> Json.num(Box.rssPeakMb()),
      "heap_live_mb" -> Json.num(Jvm.liveHeapMb()))

    val spans = Trace.all
    if (trace) {
      Trace.selfMsByLayer(spans).toSeq.sortBy(_._1).foreach { case (l, ms) =>
        c.record += s"self_ms.$l" -> Json.num(ms)
      }
    }
    def metricsJson(m: Iterable[(String, Double)]) = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> trace.toString, "session_start_s" -> Json.num(sessionS),
      "attempted" -> c.attempted.toString, "failed" -> c.failed.toString, "wrong" -> c.wrong.toString,
      "problems" -> c.problems.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> metricsJson(c.e2e), "per_layer" -> metricsJson(c.layer),
      "telemetry" -> Json.obj(telemetry)) ++ c.record)
    opts.get("record").foreach { p =>
      Files.createDirectories(Paths.get(p).getParent)
      Files.write(Paths.get(p), (record + "\n").getBytes("UTF-8"))
      if (trace) Files.write(Paths.get(p.stripSuffix(".json") + ".spans.jsonl"),
        Trace.toJsonLines(spans, spanT0).toSeq.asJava)
    }
    val shown = if (trace) c.layer else c.e2e
    println(Json.obj(Seq(
      "correct" -> (c.wrong == 0).toString,
      "attempted" -> math.max(1L, c.attempted).toString,
      "failed" -> c.failed.toString,
      "metrics" -> metricsJson(shown))))
    System.out.flush()
    spark.stop()
    // Explicit exit: SqlGateway.Gateway.stop() leaves the gateway's
    // non-daemon handler pool running, which would keep the JVM alive.
    sys.exit(0)
  }
}
