package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.streaming.CountOrTimeBatcher
import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.DataFrame

object Jvm {
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Heap still in use after a full collection: what the run retains
    * (caches, state), without the collector's timing in it. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Per-layer metrics of the traced run, named `<layer>.<metric>`; each is
  * computed from the listeners' snapshot of the measured window or from a
  * timed call into the layer's public functions. */
object Layers {
  private def p50(xs: Iterable[Double]) = Stats.median(xs.toSeq)

  private def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Catalyst, scheduler, block-manager and JVM numbers over the window,
    * per operation where the name says so. */
  def common(c: Ctx, s: SparkTrace#Snapshot, ops: Double, windowMs: Double, gcMs: Long): Unit = {
    val n = math.max(ops, 1.0)
    val l = c.layer
    l("catalyst.analysis_ms") = s.qes.map(_.analysisMs).sum / n
    l("catalyst.optimization_ms") = s.qes.map(_.optimizationMs).sum / n
    l("catalyst.planning_ms") = s.qes.map(_.planningMs).sum / n
    l("scheduler.jobs") = s.jobs.size / n
    l("scheduler.stages") = s.jobs.map(_.stages).sum / n
    l("scheduler.tasks") = s.jobs.map(_.tasks).sum / n
    l("scheduler.executor_run_ms") = s.jobs.map(_.runMs).sum / n
    l("scheduler.executor_cpu_ms") = s.jobs.map(_.cpuMs).sum / n
    l("scheduler.core_busy_ratio") = s.jobs.map(_.runMs).sum / math.max(1.0, windowMs * c.cores)
    l("scheduler.shuffle_read_bytes") = s.jobs.map(_.shuffleRead).sum / n
    l("scheduler.shuffle_write_bytes") = s.jobs.map(_.shuffleWrite).sum / n
    l("scheduler.spill_bytes") = s.jobs.map(_.spill).sum / n
    l("cache.blocks_added") = s.blocksAdded.toDouble
    l("cache.blocks_dropped") = s.blocksDropped.toDouble
    l("cache.storage_mb_end") = c.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / 1048576.0
    l("jvm.gc_ms") = gcMs.toDouble
    l("jvm.heap_used_mb_end") = Jvm.heapUsedMb()
    l("jvm.rss_peak_mb") = Box.rssPeakMb()
    c.record += "ops" -> Json.num(ops)
    c.record += "jobs_failed" -> s.jobs.count(!_.ok).toString
    // Micro-batches become spans; Spark jobs become spans under the span
    // that submitted them, the client span whose request id they carry, or
    // the micro-batch they ran in.
    def ns(ms: Long) = ms * 1000000L - Main.epochOffsetNs
    val byBatch = s.progress.map { p =>
      val id = Trace.nextId()
      val layer = if (p.name == "tf_maintenance") "index.batch" else "stream.batch"
      Trace.record(Trace.Span(id, 0L, "", layer, s"batch ${p.batchId}", ns(p.startMs), ns(p.endMs)))
      (p.runId, p.batchId) -> id
    }.toMap
    val byReq = Trace.all.filter(_.layer == "client").map(sp => sp.req -> sp.id).toMap
    s.jobs.foreach { j =>
      val batch = SparkTrace.BatchTag.findFirstMatchIn(j.desc)
        .flatMap(m => byBatch.get((m.group(1), m.group(2).toLong)))
      val parent = if (j.span != 0L) j.span else batch.getOrElse(byReq.getOrElse(j.req, 0L))
      val layer =
        if (j.group.startsWith("graft-gateway-search-")) "spark.gateway_search"
        else if (j.group.startsWith("graft-gateway-")) "spark.gateway_sql"
        else if (batch.isDefined) "spark.stream"
        else "spark"
      Trace.record(Trace.Span(Trace.nextId(), parent, j.req, layer, s"job ${j.id}",
        ns(j.startMs), ns(j.endMs)))
    }
  }

  /** WeatherFlatten over the run's payloads, timed in isolation. */
  def flatten(c: Ctx, payloads: Seq[String]): Unit = {
    import c.spark.implicits._
    val raw = payloads.toDF("value").persist()
    raw.count()
    val out = WeatherFlatten.apply(raw).count()
    val ms = (0 until 3).map(_ => timedMs(
      WeatherFlatten.apply(raw).write.format("noop").mode("overwrite").save()))
    raw.unpersist()
    c.layer("weather_flatten.rows_in") = payloads.size.toDouble
    c.layer("weather_flatten.rows_out") = out.toDouble
    c.layer("weather_flatten.malformed") = (payloads.size - out).toDouble
    c.layer("weather_flatten.ms_per_1k_rows") = p50(ms) / (payloads.size / 1000.0)
  }

  /** Warehouse.writeFact of one 90-row frame (median of five fresh
    * warehouses) and, when `bulk` is given, of those rows in one write. */
  def warehouseWrite(c: Ctx, small: Seq[String], bulk: Seq[String]): Unit = {
    import c.spark.implicits._
    def fact(ps: Seq[String]): DataFrame = {
      val f = WeatherFlatten.apply(ps.toDF("value")).localCheckpoint()
      f.count(); f
    }
    val f90 = fact(small)
    c.layer("warehouse.write_ms_90") =
      p50((0 until 5).map(i => timedMs(Warehouse.writeFact(f90, c.path(s"wh90-$i")))))
    if (bulk.nonEmpty) {
      val fb = fact(bulk)
      c.layer("warehouse.write_ms_bulk") = timedMs(Warehouse.writeFact(fb, c.path("whbulk")))
    }
  }

  /** Data files, files per month partition and bytes per row at run end. */
  def warehouseFiles(c: Ctx, warehouse: String): Unit = {
    val root = new java.io.File(warehouse)
    val months = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(Warehouse.PartitionCol + "="))
    val files = months.flatMap(m => Option(m.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val rows = Warehouse.readFact(c.spark, warehouse).count()
    c.layer("warehouse.files") = files.length.toDouble
    c.layer("warehouse.files_per_month") = files.length.toDouble / math.max(1, months.length)
    c.layer("warehouse.bytes_per_row") = files.map(_.length).sum.toDouble / math.max(1L, rows)
  }

  /** The trigger loop (StreamingQueryProgress.durationMs) and the flushes
    * of the count-or-time batcher in the burst blocks: `flushRows` holds
    * the rows of each step in the visible warehouse count. */
  def stream(c: Ctx, s: SparkTrace#Snapshot, puts: Seq[(Long, Long)], putBefore: Long,
      flushRows: Seq[Long]): Unit = {
    val ps = s.progress.filter(p => p.name.isEmpty && p.rows > 0).sortBy(_.endMs)
    def d(k: String) = p50(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    val l = c.layer
    l("stream.batches") = ps.size.toDouble
    l("stream.trigger_ms_p50") = d("triggerExecution")
    l("stream.add_batch_ms_p50") = d("addBatch")
    l("stream.wal_commit_ms_p50") = d("walCommit")
    l("stream.commit_offsets_ms_p50") = d("commitOffsets")
    l("stream.query_planning_ms_p50") = d("queryPlanning")
    l("stream.latest_offset_ms_p50") = d("latestOffset")
    // rows generated but not yet admitted, at each batch end; everything
    // put before the window was admitted before it began
    var consumed = putBefore
    val backlog = ps.map { p =>
      consumed += p.rows
      puts.filter(_._1 <= p.endMs).lastOption.map(_._2).getOrElse(0L) - consumed
    }
    l("stream.backlog_rows_max") = if (backlog.isEmpty) 0 else math.max(0L, backlog.max).toDouble
    l("batcher.flushes") = flushRows.size.toDouble
    l("batcher.rows_per_flush_p50") = p50(flushRows.map(_.toDouble))
  }

  /** CountOrTimeBatcher.add timed directly, median of five fresh batchers
    * (batch size 90, no age limit): adding 45 rows only stages them, and
    * adding 45 more trips the count and flushes all 90 into a warehouse.
    * stage = the first add; flush = the second add minus the first, i.e.
    * the extra cost of a batch that flushes. */
  def batcher(c: Ctx, payloads: Seq[String]): Unit = {
    import c.spark.implicits._
    val halves = payloads.grouped(45).take(2).map(_.toDF("value").persist()).toSeq
    halves.foreach(_.count())
    val runs = (0 until 5).map { i =>
      val wh = c.path(s"batcher-$i/warehouse")
      val b = new CountOrTimeBatcher(c.path(s"batcher-$i/staging"), 90L, Long.MaxValue)(
        Warehouse.writeFact(_, wh))
      val Seq(stage, withFlush) = halves.map(h => timedMs(b.add(WeatherFlatten.apply(h))))
      if (b.pendingRows != 0L) throw new IllegalStateException("the timed batcher did not flush")
      (stage, withFlush - stage)
    }
    halves.foreach(_.unpersist())
    c.layer("batcher.stage_ms_p50") = p50(runs.map(_._1))
    c.layer("batcher.flush_ms_p50") = p50(runs.map(_._2))
  }
}
