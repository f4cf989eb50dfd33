package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{CountOrTimeBatcher, WeatherStreamJob}
import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The paper's own path, open loop: raw payloads land as files in the
  * stream's input directory (the broker-less seam of
  * `WeatherStreamJob.fileRawStream`, admitting at most one ≤90-row file per
  * micro-batch as `maxOffsetsPerTrigger = 90` does on Kafka), then
  * `WeatherStreamJob.startCountOrTime` flattens, stages and flushes them
  * into the warehouse.
  *
  * The measured window alternates [[Blocks]] times between two phases, so
  * both metrics sample the whole run rather than one stretch of it:
  *  - bursts: the reference producer's cycle — all 82 cities as one burst —
  *    once every 3 s (≈27 rows/s) with the batcher's max age at 1 s (see
  *    [[CycleMs]]). A burst's freshness is the time from when it was due at
  *    the generator until a `Warehouse.readFact` count shows all of its rows
  *    (visibility is offset-ordered, so the row count maps rows to bursts);
  *    every row of a burst becomes visible with the same flush, so a burst
  *    is one sample.
  *  - drain: a fixed backlog of 90-row files released at once; its drain
  *    time runs from the trigger of its first micro-batch to the end of its
  *    last one, each of which flushes on count.
  */
object Ingest {
  /** Burst period and batcher max age. The reference sleeps 300 s between
    * producer cycles against a 300 s max age, so its period exceeds the age
    * by the cycle's own duration and every burst flushes on age. Here a
    * burst's micro-batch takes 1–3 s, so the age test must clear it with
    * margin: a 3 s period against a 1 s age flushes every burst at its own
    * batch. An age near the period puts the test on a coin flip and makes
    * freshness bimodal (measured: a burst either flushes at once, about
    * 2 s, or waits a whole cycle, about 5 s). */
  val CycleMs = 3000L
  val MaxAgeMs = 1000L
  /** Burst blocks and drain blocks, alternating. */
  val Blocks = 2
  /** Unmeasured backlog files drained before the window: after the set-up
    * the JIT is still speeding the path up (measured on 4 cores: micro-batch
    * time fell from about 1.5-2.3 s to 1.0-1.4 s over twelve batches; with
    * three warm-up files the first drain block of a run was 10-25% slower
    * than the second), and a drain runs its batches back to back, so it
    * warms faster than spaced bursts. */
  val WarmupFiles = 8
  val PollMs = 20L
  /** Payload `dt` of burst i: the reference producer's 5-minute cycle. */
  def cycleDt(i: Int): Long = 1700000000L + 300L * i

  final class Pipeline(val root: String, val query: StreamingQuery, val batcher: CountOrTimeBatcher) {
    val input: String = s"$root/input"
    val warehouse: String = s"$root/warehouse"
    /** (time, cumulative rows) after every input file. */
    val puts = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Write one input file atomically (hidden temp name, then rename). */
    def put(lines: Seq[String]): Unit = {
      val n = puts.size + 1
      val tmp = Paths.get(input, f".part-$n%05d.tmp")
      Files.write(tmp, lines.asJava)
      Files.move(tmp, Paths.get(input, f"part-$n%05d.json"), StandardCopyOption.ATOMIC_MOVE)
      puts += ((System.currentTimeMillis(), puts.lastOption.map(_._2).getOrElse(0L) + lines.size))
    }
    def stop(): Unit = { query.stop(); query.awaitTermination(30000L) }
  }

  /** Rows readable through Warehouse.readFact (0 before the first flush). */
  def visible(spark: SparkSession, warehouse: String): Long =
    try Warehouse.readFact(spark, warehouse).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** Committed data files under the month partitions: a cheap change
    * detector, so the poller runs a readFact count only after a flush. */
  def dataFiles(warehouse: String): Int =
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(Warehouse.PartitionCol + "="))
      .map(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      .sum

  /** The next wall-clock time at `offsetMs` past a whole second, at least
    * `minMs` from now. ProcessingTime triggers fire on whole multiples of
    * their interval, so inputs due there always wait the same time. */
  def alignedAfter(minMs: Long, offsetMs: Long = 500L): Long = {
    val t = System.currentTimeMillis() + minMs
    t - t % 1000L + 1000L + offsetMs
  }

  /** Sleep until wall-clock `epochMs`; returns System.nanoTime then. */
  private def sleepUntil(epochMs: Long): Long = {
    val wait = epochMs - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
    System.nanoTime()
  }

  /** Trigger start and end of a micro-batch, epoch ms. */
  private def batchSpan(p: StreamingQueryProgress): (Long, Long) = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    (start, start + p.durationMs.get("triggerExecution").longValue)
  }

  /** Visibility poller: (System.nanoTime, visible rows, rows added)
    * whenever the count moves. It runs during burst blocks only, so its
    * count jobs stay out of the drains; on each activation it first takes
    * the current count as its base. */
  final class Poller(spark: SparkSession, warehouse: String) extends Thread("perfbench-visibility") {
    setDaemon(true)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    @volatile var last: Long = -1L
    @volatile private var active = false
    @volatile private var rebase = false
    @volatile var stopped = false
    def activate(): Unit = { last = -1L; rebase = true; active = true }
    def deactivate(): Unit = active = false
    override def run(): Unit = {
      var files = -1
      while (!stopped) {
        if (active && rebase) {
          files = dataFiles(warehouse)
          last = try visible(spark, warehouse) catch { case _: Exception => -1L }
          rebase = last < 0L
        } else if (active) {
          val f = dataFiles(warehouse)
          if (f != files) {
            val t = System.nanoTime()
            val n = try visible(spark, warehouse) catch { case _: Exception => last }
            if (n != last) { seen.add((t, n, n - last)); last = n }
            files = f
          }
        }
        Thread.sleep(PollMs)
      }
    }
    /** Block until the poller has seen `rows` visible rows. */
    def await(rows: Long, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (last < rows && System.currentTimeMillis() < end) Thread.sleep(PollMs)
      last >= rows
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val payloads = mutable.ArrayBuffer.empty[String] // every generated event of the kept pipeline
    var k = 0L
    def events(n: Int, dt: Long): Seq[String] = (0 until n).map { i =>
      val p = Gen.payload(c.seed, k, (k % Gen.Cities).toInt, dt); k += 1; p
    }
    def validCount(ps: Seq[String]): Long =
      ps.indices.count(i => !Gen.isMalformed(c.seed, k - ps.size + i)).toLong
    /** `n` well-formed payloads: a backlog file of them holds exactly the
      * batcher's count threshold, so every drain batch flushes on count. */
    def wellFormed(n: Int, dt: Long): Seq[String] = {
      while (Gen.isMalformed(c.seed, k)) k += 1
      val first = events(1, dt)
      if (n == 1) first else first ++ wellFormed(n - 1, dt)
    }

    // Set-up: a fresh pipeline to its first queryable result (one 90-row
    // file, drained and flushed).
    val pipe = c.setups(3) { i =>
      val root = c.path(s"ingest-$i")
      new java.io.File(s"$root/input").mkdirs()
      val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(s"$root/input")
      val (q, b) = Trace.span("stream", "startCountOrTime")(WeatherStreamJob.startCountOrTime(
        raw, s"$root/warehouse", s"$root/checkpoint", s"$root/staging", maxAgeMs = MaxAgeMs))
      val p = new Pipeline(root, q, b)
      payloads.clear(); k = 0L
      val warm = events(90, cycleDt(0))
      payloads ++= warm
      p.put(warm)
      q.processAllAvailable()
      b.flushNow(spark)
      if (visible(spark, p.warehouse) != validCount(warm))
        throw new IllegalStateException("set-up rows are not readable after the flush")
      p
    }(_.stop())
    var expected = visible(spark, pipe.warehouse) // valid rows put so far
    val poller = new Poller(spark, pipe.warehouse)
    poller.start()

    // More drain files than bursts: a drain batch is one rate sample and
    // takes about 1 s, a burst is one freshness sample and takes 3 s.
    // Freshness includes fixed waits (trigger, listing) and spreads less
    // from run to run than the drain rate, which is all work.
    val burstsPerBlock = math.max(1, c.seconds / 7)
    val filesPerBlock = math.max(2, c.seconds / 2)
    var burstNo = 0
    val burstFreshMs = mutable.ArrayBuffer.empty[Double] // measured bursts
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val measuredBatches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var drainRows = 0L
    var drainMs = 0.0
    val drainBlockRates = mutable.ArrayBuffer.empty[Double]
    var firstBacklog: Seq[String] = Nil
    val warmupBatchMs = mutable.ArrayBuffer.empty[Double]

    /** Open-loop bursts every CycleMs, then wait until all are visible. */
    def burstBlock(n: Int): Unit = Trace.span("workload", "bursts") {
      poller.activate()
      val lastBatch = Option(pipe.query.lastProgress).map(_.batchId).getOrElse(-1L)
      // The first burst is due once the previous flush has aged out, like
      // every later one.
      val start = alignedAfter(MaxAgeMs)
      val due = (0 until n).map { i =>
        val dueMs = start + i * CycleMs
        val dueNs = sleepUntil(dueMs)
        val burst = events(Gen.Cities, cycleDt(1 + burstNo))
        burstNo += 1
        payloads ++= burst
        Trace.span("generator", "burst")(pipe.put(burst))
        lateMs += (System.currentTimeMillis() - dueMs).toDouble
        expected += validCount(burst)
        (dueNs, expected)
      }
      if (!poller.await(expected, 2 * CycleMs)) {
        // A burst that missed its age flush waits for the next add; bring
        // it out the way a graceful shutdown would.
        Trace.span("stream", "processAllAvailable")(pipe.query.processAllAvailable())
        Trace.span("batcher", "flushNow")(pipe.batcher.flushNow(spark))
        if (!poller.await(expected, 30000L)) c.wrongOutput("burst rows never became visible")
      }
      poller.deactivate()
      val obs = poller.seen.asScala.toSeq
      due.foreach { case (dueNs, rows) =>
        obs.find(_._2 >= rows).foreach(o => burstFreshMs += (o._1 - dueNs) / 1e6)
      }
      measuredBatches ++= pipe.query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
    }

    /** Release a backlog of 90-row files at once and drain it. */
    def drainBlock(files: Int, measured: Boolean): Unit = Trace.span("workload", if (measured) "drain" else "warm-up") {
      val backlog = (0 until files).map(_ => wellFormed(90, cycleDt(1 + burstNo)))
      if (firstBacklog.isEmpty) firstBacklog = backlog.head
      val lastBatch = Option(pipe.query.lastProgress).map(_.batchId).getOrElse(-1L)
      backlog.foreach { b => payloads ++= b; pipe.put(b) }
      expected += backlog.map(_.size).sum
      Trace.span("stream", "processAllAvailable")(pipe.query.processAllAvailable())
      Trace.span("batcher", "flushNow")(pipe.batcher.flushNow(spark))
      val batches = pipe.query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
      val spans = batches.map(batchSpan)
      val rows = batches.map(_.numInputRows).sum
      if (rows != backlog.map(_.size).sum) c.wrongOutput(s"drain admitted $rows rows of ${backlog.map(_.size).sum}")
      if (measured) {
        val ms = (spans.map(_._2).max - spans.map(_._1).min).toDouble
        drainRows += rows
        drainMs += ms
        drainBlockRates += rows / (ms / 1000.0)
        measuredBatches ++= batches
      } else warmupBatchMs ++= batches.map(_.durationMs.get("triggerExecution").doubleValue)
    }

    drainBlock(WarmupFiles, measured = false)
    c.st.foreach(_.reset())
    val gc0 = Jvm.gcMs()
    val t0Wall = System.currentTimeMillis()
    val putBefore = pipe.puts.last._2
    for (_ <- 0 until Blocks) {
      burstBlock(burstsPerBlock)
      drainBlock(filesPerBlock, measured = true)
    }
    poller.stopped = true
    poller.join()
    val windowMs = (System.currentTimeMillis() - t0Wall).toDouble
    val gcMs = Jvm.gcMs() - gc0
    val snap = c.st.map(_.snapshot())
    pipe.stop()
    if (visible(spark, pipe.warehouse) != expected)
      c.wrongOutput(s"warehouse holds ${visible(spark, pipe.warehouse)} rows, expected $expected")

    c.e2e("latency_ms") = Stats.median(burstFreshMs.toSeq)
    c.e2e("rate_per_s") = drainRows / (drainMs / 1000.0)
    c.record ++= Stats.fields("burst_fresh", burstFreshMs.toSeq) ++ Seq(
      "burst_fresh_ms" -> burstFreshMs.map(Json.num).mkString("[", ",", "]"),
      "generator_late_ms_p50" -> Json.num(Stats.median(lateMs.toSeq)),
      "generator_late_ms_max" -> Json.num(if (lateMs.isEmpty) 0 else lateMs.max),
      "batch_ms_p50" -> Json.num(Stats.median(measuredBatches.map(_.durationMs.get("triggerExecution").doubleValue).toSeq)),
      "warmup_batch_ms" -> warmupBatchMs.map(Json.num).mkString("[", ",", "]"),
      "batch_ms" -> measuredBatches.map(_.durationMs.get("triggerExecution").toString).mkString("[", ",", "]"),
      "drain_rows" -> drainRows.toString,
      "drain_ms" -> Json.num(drainMs),
      "drain_block_rows_per_s" -> drainBlockRates.map(Json.num).mkString("[", ",", "]"))

    // Output check: every valid generated row exactly once, and the
    // content equals one batch flatten over the same payloads (ignoring
    // the two ingest-time stamps).
    import spark.implicits._
    val stamps = Seq("event_date", "event_time", Warehouse.PartitionCol)
    val got = Warehouse.readFact(spark, pipe.warehouse).drop(stamps: _*)
    val want = WeatherFlatten.apply(payloads.toSeq.toDF("value")).drop(stamps: _*)
    val cols = want.columns.toSeq
    val g = got.select(cols.map(col): _*)
    val lost = want.exceptAll(g).count()
    val extra = g.exceptAll(want).count()
    c.attempted = payloads.size.toLong
    if (lost > 0) c.wrongOutput(s"$lost generated rows missing from the warehouse", lost)
    if (extra > 0) c.wrongOutput(s"$extra warehouse rows duplicated or unexpected", extra)

    snap.foreach { s =>
      Layers.common(c, s, ops = s.progress.count(_.rows > 0).toDouble, windowMs, gcMs)
      Layers.stream(c, s, pipe.puts.toSeq, putBefore, poller.seen.asScala.toSeq.map(_._3))
      Layers.batcher(c, firstBacklog)
      Layers.flatten(c, payloads.toSeq)
      Layers.warehouseWrite(c, payloads.take(90).toSeq, payloads.toSeq)
      Layers.warehouseFiles(c, pipe.warehouse)
    }
  }
}
