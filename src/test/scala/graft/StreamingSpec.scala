package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.{EventStreams, WeatherStreamJob}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics (SURVEY.md §2.9): ingest → flatten →
  * checkpointed warehouse append, event-time windows under watermark,
  * streaming dedup, typed running state.
  */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("weather stream: raw JSON micro-batches land in the partitioned warehouse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val warehouse = tmp("graft_wh")
    // Data before start: AvailableNow snapshots available offsets at query
    // start, so post-start addData is a race.
    input.addData(
      """{"name":"Moscow","main":{"temp":20.5},"sys":{"country":"RU"}}""",
      """{"name":"Kazan","main":{"temp":15.25}}""",
      """{broken""")
    val q = WeatherStreamJob.start(
      input.toDF(), warehouse, tmp("graft_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    val back = spark.read.parquet(warehouse)
    assert(back.count() == 2) // malformed dropped
    assert(back.columns.contains("event_month"))
    val t = back.filter(col("city_name") === "Moscow")
      .select(col("temperature").cast("string")).head().getString(0)
    assert(t == "20.50")
  }

  test("dead-letter path quarantines malformed payloads; listener counts progress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new WeatherStreamJob.IngestStatsListener
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[String]
      val dlq = tmp("graft_dlq")
      input.addData("""{"name":"Moscow","main":{"temp":5.0}}""", """{oops""", """also bad""")
      val q = WeatherStreamJob.start(
        input.toDF(), tmp("graft_wh_dlq"), tmp("graft_ckpt_dlq"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        deadLetterPath = Some(dlq))
      val qid = q.id
      q.processAllAvailable()
      q.stop()
      // Listener events are delivered asynchronously — poll until drained.
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot(qid)._2 < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val quarantined = spark.read.text(dlq).collect().map(_.getString(0)).sorted
      assert(quarantined.toSeq == Seq("""also bad""", """{oops"""))
      val (batches, rows) = listener.snapshot(qid)
      assert(batches >= 1 && rows == 3)
    } finally spark.streams.removeListener(listener)
  }

  test("JDBC sink seam writes micro-batches through a real JDBC driver") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.streaming.JdbcSink.Config(
      url = "jdbc:derby:memory:graftjdbc;create=true", table = "weather_fact")
    // The option seam mirrors the reference's connection settings
    // (clickhouse_db.py: max_execution_time=60, batched insert, no dedup).
    val o = graft.streaming.JdbcSink.options(cfg)
    assert(o("batchsize") == "90" && o("queryTimeout") == "60" &&
      o("isolationLevel") == "NONE" && o("dbtable") == "weather_fact")

    val input = MemoryStream[String]
    input.addData(
      """{"name":"Moscow","main":{"temp":20.5},"sys":{"country":"RU"}}""",
      """{"name":"Kazan","main":{"temp":15.25}}""",
      """{broken""")
    val q = graft.streaming.JdbcSink.start(
      input.toDF(), cfg, tmp("graft_jdbc_ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    // pushDownPredicate off: Derby can't compare CLOB-mapped strings in
    // SQL, so keep the verification filter on the Spark side.
    val back = spark.read.format("jdbc")
      .options(Map("url" -> cfg.url, "dbtable" -> cfg.table,
        "pushDownPredicate" -> "false")).load()
    assert(back.count() == 2) // malformed dropped, both rows through JDBC
    val t = back.filter(col("city_name") === "Moscow")
      .select(col("temperature").cast("string")).head().getString(0)
    assert(t == "20.50")
  }

  test("idempotent JDBC mode: a replayed batch leaves no duplicates") {
    import spark.implicits._
    val cfg = graft.streaming.JdbcSink.Config(
      url = "jdbc:derby:memory:graftjdbc_eo;create=true", table = "facts_eo")
    def readBack() = spark.read.format("jdbc")
      .options(Map("url" -> cfg.url, "dbtable" -> cfg.table,
        "pushDownPredicate" -> "false")).load()

    val b7 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.streaming.JdbcSink.writeBatchIdempotent(b7, cfg, batchId = 7L)
    assert(readBack().count() == 2)

    // forced replay of batch 7 (the crash-between-commit-and-checkpoint
    // window): the re-insert must first wipe its own earlier rows
    graft.streaming.JdbcSink.writeBatchIdempotent(b7, cfg, batchId = 7L)
    assert(readBack().count() == 2, "replayed batch duplicated rows")

    // and a replay that carries MORE rows (source replays are supersets
    // when the batch was cut short) converges to the replayed content
    val b7full = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    graft.streaming.JdbcSink.writeBatchIdempotent(b7full, cfg, batchId = 7L)
    assert(readBack().count() == 3)

    // a DIFFERENT batch appends normally
    graft.streaming.JdbcSink.writeBatchIdempotent(
      Seq((9L, "z")).toDF("id", "v"), cfg, batchId = 8L)
    val rows = readBack().collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(rows.head.fieldIndex(
      graft.streaming.JdbcSink.BatchIdCol))).sorted.toSeq == Seq(7L, 7L, 7L, 8L))
  }

  test("count-or-time batcher flushes at the row threshold, on age, and on shutdown") {
    import spark.implicits._
    var now = 0L
    var flushes = Seq.empty[Long]
    val batcher = new graft.streaming.CountOrTimeBatcher(
      tmp("graft_staging"), batchSize = 90L, maxAgeMs = 300000L, clock = () => now)(
      df => flushes :+= df.count())

    def feed(n: Int): Unit = batcher.add((1 to n).toDF("v"))

    feed(40) // below both thresholds
    assert(flushes.isEmpty && batcher.pendingRows == 40)
    feed(60) // 100 >= 90 → one flush of everything staged
    assert(flushes == Seq(100L) && batcher.pendingRows == 0)

    feed(10)
    now += 300001L // age threshold trips on the next arrival
    feed(1)
    assert(flushes == Seq(100L, 11L))

    feed(5) // graceful shutdown flushes the remainder (ST8)
    batcher.flushNow(spark)
    assert(flushes == Seq(100L, 11L, 5L) && batcher.pendingRows == 0)
  }

  test("count-or-time batcher drops empty micro-batch deltas (idle stream stays clean)") {
    import spark.implicits._
    val dir = tmp("graft_staging_empty")
    val batcher = new graft.streaming.CountOrTimeBatcher(dir)(_ => ())
    // an idle stream: many empty micro-batches (watermark ticks)
    (1 to 5).foreach(_ => batcher.add(Seq.empty[Int].toDF("v")))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltas = if (fs.exists(p)) fs.listStatus(p).length else 0
    assert(deltas == 0, s"empty deltas accumulated: $deltas")
    assert(batcher.pendingRows == 0)
    // and a real batch afterwards still stages/flushes normally
    batcher.add((1 to 3).toDF("v"))
    assert(batcher.pendingRows == 3)
  }

  test("count-or-time batcher computes each micro-batch exactly once") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("batch_evals")
    val batcher = new graft.streaming.CountOrTimeBatcher(
      tmp("graft_staging_once"), batchSize = 1000L, maxAgeMs = Long.MaxValue)(_ => ())
    val batch = spark.range(10).map { i => acc.add(1); i }.toDF("v")
    batcher.add(batch)
    // The old count()-then-write path evaluated every row twice (20); the
    // batcher must evaluate the batch exactly once.
    assert(acc.value == 10L, s"micro-batch rows evaluated ${acc.value} times / 10")
    assert(batcher.pendingRows == 10)
  }

  test("count-or-time batcher recovers the pending count from staging after restart") {
    import spark.implicits._
    val staging = tmp("graft_staging_recover")
    var flushes = Seq.empty[Long]
    val first = new graft.streaming.CountOrTimeBatcher(
      staging, batchSize = 90L, maxAgeMs = Long.MaxValue)(df => flushes :+= df.count())
    first.add((1 to 40).toDF("v")) // staged, below threshold
    assert(first.pendingRows == 40 && flushes.isEmpty)
    // "Restart": a fresh batcher over the same staging dir must see the 40
    // replay-surviving rows, not start its counter at 0.
    val second = new graft.streaming.CountOrTimeBatcher(
      staging, batchSize = 90L, maxAgeMs = Long.MaxValue)(df => flushes :+= df.count())
    second.add((1 to 60).toDF("v")) // 40 + 60 ≥ 90 → flush of ALL staged rows
    assert(flushes == Seq(100L) && second.pendingRows == 0)
  }

  test("count-or-time batcher recovers past a crash-junk staging tree") {
    import spark.implicits._
    // A crash during a delta write leaves staging NON-EMPTY but with zero
    // committed data: an uncommitted _temporary tree and an empty delta
    // dir. Recovery must treat this as 0 staged rows (pruning the junk),
    // not feed it to spark.read.parquet (schema inference throws there,
    // wedging every subsequent add()).
    val staging = tmp("graft_staging_crash")
    val crashed = new java.io.File(s"$staging/delta-crashed0000/_temporary/0")
    assert(crashed.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${crashed.getPath}/part-00000"), Array[Byte](1, 2, 3))
    assert(new java.io.File(s"$staging/delta-empty000000").mkdirs())
    var flushes = Seq.empty[Long]
    val batcher = new graft.streaming.CountOrTimeBatcher(
      staging, batchSize = 90L, maxAgeMs = Long.MaxValue)(df => flushes :+= df.count())
    batcher.add((1 to 10).toDF("v")) // must not throw on recovery
    assert(batcher.pendingRows == 10 && flushes.isEmpty)
    batcher.add((1 to 80).toDF("v")) // 10 + 80 ≥ 90 → flush of real rows only
    assert(flushes == Seq(90L) && batcher.pendingRows == 0)
  }

  test("count-or-time ingest: warehouse sees nothing until flush, everything after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val warehouse = tmp("graft_wh_cot")
    input.addData(
      """{"name":"Moscow","main":{"temp":1.0}}""",
      """{"name":"Kazan","main":{"temp":2.0}}""")
    val (q, batcher) = WeatherStreamJob.startCountOrTime(
      input.toDF(), warehouse, tmp("graft_ckpt_cot"), tmp("graft_staging_cot"),
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    // 2 rows < 90: still staged, the warehouse is untouched...
    assert(batcher.pendingRows == 2)
    val wf = new java.io.File(warehouse).listFiles()
    assert(wf == null || wf.isEmpty)
    // ...until the graceful-shutdown flush lands them as ONE batch (ST8).
    batcher.flushNow(spark)
    assert(spark.read.parquet(warehouse).count() == 2)
  }

  test("windowed totals emit per event-time window under watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedTotals(events, win = "5 minutes")
      .writeStream.format("memory").queryName("win_tot").outputMode("update").start()

    input.addData(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 00:07:00"), "view", 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_tot")
      .select(col("window_start").cast("string"), col("event_type"), col("n"), col("total"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains(("2024-01-01 00:00:00", "click", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 00:05:00", "view", 1L, 5.0)))
  }

  test("stream-stream event-time join: interval attribution, late-data drop, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = EventStreams.attributedPurchases(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id", "value"))
      .writeStream.format("memory").queryName("attr_join").outputMode("append").start()

    def joined(): Set[(Long, Long, Long)] = spark.table("attr_join")
      .select("user_id", "purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // user 1: click 10:00 → purchase 10:10 (inside the 30-min window);
    // user 2: purchase with NO click; user 4: click 09:00 → purchase
    // 09:45 (45 min — outside the window, must not attribute)
    clicks.addData(
      (100L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (101L, Timestamp.valueOf("2024-01-01 09:00:00"), 4L))
    purchases.addData(
      (200L, Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 9.0),
      (201L, Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 5.0),
      (202L, Timestamp.valueOf("2024-01-01 09:45:00"), 4L, 7.0))
    q.processAllAvailable()
    assert(joined() == Set((1L, 200L, 100L)),
      s"only the in-window pair attributes: ${joined()}")

    // state before the watermark advance: both sides buffered
    val buffered = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(buffered > 0, "the interval join must hold state for buffered rows")

    // advance event time far past every buffered row + window + watermark,
    // on BOTH sides (the join watermark is the min of the two inputs)
    clicks.addData((110L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L))
    purchases.addData((210L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L, 1.0))
    q.processAllAvailable()
    // one more batch so eviction (planned against the ADVANCED watermark)
    // runs and reports its metrics
    clicks.addData((111L, Timestamp.valueOf("2024-01-01 13:01:00"), 9L))
    q.processAllAvailable()
    val afterAdvance = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(afterAdvance < buffered + 3,
      s"watermark advance must evict expired join state: $buffered -> $afterAdvance")

    // late data beyond the watermark: a click at 10:09 for user 2's old
    // purchase arrives after the watermark passed 10:09 + window — it
    // must be DROPPED, not create a new attribution
    clicks.addData((120L, Timestamp.valueOf("2024-01-01 10:09:00"), 2L))
    q.processAllAvailable()
    q.stop()
    assert(!joined().exists(_._3 == 120L),
      s"late click beyond the watermark must not attribute: ${joined()}")

    // leftOuter: the unattributed purchase emits with a NULL click once
    // the watermark proves no click can arrive
    val clicks2 = MemoryStream[(Long, Timestamp, Long)]
    val purchases2 = MemoryStream[(Long, Timestamp, Long, Double)]
    val q2 = EventStreams.attributedPurchases(
        clicks2.toDF().toDF("event_id", "ts", "user_id"),
        purchases2.toDF().toDF("event_id", "ts", "user_id", "value"),
        joinType = "leftOuter")
      .writeStream.format("memory").queryName("attr_join_outer").outputMode("append").start()
    clicks2.addData((300L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
    purchases2.addData(
      (400L, Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 9.0),
      (401L, Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 5.0))
    q2.processAllAvailable()
    clicks2.addData((310L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L))
    purchases2.addData((410L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L, 1.0))
    q2.processAllAvailable()
    // an extra empty-ish batch lets the outer side emit its null rows
    clicks2.addData((311L, Timestamp.valueOf("2024-01-01 13:01:00"), 9L))
    q2.processAllAvailable()
    q2.stop()
    val outer = spark.table("attr_join_outer")
      .select("user_id", "purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(outer.contains((1L, 400L, 300L)), s"attributed row missing: $outer")
    assert(outer.contains((2L, 401L, -1L)),
      s"unattributed purchase must emit with null click after the watermark: $outer")
  }

  test("streaming near-dup banding: duplicate content loses all its bands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog while counting prime numbers all afternoon"
    val textB = "completely different content about spark structured streaming watermarks and stateful operators here"
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.novelBands(input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("novel_bands").outputMode("append").start()

    input.addData((1L, Timestamp.valueOf("2024-01-01 00:00:00"), textA))
    q.processAllAvailable()
    input.addData(
      (2L, Timestamp.valueOf("2024-01-01 00:01:00"), textA), // exact near-dup: every band collides
      (3L, Timestamp.valueOf("2024-01-01 00:01:00"), textB)) // novel content
    q.processAllAvailable()
    q.stop()

    val perDoc = spark.table("novel_bands").groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.getOrElse(1L, 0L) == 4L, s"first doc keeps all bands: $perDoc")
    assert(!perDoc.contains(2L), s"duplicate doc loses every band: $perDoc")
    assert(perDoc.getOrElse(3L, 0L) == 4L, s"novel doc keeps all bands: $perDoc")
  }

  test("transformWithState: per-user type counts accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider; scope
    // the conf to this query and restore after (other streaming specs run
    // on the default HDFS-backed provider).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val q = EventStreams.userTypeCounts(input.toDS())
        .writeStream.format("memory").queryName("user_type_counts")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("tws_counts").toString)
        .start()
      input.addData((1L, "view"), (1L, "view"), (2L, "click"))
      q.processAllAvailable()
      input.addData((1L, "view"), (1L, "click"), (2L, "click"))
      q.processAllAvailable()
      q.stop()
      // Update mode: keep the LAST emission per (user, type) — the running
      // totals must reflect both batches' state.
      val out = spark.table("user_type_counts").groupBy("user_id", "event_type")
        .agg(max("n").as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out((1L, "view")) == 3L, s"user 1 views: $out")
      assert(out((1L, "click")) == 1L, s"user 1 clicks: $out")
      assert(out((2L, "click")) == 2L, s"user 2 clicks: $out")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: counts continue exactly across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("tws_restart").toString
      val outDir = Files.createTempDirectory("tws_restart_out").toString
      val input = MemoryStream[(Long, String)]
      // foreachBatch parquet sink, NOT format("memory"): the memory sink
      // rejects recovery from an existing checkpoint, and checkpoint
      // recovery is exactly what this test exercises.
      def start() = EventStreams.userTypeCounts(input.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.TypeCount],
            id: Long) =>
          b.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
            .write.mode("append").parquet(outDir)
          ()
        }
        .start()

      val q1 = start()
      input.addData((1L, "view"), (1L, "view"), (2L, "click"))
      q1.processAllAvailable()
      q1.stop() // simulated kill: the RocksDB state lives in the checkpoint

      // Fresh query object, SAME checkpoint: the restored MapState must
      // continue the totals exactly — no reset, no double count.
      val q2 = start()
      input.addData((1L, "view"), (2L, "click"), (2L, "purchase"))
      q2.processAllAvailable()
      q2.stop()
      // update-mode emissions: the latest n per (user, type) is the total
      val out = spark.read.parquet(outDir)
        .groupBy("user_id", "event_type")
        .agg(org.apache.spark.sql.functions.max("n").as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out((1L, "view")) == 3L, s"restored count must continue: $out")
      assert(out((2L, "click")) == 2L, s"restored count must continue: $out")
      assert(out((2L, "purchase")) == 1L, s"new type starts fresh: $out")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: TTL evicts idle per-user state between batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofMillis(200))
      val ckpt = Files.createTempDirectory("tws_ttl").toString
      val outDir = Files.createTempDirectory("tws_ttl_out").toString
      // AvailableNow incarnations, NOT processAllAvailable: in
      // ProcessingTime time mode the TTL machinery schedules timer
      // batches, so a continuous query never quiesces for
      // processAllAvailable. Each incarnation drains what is queued and
      // terminates; the TTL expiry timestamps live in the checkpointed
      // state and the second incarnation's batch time is > expiry.
      // foreachBatch parquet sink: restartable from the checkpoint (the
      // memory sink is not), with the batch id kept for per-incarnation
      // assertions.
      def drain(): Unit = {
        val q = EventStreams.userTypeCounts(input.toDS(), ttl)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.TypeCount],
              id: Long) =>
            b.withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
              .write.mode("append").parquet(outDir)
            ()
          }
          .start()
        q.awaitTermination(120000)
        q.stop()
      }
      input.addData((1L, "view"), (1L, "view"))
      drain()
      Thread.sleep(1000) // > TTL: user 1's map entries expire
      input.addData((1L, "view"))
      drain()
      val byBatch = spark.read.parquet(outDir)
        .select("batch_id", "n")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the first incarnation's batch emitted n=2; the post-TTL batch must
      // restart at n=1 (state evicted), NOT continue to 3
      assert(byBatch.size == 2, s"expected one emission per batch: $byBatch")
      val (firstBatch, lastBatch) = (byBatch.keys.min, byBatch.keys.max)
      assert(byBatch(firstBatch) == 2L,
        s"pre-TTL batch must count both events; got $byBatch")
      assert(byBatch(lastBatch) == 1L,
        s"TTL must evict the idle count between batches; got $byBatch")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming decontamination flags benchmark-overlapping docs at arrival") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    implicit val sqlCtx = spark.sqlContext
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val novelText = "one two three four five six seven eight nine ten eleven twelve"
    // Static bench shingle set (what q63 derives from the eval tables).
    val bench = Seq((1000L, benchText)).toDF("bench_doc", "text")
      .select(col("bench_doc"),
        explode(array_distinct(transform(shingles(split(normText(col("text")), " ")), h => hex60(h)))).as("s"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.contaminatedAtIngest(
        input.toDF().toDF("doc_id", "ts", "text"), bench)
      .writeStream.format("memory").queryName("decont_stream").outputMode("append").start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:10"), benchText),   // full overlap
      (2L, Timestamp.valueOf("2024-01-01 00:00:20"), novelText))   // zero overlap
    q.processAllAvailable()
    // advance the watermark past the window so the append-mode agg emits
    input.addData((3L, Timestamp.valueOf("2024-01-01 02:00:00"), novelText))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("decont_stream")
      .select("doc_id", "bench_doc", "n_shared")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1000L, 10L)), out.mkString(","))
  }

  test("RAG chunking emits identical chunks on a stream as in batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ("alpha " * 40).trim),              // 40 tokens → 2 chunks
      (2L, "short doc only five tokens here"), // 1 chunk
      (3L, ("beta gamma " * 30).trim))         // 60 tokens → 3 chunks
    val batch = operators.CorpusOps.chunkRows(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted
    val input = MemoryStream[(Long, String)]
    val q = operators.CorpusOps.chunkRows(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream").outputMode("append").start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunk_stream").collect().map(_.toString).sorted
    assert(batch.nonEmpty && streamed.toSeq == batch.toSeq)
    assert(batch.length == 6, s"expected 2+1+3 chunks, got ${batch.length}")
  }

  test("CDC chunking emits identical chunks on a stream as in batch") {
    // cdcChunkRows is the same pure-per-row contract as chunkRows — the
    // identical expression runs over a stream unchanged (no watermark, no
    // state), so the shift-robust chunker slots into streaming ingest.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ("alpha bravo charlie delta echo " * 8).trim),
      (2L, "short doc only five tokens here"),
      (3L, ("foxtrot golf hotel india juliet kilo " * 6).trim))
    val batch = operators.CorpusOps.cdcChunkRows(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted
    val input = MemoryStream[(Long, String)]
    val q = operators.CorpusOps.cdcChunkRows(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cdc_stream").outputMode("append").start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cdc_stream").collect().map(_.toString).sorted
    assert(batch.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("stratified sampler keeps the same rows on a stream as in batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val fracs = Map("en" -> 300000L, "zh" -> 700000L)
    val rows = (0L until 200L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "fr"))
    val batchKept = rows.toDF("doc_id", "lang")
      .filter(operators.TrainPipe.stratifiedKeep(col("doc_id"), col("lang"), fracs))
      .collect().map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "lang")
      .filter(operators.TrainPipe.stratifiedKeep(col("doc_id"), col("lang"), fracs))
      .writeStream.format("memory").queryName("strat_sample").outputMode("append").start()
    input.addData(rows.take(100): _*)
    q.processAllAvailable()
    input.addData(rows.drop(100): _*) // replay-independent: membership is row-local
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("strat_sample").collect().map(_.getLong(0)).toSet
    assert(batchKept.nonEmpty && streamKept == batchKept)
    // and the per-stratum rates actually differ (the sampler samples)
    val keptEn = rows.filter(r => r._2 == "en" && batchKept(r._1)).size.toDouble /
      rows.count(_._2 == "en")
    val keptFr = rows.filter(r => r._2 == "fr" && batchKept(r._1)).size.toDouble /
      rows.count(_._2 == "fr")
    assert(keptEn < 0.6 && keptFr == 1.0, s"en=$keptEn fr=$keptFr")
  }

  test("dropDuplicatesWithinWatermark dedupes replayed event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
    val q = EventStreams.dedupedEvents(events)
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()

    input.addData((1L, Timestamp.valueOf("2024-01-01 00:00:00")))
    q.processAllAvailable()
    input.addData((1L, Timestamp.valueOf("2024-01-01 00:00:30")), // dup id, replayed
                  (2L, Timestamp.valueOf("2024-01-01 00:01:00")))
    q.processAllAvailable()
    q.stop()

    assert(spark.table("dedup_stream").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("checkpoint restart resumes from committed offsets without reprocessing") {
    import java.nio.file.{Files => JFiles, Paths}
    val srcDir = tmp("graft_src")
    val warehouse = tmp("graft_wh_restart")
    val ckpt = tmp("graft_ckpt_restart")
    def writeFile(name: String, lines: String*): Unit =
      JFiles.write(Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))

    writeFile("batch1.json", """{"name":"Moscow","main":{"temp":1.0}}""",
                              """{"name":"Kazan","main":{"temp":2.0}}""")
    val q1 = WeatherStreamJob.start(
      WeatherStreamJob.fileRawStream(spark, srcDir), warehouse, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q1.awaitTermination()
    assert(spark.read.parquet(warehouse).count() == 2)

    // New query object, same checkpoint: only the new file is processed —
    // the WAL's committed offsets survive the restart (ST2/ST8).
    writeFile("batch2.json", """{"name":"Omsk","main":{"temp":3.0}}""")
    val q2 = WeatherStreamJob.start(
      WeatherStreamJob.fileRawStream(spark, srcDir), warehouse, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination()

    val cities = spark.read.parquet(warehouse).select("city_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(cities == Seq("Kazan", "Moscow", "Omsk")) // no duplicates
  }

  test("stream-static enrichment joins each batch against a broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val dim = Seq(("Moscow", 55.75), ("Kazan", 55.79)).toDF("city", "lat")
    val q = EventStreams.enrichWithDim(input.toDF().toDF("city", "temp"), dim, "city")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    input.addData(("Moscow", 21.0), ("Atlantis", 9.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched").collect()
      .map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(out("Moscow").contains(55.75))
    assert(out("Atlantis").isEmpty) // left join keeps unknown keys
  }

  test("raw archive tees (value, topic) batches into topic-partitioned JSON") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val dir = tmp("graft_archive")
    val q = WeatherStreamJob.startRawArchive(
      input.toDF().toDF("value", "topic"), dir, tmp("graft_archive_ckpt"))
    input.addData(("""{"name":"Moscow"}""", "weather_topic_1"),
                  ("""{"name":"Kazan"}""", "weather_topic_2"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.columns.contains("topic")) // partition column round-trips
  }

  test("flatMapGroupsWithState emits a session once the gap closes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.closedSessions(input.toDS(), gapMs = 60 * 1000)
      .writeStream.format("memory").queryName("closed_sessions").outputMode("append").start()

    // Two bursts 10 minutes apart: the first session closes when the
    // second burst arrives in a later batch.
    input.addData(
      EventStreams.UserEvent(7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      EventStreams.UserEvent(7L, Timestamp.valueOf("2024-01-01 00:00:30"), 2.0))
    q.processAllAvailable()
    input.addData(EventStreams.UserEvent(7L, Timestamp.valueOf("2024-01-01 00:10:00"), 3.0))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("closed_sessions").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
                 r.getAs[Long]("n_events")))
    assert(sessions.toSeq == Seq(("2024-01-01 00:00:00.0", 2L)))
  }

  test("mapGroupsWithState keeps running per-city counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.CityReading]
    val q = EventStreams.runningCityStats(input.toDS())
      .writeStream.format("memory").queryName("city_stats").outputMode("update").start()

    input.addData(EventStreams.CityReading("Moscow", 10.0), EventStreams.CityReading("Moscow", 12.0))
    q.processAllAvailable()
    input.addData(EventStreams.CityReading("Moscow", 14.0))
    q.processAllAvailable()
    q.stop()

    val last = spark.table("city_stats").filter(col("n") === 3).collect()
    assert(last.length == 1 && last.head.getAs[Double]("last_temp") == 14.0)
  }

  test("weather stream evaluates each micro-batch row once per trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val acc = spark.sparkContext.longAccumulator("stream_row_evals")
    val input = MemoryStream[String]
    // writeFact runs two actions on the batch (its month count, then the
    // write); without the persist each trigger would scan the source twice
    val raw = input.toDS().map { v => acc.add(1); v }.toDF("value")
    val q = WeatherStreamJob.start(raw, tmp("graft_wh_once"), tmp("graft_ckpt_once"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData("""{"name":"Moscow","main":{"temp":1.0}}""",
        """{"name":"Kazan","main":{"temp":2.0}}""", """{broken""")
      q.processAllAvailable()
      assert(acc.value == 3L, s"first trigger evaluated ${acc.value} rows / 3")
      input.addData("""{"name":"Omsk","main":{"temp":3.0}}""",
        """{"name":"Tomsk","main":{"temp":4.0}}""")
      q.processAllAvailable()
      assert(acc.value == 5L, s"second trigger evaluated ${acc.value - 3} rows / 2")
    } finally q.stop()
  }

  test("count-or-time batcher: a batch that trips the count alone is flushed, never staged") {
    import spark.implicits._
    val staging = tmp("graft_staging_direct")
    val acc = spark.sparkContext.longAccumulator("direct_batch_evals")
    def stagedNow = Option(new java.io.File(staging).list()).toSeq.flatten
    var flushes = Seq.empty[(Long, Long)]
    var stagedAtFlush = Seq.empty[String]
    val batcher = new graft.streaming.CountOrTimeBatcher(staging, 90L, Long.MaxValue, () => 0L,
      (df: org.apache.spark.sql.DataFrame, rows: Long) => {
        stagedAtFlush ++= stagedNow
        flushes :+= ((df.count(), rows))
      })
    batcher.add(spark.range(100).map { i => acc.add(1); i }.toDF("v"))
    assert(flushes == Seq((100L, 100L)) && batcher.pendingRows == 0)
    assert(acc.value == 100L, s"micro-batch rows evaluated ${acc.value} times / 100")
    assert(stagedAtFlush.isEmpty && stagedNow.isEmpty,
      s"a flushing batch wrote staging deltas: ${stagedAtFlush.mkString(", ")}")
  }

  test("count-or-time batcher: 40 staged rows plus a 60-row batch give one 100-row flush") {
    import spark.implicits._
    val staging = tmp("graft_staging_union")
    var flushes = Seq.empty[(Long, Long)]
    val batcher = new graft.streaming.CountOrTimeBatcher(staging, 90L, Long.MaxValue, () => 0L,
      (df: org.apache.spark.sql.DataFrame, rows: Long) => flushes :+= ((df.count(), rows)))
    batcher.add((1 to 40).toDF("v"))
    assert(flushes.isEmpty && batcher.pendingRows == 40)
    batcher.add((41 to 100).toDF("v"))
    assert(flushes == Seq((100L, 100L)) && batcher.pendingRows == 0)
    val left = Option(new java.io.File(staging).list()).getOrElse(Array.empty[String])
    assert(left.isEmpty, s"staging kept ${left.mkString(", ")} after the flush")
  }

  test("count-or-time batcher: a failed flush leaves the batch unstaged, so a replay adds it once") {
    import spark.implicits._
    val staging = tmp("graft_staging_failed_flush")
    var storeUp = false
    var flushes = Seq.empty[Long]
    val batcher = new graft.streaming.CountOrTimeBatcher(staging, 90L, Long.MaxValue, () => 0L,
      (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (storeUp) flushes :+= df.count() else throw new RuntimeException("store down"))
    batcher.add((1 to 40).toDF("v"))
    val batch = (41 to 100).toDF("v")
    intercept[RuntimeException](batcher.add(batch))
    assert(batcher.pendingRows == 40 && flushes.isEmpty)
    val staged = spark.read.option("recursiveFileLookup", "true").parquet(staging).count()
    assert(staged == 40L, s"staging holds $staged rows after the failed flush / 40")
    // the source replays the uncommitted micro-batch
    storeUp = true
    batcher.add(batch)
    assert(flushes == Seq(100L) && batcher.pendingRows == 0)
  }

  test("count-or-time ingest: staged rows and the batch that trips the count land as one append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val warehouse = tmp("graft_wh_cot_union")
    val (q, batcher) = WeatherStreamJob.startCountOrTime(
      input.toDF(), warehouse, tmp("graft_ckpt_cot_union"), tmp("graft_staging_cot_union"),
      batchSize = 3L, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData("""{"name":"Moscow","main":{"temp":1.0}}""",
        """{"name":"Kazan","main":{"temp":2.0}}""")
      q.processAllAvailable()
      assert(batcher.pendingRows == 2 && new java.io.File(warehouse).list().isEmpty)
      // the staged parquet rows and the in-memory batch share one flush
      input.addData("""{"name":"Omsk","main":{"temp":3.0}}""",
        """{"name":"Tomsk","main":{"temp":4.5}}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(batcher.pendingRows == 0)
    val back = graft.weather.Warehouse.readFact(spark, warehouse)
    assert(back.select("city_name").as[String].collect().sorted.toSeq ==
      Seq("Kazan", "Moscow", "Omsk", "Tomsk"))
    assert(back.filter(col("city_name") === "Tomsk")
      .select(col("temperature").cast("string")).as[String].head() == "4.50")
  }

  test("count-or-time ingest: a flushing one-file micro-batch runs count and flush, a staging one count and stage, with no shuffle") {
    val input = tmp("graft_cot_jobs_in")
    val warehouse = tmp("graft_wh_cot_jobs")
    var n = 0
    def put(cities: String*): Unit = {
      n += 1
      val tmpFile = java.nio.file.Paths.get(input, s".f$n.tmp")
      Files.write(tmpFile, cities.map(c => s"""{"name":"$c","main":{"temp":1.0}}""")
        .mkString("\n").getBytes("UTF-8"))
      Files.move(tmpFile, java.nio.file.Paths.get(input, s"f$n.json"))
    }
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(input)
    // the default trigger: a micro-batch starts once input lands
    val (q, batcher) = WeatherStreamJob.startCountOrTime(raw, warehouse,
      tmp("graft_ckpt_cot_jobs"), tmp("graft_staging_cot_jobs"), batchSize = 3L)
    def batchJobs(body: => Unit) = {
      val jobs = jobsDuring(body).filter(_.group == q.runId.toString)
      (jobs.map(_.desc.split(": ").drop(1).mkString(": ")), jobs.exists(_.shuffles))
    }
    try {
      val flushing = batchJobs { put("Moscow", "Kazan", "Omsk"); q.processAllAvailable() }
      assert(flushing == ((Seq("count", "flush"), false)), flushing)
      assert(batcher.pendingRows == 0 && graft.weather.Warehouse.readFact(spark, warehouse).count() == 3)
      val staging = batchJobs { put("Tomsk"); q.processAllAvailable() }
      assert(staging == ((Seq("count", "stage"), false)), staging)
      assert(batcher.pendingRows == 1)
    } finally q.stop()
    batcher.flushNow(spark)
    assert(graft.weather.Warehouse.readFact(spark, warehouse).count() == 4)
  }
}
