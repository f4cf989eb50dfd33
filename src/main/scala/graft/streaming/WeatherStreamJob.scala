package graft.streaming

import graft.functions.expressions.FixedInstant
import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The consumer path as a Structured Streaming job (SURVEY.md §3.2):
  * Kafka (or file stand-in) → from_json flatten → foreachBatch warehouse
  * append, checkpointed.
  *
  * Delivery semantics (SURVEY.md §2.9 ST1–ST4, ST8):
  *  - The reference commits Kafka offsets only after a successful ClickHouse
  *    insert (Consumer_clickhouse.py:163–165) → at-least-once. Here the
  *    checkpoint WAL records offsets only after foreachBatch returns, which
  *    is the same at-least-once guarantee; replays rewrite the same batch.
  *  - The count-or-time flush (≥90 rows OR ≥300 s) has no native Spark
  *    trigger, so it lives at the sink: [[startCountOrTime]]'s
  *    [[CountOrTimeBatcher]] flushes exactly on either threshold, and the
  *    trigger only sets when micro-batches run (SURVEY.md §7.4 risk 3).
  *  - Graceful shutdown: `query.stop()` finishes the in-flight batch; the
  *    checkpoint resumes from the last committed offsets.
  *
  * Connector seams: the offline test environment has no brokers, so sources
  * are injected as DataFrames — `fileRawStream` replays the same
  * (value, topic) shape the Kafka source would produce, and the Kafka
  * builders carry the production options (SURVEY.md §7.4 risk 5).
  */
object WeatherStreamJob {

  val DefaultTopics = "weather_topic_1,weather_topic_2,weather_topic_3"

  /** Kafka source with the reference consumer's subscription
    * (Consumer_clickhouse.py:113–125; offsets move to the checkpoint WAL).
    */
  /** The exact option set [[kafkaRawStream]] hands KafkaSourceProvider —
    * exposed as data so the brokerless sandbox can still pin it
    * (KafkaSeamSpec): subscription and cadence from
    * Consumer_clickhouse.py:113–125, offsets in the checkpoint WAL.
    */
  def kafkaSourceOptions(bootstrapServers: String,
                         topics: String = DefaultTopics,
                         maxOffsetsPerTrigger: Long = 90L): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topics,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  def kafkaRawStream(spark: SparkSession, bootstrapServers: String,
                     topics: String = DefaultTopics,
                     maxOffsetsPerTrigger: Long = 90L): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, topics, maxOffsetsPerTrigger))
      .load()

  /** File-source stand-in: a directory of JSON-lines files, one payload per
    * line, producing the Kafka `value` column shape.
    */
  def fileRawStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path).withColumnRenamed("value", "value")

  /** [[startKafkaSink]]'s option set as data (see [[kafkaSourceOptions]]):
    * acks=all from Producer_clickhouse.py:45.
    */
  def kafkaSinkOptions(bootstrapServers: String,
                       checkpointDir: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "kafka.acks" -> "all",
    "checkpointLocation" -> checkpointDir)

  /** Kafka sink for the producer path (acks=all — Producer_clickhouse.py:45). */
  def startKafkaSink(kafkaFrame: DataFrame, bootstrapServers: String,
                     checkpointDir: String): StreamingQuery =
    kafkaFrame.writeStream
      .format("kafka")
      .options(kafkaSinkOptions(bootstrapServers, checkpointDir))
      .start()

  /** Raw-document archive (SURVEY.md §2.1 S5 — the reference writes every
    * raw payload to a JSON file per (topic, city) cycle,
    * Producer_clickhouse.py:78–84). Here: topic-partitioned JSON files per
    * micro-batch; the (value, topic) frame is exactly what the Kafka sink
    * consumes, so the archive tees off the same plan.
    */
  def archiveRaw(batch: DataFrame, path: String): Unit = {
    val out = batch.write.mode("append")
    (if (batch.columns.contains("topic")) out.partitionBy("topic") else out).json(path)
  }

  def startRawArchive(raw: DataFrame, path: String, checkpointDir: String): StreamingQuery =
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => archiveRaw(batch, path) }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** A micro-batch's fact rows, stamped with the time of this call as
    * their ingest time. The instant is a [[FixedInstant]], not
    * `current_timestamp()`'s literal, so every batch's flatten projection
    * is the same generated code and compiles once per JVM, not once per
    * batch.
    */
  private def flattenNow(parsed: DataFrame): DataFrame =
    WeatherFlatten.flatten(parsed, GraftColumnBridge.column(
      FixedInstant(DateTimeUtils.instantToMicros(java.time.Instant.now()))))

  /** Ingest query: raw value stream → flatten → month-partitioned warehouse
    * append per micro-batch, offsets checkpointed after each batch commits.
    * With `deadLetterPath` set, malformed payloads are quarantined as raw
    * text in the same batch transaction instead of silently dropped (ST7).
    */
  def start(raw: DataFrame, warehousePath: String, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("300 seconds"),
            deadLetterPath: Option[String] = None): StreamingQuery =
    WeatherFlatten.parse(raw)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Several actions over one micro-batch (writeFact's month count and
        // its write, the dead-letter write): persist so the source is
        // scanned once, not re-read per action.
        val b = batch.persist()
        try {
          Warehouse.writeFact(flattenNow(b), warehousePath)
          deadLetterPath.foreach { p =>
            WeatherFlatten.malformedRaw(b).write.mode("append").text(p)
          }
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Ingest with the EXACT count-or-time flush contract (ST1): the
    * warehouse sees one batched append per ≥`batchSize`-rows-or-≥`maxAgeMs`
    * window ([[CountOrTimeBatcher]]). A micro-batch that trips neither
    * threshold is staged in `stagingDir`; the one that trips a threshold
    * is appended from memory together with whatever is staged. An append
    * of at most [[Warehouse.HotMonthRows]] rows has no hot month, so it
    * passes `hotMonthRows = 0` and `writeFact` skips its month count.
    * Call `batcher.flushNow` after `query.stop()` for the
    * graceful-shutdown flush (ST8). The returned pair is (query, batcher).
    *
    * The default trigger is Spark's own, `ProcessingTime(0)`: the next
    * micro-batch starts as soon as the previous one ends and input is
    * there, and an idle stream asks its source for new offsets once per
    * polling delay (`spark.sql.streaming.pollingDelay`, 10 ms). That is
    * the reference consumer's `poll(1.0)`, which returns as soon as a
    * message arrives (SURVEY.md S3, ST1), so a row waits for no clock before
    * the batcher sees it. The idle cost is one `latestOffset` per polling
    * delay: a directory listing on the file source, a broker offset
    * request on Kafka. A fixed interval trades that for up to one
    * interval of added latency.
    */
  def startCountOrTime(raw: DataFrame, warehousePath: String, checkpointDir: String,
                       stagingDir: String, batchSize: Long = 90L, maxAgeMs: Long = 300000L,
                       trigger: Trigger = Trigger.ProcessingTime(0L),
                       clock: () => Long = () => System.currentTimeMillis())
      : (StreamingQuery, CountOrTimeBatcher) = {
    val batcher = new CountOrTimeBatcher(stagingDir, batchSize, maxAgeMs, clock,
      (fact: DataFrame, rows: Long) =>
        Warehouse.writeFact(fact, warehousePath, hotMonthRows =
          if (rows > Warehouse.HotMonthRows) Warehouse.HotMonthRows else 0L))
    val q = WeatherFlatten.parse(raw)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => batcher.add(flattenNow(batch)) }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    (q, batcher)
  }

  /** ST9: the reference's 60 s stats loop (Consumer_clickhouse.py:167–172)
    * as a StreamingQueryListener — rows/s and batch counts per progress
    * event, queryable from [[IngestStatsListener.snapshot]].
    */
  final class IngestStatsListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val stats =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      stats.merge(e.progress.id, (1L, e.progress.numInputRows),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    /** (batches, rows) for one query — keyed so a shared session's other
      * streams don't pollute the numbers.
      */
    def snapshot(queryId: java.util.UUID): (Long, Long) =
      stats.getOrDefault(queryId, (0L, 0L))
  }
}
