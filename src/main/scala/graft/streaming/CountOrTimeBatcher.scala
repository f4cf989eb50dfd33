package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ST1 made exact: the reference consumer buffers decoded rows and flushes
  * to the store once ≥ `batchSize` rows have accumulated OR ≥ `maxAgeMs`
  * has passed since the last flush (Consumer_clickhouse.py's batch list +
  * size/время checks). Structured Streaming triggers control micro-batch
  * cadence, not sink batching — so the count-or-time contract belongs at
  * the SINK: a micro-batch that trips neither threshold is staged, and
  * the micro-batch that trips one flushes everything staged plus itself
  * to the real store as ONE batched insert.
  *
  * Each micro-batch is computed exactly once: [[add]] persists it and
  * takes its row count from that one job, so a Kafka-backed frame is
  * never re-read from the broker. A batch that trips a threshold goes
  * straight from memory to the flush (unioned with the staged rows, if
  * any) and is never written to staging; only a batch that trips neither
  * is written to a fresh staging delta. The flush receives the exact row
  * count it is handed, so the store can skip counting it again.
  *
  * Delivery semantics are unchanged (at-least-once): staging writes and
  * flushes happen inside the checkpointed `foreachBatch`, so a crash
  * before offset commit replays the same rows. A flush that throws leaves
  * its micro-batch unstaged and [[pendingRows]] unchanged, so the replay
  * adds the batch once more, not twice; a crash between a flush and the
  * staging cleanup re-flushes the staged rows — duplicates, never loss,
  * exactly the reference's commit-after-insert posture. Like the
  * reference's loop, the time condition is evaluated when data arrives
  * (and on [[flushNow]] for graceful shutdown — ST8): a stateless stream
  * runs no empty micro-batch, and under `startCountOrTime`'s default
  * trigger a micro-batch starts as soon as input lands, so [[add]] sees
  * a row when it arrives, not on the next tick of a clock.
  *
  * The clock is injected so the time path is testable without waiting.
  * Each step's jobs are described `count`, `stage` or `flush`
  * ([[graft.JobStep]]), after the stream's own batch description. On a
  * one-file micro-batch a staging batch runs two jobs (`count`, `stage`)
  * and a flushing one two (`count`, `flush`): `startCountOrTime`'s flush
  * skips the store's month count, and a one-partition input writes
  * without an exchange (`Warehouse.writeFact`).
  */
final class CountOrTimeBatcher(
    stagingDir: String,
    batchSize: Long,
    maxAgeMs: Long,
    clock: () => Long,
    flush: (DataFrame, Long) => Unit) {

  /** A flush that takes the frame alone (the row count is dropped). */
  def this(
      stagingDir: String,
      batchSize: Long = 90L,
      maxAgeMs: Long = 300000L,
      clock: () => Long = () => System.currentTimeMillis())(
      flush: DataFrame => Unit) =
    this(stagingDir, batchSize, maxAgeMs, clock, (df: DataFrame, _: Long) => flush(df))

  // -1 = not yet recovered: after a restart, replayed-but-unflushed rows
  // may still sit in the staging dir, so the counter initializes from the
  // staged content on first use instead of silently starting at 0 (which
  // would under-report and trip the count threshold late).
  private var pending = -1L
  private var lastFlush = clock()

  /** Number of rows staged and not yet flushed (0 until first recovery). */
  def pendingRows: Long = synchronized(math.max(pending, 0L))

  private def stagedFrame(spark: SparkSession): DataFrame =
    // recursiveFileLookup: deltas live in per-batch subdirectories, which
    // must NOT be inferred as a partition column of the flushed frame.
    spark.read.option("recursiveFileLookup", "true").parquet(stagingDir)

  /** True iff staging holds at least one COMMITTED parquet data file. A
    * crash mid-delta-write leaves only junk (`_temporary` trees, empty
    * delta dirs, `_SUCCESS` markers): a bare "directory non-empty" probe
    * would then send recovery into spark.read.parquet, which throws
    * "Unable to infer schema" on a data-free tree — wedging every
    * subsequent add()/flushNow() until staging is cleaned by hand.
    * Committed data = a non-hidden (no `_`/`.` component) non-empty
    * regular file.
    */
  private def committedDataExists(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        (if (st.isDirectory) committedDataExists(fs, st.getPath) else st.getLen > 0)
    }

  private def recoverPending(spark: SparkSession): Unit =
    if (pending < 0) {
      val p = new Path(stagingDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      pending =
        if (fs.exists(p) && committedDataExists(fs, p)) stagedFrame(spark).count()
        else {
          // nothing committed — prune crash junk so later staged reads
          // (doFlush's recursive lookup) start from a clean tree
          if (fs.exists(p)) fs.delete(p, true)
          0L
        }
    }

  /** foreachBatch hook: flush staged ∪ `batch` if either threshold (count
    * OR age) has tripped, else stage `batch`. An empty batch writes
    * nothing, but still flushes what is staged once the age has tripped.
    */
  def add(batch: DataFrame): Unit = synchronized {
    val spark = batch.sparkSession
    recoverPending(spark)
    val b = batch.persist()
    try {
      // one job: the rows of a fresh plan over the persisted batch are
      // counted where they are cached (Dataset.count() adds a shuffle stage)
      val n = graft.JobStep(spark, "count")(b.select("*").queryExecution.toRdd.count())
      if (pending + n >= batchSize || clock() - lastFlush >= maxAgeMs)
        doFlush(spark, if (n > 0) Some(b) else None, n)
      else if (n > 0) {
        graft.JobStep(spark, "stage")(b.write.mode("errorifexists")
          .parquet(s"$stagingDir/delta-${java.util.UUID.randomUUID().toString.take(12)}"))
        pending += n
      }
    } finally { b.unpersist(); () }
  }

  /** Graceful-shutdown flush of whatever is staged (ST8). */
  def flushNow(spark: SparkSession): Unit = synchronized {
    recoverPending(spark)
    doFlush(spark, None, 0L)
  }

  /** Flush the staged rows plus `batch` (`n` rows), then clear staging.
    * State changes only after the flush returns, so a flush that throws
    * leaves staging and [[pendingRows]] as they were.
    */
  private def doFlush(spark: SparkSession, batch: Option[DataFrame], n: Long): Unit = {
    if (pending + n > 0) {
      graft.JobStep(spark, "flush") {
        val staged = if (pending > 0) Some(stagedFrame(spark)) else None
        flush((staged ++ batch).reduce(_ unionByName _), pending + n)
      }
      if (pending > 0) {
        val p = new Path(stagingDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      pending = 0
    }
    lastFlush = clock()
  }
}
