package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fact-table storage layout (SURVEY.md §2.1 S7, §4): the Spark
  * equivalent of the reference's MergeTree declaration
  * `PARTITION BY toYYYYMM(event_date) ORDER BY (event_date, city_name,
  * event_time)` (reference app/clickhouse_ddl.sql:30–32).
  *
  * Month partitioning → Hive-style directory pruning on `event_month`;
  * sorted writes → parquet row-group min/max stats give the sparse-index
  * skip behavior of the ClickHouse primary key. At 100 TB this layout keeps
  * time-range + city queries reading only the touched months, and the
  * in-partition sort clusters each city's readings for row-group skipping.
  */
object Warehouse {

  val PartitionCol = "event_month"
  val SortCols: Seq[String] = Seq("event_date", "city_name", "event_time")

  /** Within-file clustering layouts for [[writeFact]].
    *
    * `linear` — the reference's `ORDER BY (event_date, city_name,
    * event_time)` verbatim: perfect row-group skipping for date-leading
    * predicates, but a city-ONLY filter matches every row group of a hot
    * month (every group spans all cities of its date slice).
    *
    * `interleaved` — a Z-order-style space-filling curve over
    * (city rank, day-of-month, hour-of-day): the sort key MSB-interleaves
    * a 16-bit order-preserving city rank ordinal with the day's 5 bits
    * and the hour's 5 bits (width-proportional, day front-loaded — see
    * [[interleaveBits]]), so consecutive row groups cover small boxes of
    * the (city, date, hour) space and city-only, date-only AND
    * hour-band predicates skip on parquet min/max statistics (each row
    * group then spans a narrow range of each raw column). `event_time`
    * remains the in-box tiebreaker. The trade: date-range scans read
    * more groups than linear; pick it for warehouses where city-scoped
    * or time-banded queries matter. Layout is per-WRITE (parquet stats
    * are per-file), so a warehouse may hold a mix; readers need no
    * knowledge of the choice.
    */
  val ClusterLinear = "linear"
  val ClusterInterleaved = "interleaved"

  /** [[compact]]'s default: resolve the clustering from the sidecar's
    * record of the last [[writeFact]] layout (else linear) — so routine
    * maintenance compaction PRESERVES a deliberately-interleaved
    * warehouse instead of silently re-linearizing it. Pass an explicit
    * layout to re-cluster.
    */
  val ClusterRecorded = "recorded"

  /** MSB-first bit interleave of an ordered list of (dimension, width,
    * effectiveWidth) triples, with WIDTH-PROPORTIONAL placement:
    * dimension bit i (MSB i = 0) lands at fractional key depth
    * (i + 0.5) / effectiveWidth, so every key prefix carries each
    * dimension's bits in proportion to its (effective) width. A
    * round-robin-while-available interleave would front-load the NARROW
    * dimensions (for widths 16/5/5 the top 7 bits would hold 4
    * narrow-dim bits), halving the wide dimension's resolution at every
    * row-group size and measurably degrading its skip rate (the
    * WarehouseSpec candidate counts caught exactly this).
    *
    * `effectiveWidth ≥ width` front-loads a dimension: its bits take the
    * depths the top bits of an effectiveWidth-wide dimension would —
    * the knob that encodes a query-mix prior into the curve (the
    * warehouse gives day-of-month bits ~1.8× the prominence of hour
    * bits: date predicates dominate the reference's fact-table usage,
    * hour bands are the bonus dimension). Pure bitwise expressions —
    * whole-stage-codegen'd, no UDF in the write path.
    */
  private[weather] def interleaveBits(
      dims: Seq[(org.apache.spark.sql.Column, Int, Int)]): org.apache.spark.sql.Column = {
    val bitsMsbFirst: Seq[(org.apache.spark.sql.Column, Int)] =
      dims.zipWithIndex.flatMap { case ((c, w, wEff), dIdx) =>
        (0 until w).map(i => ((i + 0.5) / wEff, dIdx, (c, w - 1 - i)))
      }.sortBy { case (pos, dIdx, _) => (pos, dIdx) }.map(_._3)
    bitsMsbFirst.foldLeft(lit(0)) { case (z, (src, i)) =>
      shiftleft(z, 1) + shiftright(src, i).bitwiseAND(lit(1))
    }
  }

  /** Three-dimensional Z-key over (city rank: 16 bits, day-of-month:
    * 5 bits, hour-of-day: 5 bits). The city ordinal must be a RANK spread
    * across the full 16-bit range, not a raw byte encoding — raw name
    * bytes share constant high bits (all-ASCII names differ only in
    * middle bits), which silently degenerates the curve to date-major
    * order, the classic Z-order pitfall Delta's OPTIMIZE solves with
    * range-partition IDs. Hour bits make intra-day time-band predicates
    * (e.g. "between 06:00 and 09:00 across the month") row-group-
    * skippable too; sub-hour ordering stays with the `event_time`
    * tiebreaker that follows the key in the sort.
    */
  private[weather] def zOrderKey(date: org.apache.spark.sql.Column,
      cityOrd16: org.apache.spark.sql.Column,
      time: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    interleaveBits(Seq(
      (cityOrd16, 16, 16),
      (dayofmonth(date) - lit(1), 5, 9), // 0..30, front-loaded ~1.8×
      (hour(time), 5, 5)))               // 0..23

  /** Dimensions up to this distinct-count rank EXACTLY (collect + sort,
    * a bounded driver read — the reference's city dimension is 82 rows,
    * reference app/city_loader.py); past it the collect would become a
    * driver bottleneck, so ordinals switch to sampled range boundaries
    * ([[SampledRankBuckets]] buckets from a [[RankSampleRows]]-row
    * sample, the RangePartitioner posture) probed per-row by the
    * codegen'd sorted_bucket_index expression. The gate makes the
    * bounded-dimension assumption EXPLICIT instead of an implicit OOM.
    */
  private[graft] val CityRankExactMax = 65536
  private[graft] val RankSampleRows = 1 << 18
  private[graft] val SampledRankBuckets = 4096

  /** Attach a 16-bit rank ordinal for `city_name` to the batch; returns
    * the (possibly augmented) frame and the ordinal column. Exact path:
    * broadcast-joined rank dimension with ranks scaled across 0..65535 in
    * Long math (Int `i * 65535` overflows past ~32k cities) so the
    * ordinal's HIGH bits carry the variation the Morton curve
    * interleaves. Sampled path: bucket-of-boundaries ordinal, scaled the
    * same way — driver memory bounded by the sample size, never the
    * dimension cardinality. The gate probe itself is bounded: a
    * distinct-sort-limit of [[CityRankExactMax]]+1 names decides the
    * path AND supplies the exact dimension when it fits.
    */
  private[graft] def withCityOrdinal(withMonth: DataFrame): (DataFrame, org.apache.spark.sql.Column) = {
    val spark = withMonth.sparkSession
    import spark.implicits._
    val names = withMonth.select(col("city_name")).na.drop()
      .distinct().sort(col("city_name"))
      .limit(CityRankExactMax + 1).as[String].collect()
    if (names.length <= CityRankExactMax) {
      val n = math.max(names.length - 1, 1)
      val dim = names.zipWithIndex
        .map { case (name, i) => (name, (i.toLong * 65535L / n).toInt) }.toSeq
        .toDF("city_name", "__city_ord")
      (withMonth.join(broadcast(dim), Seq("city_name"), "left"),
        coalesce(col("__city_ord"), lit(0)))
    } else {
      // takeSample bounds the driver read at RankSampleRows regardless of
      // batch or dimension size; every step-th sampled value becomes a
      // bucket boundary, so bucket population is ~equal by construction
      // (rank, not hash — the curve needs order preservation).
      graft.plans.GraftExtensions.register(spark)
      val sampled = withMonth.select(col("city_name")).na.drop()
        .as[String].rdd.takeSample(withReplacement = false, RankSampleRows, seed = 42)
        .sorted
      val step = math.max(sampled.length / SampledRankBuckets, 1)
      val boundaries = (step until sampled.length by step).map(sampled(_)).distinct
      val scale = 65535 / math.max(boundaries.length, 1)
      (withMonth,
        coalesce(
          call_function("sorted_bucket_index", col("city_name"),
            typedLit(boundaries)) * lit(scale),
          lit(0)))
    }
  }

  /** A month whose batch volume exceeds this fans out across
    * [[HotMonthBuckets]] write tasks instead of funneling through one.
    * Sized for executor-memory-comfortable single-task months below it.
    */
  val HotMonthRows = 5000000L
  val HotMonthBuckets = 16

  /** Spark's legacy parquet default writes timestamps as INT96, which
    * carries NO min/max statistics — a warehouse clustered on
    * `event_time` could then never skip a row group on a time predicate
    * (and the Z-order hour dimension would be stats-blind). Warehouse
    * writes pin the stats-bearing TIMESTAMP_MICROS physical type for the
    * duration of the write and restore the session's setting after (ORC
    * ignores this conf; its timestamps carry stats natively).
    */
  private def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Default columnar codec. Every warehouse entry point also accepts
    * `format = "orc"` — ORC ships in spark-sql and carries the same
    * row-group min/max statistics, so the sorted-write sparse-index story
    * (scaladoc above) is codec-portable; the month-partition layout, the
    * hot-month fan-out, the delete sidecar, and compaction are all
    * format-agnostic (spec-pinned by the ORC round-trip in WarehouseSpec).
    */
  val FactFormat = "parquet"

  /** True when planning alone shows that `df` is one partition: its plan
    * reports a single partition, or it has no exchange, no subquery and
    * no adaptive stage (nor does a cached plan it scans), so building its
    * RDD starts no job and the RDD has one partition. Anything else counts
    * as many partitions.
    */
  private[graft] def onePartition(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def runsJobs(p: SparkPlan): Boolean = p.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec => true
      case s: InMemoryTableScanExec => runsJobs(s.relation.cachedPlan)
      case s => s.subqueries.nonEmpty
    }
    val plan = df.queryExecution.executedPlan
    plan.outputPartitioning.numPartitions == 1 ||
      (!runsJobs(plan) && plan.execute().getNumPartitions == 1)
  }

  /** Append fact rows, month-partitioned and sorted within partitions.
    *
    * `repartition(PartitionCol)` co-locates each month before the write so
    * one task owns one month (no small-file explosion: without it every
    * input partition would emit a file into every month directory). An
    * input that is already one partition ([[onePartition]], e.g. a
    * micro-batch of one file) skips that exchange: its one task sorts by
    * month first and so also writes one file per month, in one Spark job
    * instead of a shuffle job and a write job.
    *
    * Hot-month handling: one-task-per-month is itself a skew hazard when a
    * batch is dominated by a single month (the common case: a steady
    * ingest trigger holds mostly *this* month). Months whose row count in
    * THIS batch exceeds `hotMonthRows` get a composite write key
    * (month, hash(city_name) % hotBuckets): up to `hotBuckets` tasks share
    * the month, each writing one file. Hashing on city_name keeps every
    * city's rows clustered in one sorted file, so the row-group min/max
    * skip behavior survives the fan-out (files overlap in date range, not
    * in city set). Cold months keep the exactly-one-file layout; only a
    * write with a hot month pins the exchange's task count. The
    * per-month count is one aggregation job over the batch; pass
    * `hotMonthRows <= 0` to skip it and pin the legacy single-task layout
    * (a batch of at most `hotMonthRows` rows has no hot month, so for it
    * the layout is the same either way).
    */
  def writeFact(fact: DataFrame, path: String, mode: String = "append",
                hotMonthRows: Long = HotMonthRows,
                hotBuckets: Int = HotMonthBuckets,
                format: String = FactFormat,
                clustering: String = ClusterLinear): Unit = {
    require(clustering == ClusterLinear || clustering == ClusterInterleaved,
      s"unknown clustering '$clustering' — use '$ClusterLinear' or '$ClusterInterleaved'")
    // Refuse a codec conflict BEFORE writing anything: appending ORC
    // files into a parquet warehouse (or vice versa) is silent corruption
    // discovered only at read time. The effective codec is the sidecar's,
    // or — for legacy pre-sidecar directories that already hold data —
    // the codec INFERRED from the existing files (a default-format append
    // into a legacy ORC warehouse must refuse, not stamp 'parquet' over
    // it). The sidecar itself is stamped only AFTER the write succeeds,
    // so a failed first write cannot leave an empty directory pinned to a
    // format it never received.
    val spark = fact.sparkSession
    val sidecar = readSidecarLines(spark, path)
    val recorded = sidecar.flatMap(_.headOption).filter(_.nonEmpty)
      .orElse(inferredDataFormat(spark, path))
    recorded.foreach { rec =>
      if (rec != format) throw new IllegalStateException(
        s"warehouse at $path holds '$rec' data ($FormatSidecar sidecar or " +
          s"existing data files) but writeFact was asked for '$format' — " +
          "mixed codecs in one warehouse directory are unreadable; write " +
          "to a new path or pass the recorded format")
    }
    val withMonth = fact.withColumn(PartitionCol, date_format(col("event_date"), "yyyyMM"))
    val hotMonths: Set[String] =
      if (hotMonthRows <= 0) Set.empty
      else graft.JobStep(spark, "months")(
        withMonth.groupBy(col(PartitionCol)).agg(count(lit(1)).as("n"))
          .filter(col("n") > hotMonthRows)
          .collect().map(_.getString(0)).toSet) // bounded: one row per month
    // A hot month needs an explicit partition count: an advisory
    // repartition(cols) is fair game for AQE coalescing, which would
    // re-merge its buckets into one task (the bucket column is dropped
    // before the write, so separate FILES require separate TASKS). A cold
    // write leaves the count to AQE: coalescing merges whole months,
    // never splits one, so each month is still one task and one file,
    // and a small flush runs a few tasks instead of a pinned fan-out.
    // A one-partition input needs no exchange at all.
    def clustered(df: DataFrame) =
      if (hotMonths.nonEmpty) df
        .withColumn("__write_bucket", when(col(PartitionCol).isInCollection(hotMonths),
          pmod(hash(col("city_name")), lit(hotBuckets))).otherwise(lit(0)))
        .repartition(math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, hotBuckets),
          col(PartitionCol), col("__write_bucket"))
      else if (onePartition(fact)) df
      else df.repartition(col(PartitionCol))
    // The sort MUST lead with the partition column: FileFormatWriter
    // requires output ordered by the partition dirs and would otherwise
    // inject its own UNSTABLE sort on event_month alone, scrambling the
    // within-file clustering. Leading with the month satisfies the
    // requirement so no extra sort is planned (and costs nothing:
    // event_month is monotone in event_date).
    val (ranked, clusterKeys) =
      if (clustering == ClusterInterleaved) {
        val (aug, ord) = withCityOrdinal(withMonth)
        (aug, Seq(zOrderKey(col("event_date"), ord, col("event_time")),
          col("event_time")))
      } else (withMonth, SortCols.map(col))
    withMicrosTimestamps(spark) {
      clustered(ranked)
        .sortWithinPartitions(col(PartitionCol) +: clusterKeys: _*)
        // drops the helper columns AND restores the input's column order
        // (the rank join fronts city_name; a projection after the sort
        // keeps the ordering FileFormatWriter requires)
        .select(withMonth.columns.map(col): _*)
        .write
        .mode(mode)
        .partitionBy(PartitionCol)
        .format(format)
        .save(path)
    }
    // Stamp (or refresh) the codec+clustering sidecar only now that data
    // in that codec actually exists under the path. An append whose
    // codec and layout the sidecar already records leaves it as it is (an
    // overwrite may have deleted it with the old data).
    if (!mode.equalsIgnoreCase("append") || !sidecar.contains(Seq(format, clustering)))
      writeFormatSidecar(spark, path, format, clustering)
  }

  /** Sidecar naming months doomed by an in-flight [[deleteRows]] — same
    * torn-write posture as the index store's rows tripwire
    * (graft.IndexStore): written BEFORE the destructive steps, cleared
    * after the last one, so a crash in between leaves loud evidence
    * instead of silently resurrected rows.
    */
  val DeletingSidecar = "_DELETING"

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecarPath(path: String) =
    new org.apache.hadoop.fs.Path(path, DeletingSidecar)

  /** Sidecar persisting the warehouse's columnar codec, written by
    * [[writeFact]]: the format is a property of the DIRECTORY, not of the
    * call — without it, default-format entry points against an
    * ORC-written warehouse failed at read time with a codec error
    * instead of resolving. Reads resolve through it ([[resolvedFormat]]);
    * writes refuse a conflicting codec (mixed-format partitions would
    * corrupt the warehouse). Legacy directories without the sidecar keep
    * the old requested-format behavior.
    */
  val FormatSidecar = "_FORMAT"

  private def formatSidecarPath(path: String) =
    new org.apache.hadoop.fs.Path(path, FormatSidecar)

  private def readSidecarLines(spark: SparkSession, path: String): Option[Seq[String]] = {
    val fs = fsFor(spark, path)
    if (!fs.exists(formatSidecarPath(path))) None
    else {
      val in = fs.open(formatSidecarPath(path))
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .split("\n").map(_.trim).toSeq)
      finally in.close()
    }
  }

  private[graft] def readFormatSidecar(spark: SparkSession, path: String): Option[String] =
    readSidecarLines(spark, path).flatMap(_.headOption).filter(_.nonEmpty)

  /** Clustering layout of the LAST write, from the sidecar's second line
    * (legacy one-line sidecars and pre-sidecar directories → None, read
    * as linear by [[compact]]). Layout is per-file so this is advisory —
    * it records the maintained layout choice, not a read-path contract.
    */
  private[graft] def readClusteringSidecar(spark: SparkSession, path: String): Option[String] =
    readSidecarLines(spark, path).flatMap(_.drop(1).headOption).filter(_.nonEmpty)

  private[graft] def writeFormatSidecar(spark: SparkSession, path: String,
      format: String, clustering: String = ClusterLinear): Unit = {
    val out = fsFor(spark, path).create(formatSidecarPath(path), true)
    try out.write(s"$format\n$clustering".getBytes("UTF-8")) finally out.close()
  }

  /** Codec inferred from a legacy (pre-sidecar) directory's existing data
    * files, by extension — parquet and ORC writers both suffix their part
    * files with the codec name. Early-exits at the first recognized data
    * file: a pre-sidecar warehouse written by this library is
    * single-codec unless already corrupt, and a full recursive listing of
    * a production warehouse is exactly the cost this sidecar exists to
    * avoid. None for an empty/new directory.
    */
  private[weather] def inferredDataFormat(spark: SparkSession,
      path: String): Option[String] = {
    val fs = fsFor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) None
    else {
      val it = fs.listFiles(root, true)
      var found: Option[String] = None
      while (found.isEmpty && it.hasNext) {
        val name = it.next().getPath.getName
        if (name.endsWith(".parquet")) found = Some("parquet")
        else if (name.endsWith(".orc")) found = Some("orc")
      }
      found
    }
  }

  /** The directory's recorded codec when it has one, else the requested
    * one — so `readFact(spark, path)` on an ORC warehouse just works.
    */
  private[graft] def resolvedFormat(spark: SparkSession, path: String,
      requested: String): String =
    readFormatSidecar(spark, path).getOrElse(requested)

  private[weather] def writeDeleteSidecar(spark: SparkSession, path: String,
      doomed: Set[Any]): Unit = {
    val out = fsFor(spark, path).create(sidecarPath(path), true)
    try out.write(doomed.map(_.toString).toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private[weather] def readDeleteSidecar(spark: SparkSession, path: String): Option[Seq[String]] = {
    val fs = fsFor(spark, path)
    if (!fs.exists(sidecarPath(path))) None
    else {
      val in = fs.open(sidecarPath(path))
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        Some(new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty))
      } finally in.close()
    }
  }

  /** Read the fact table back; filters on `event_month` prune directories.
    * Refuses (loudly) while a [[DeletingSidecar]] exists: a crash between
    * a delete's partition overwrite and its emptied-directory drop would
    * otherwise silently serve the resurrected months.
    */
  def readFact(spark: SparkSession, path: String): DataFrame =
    readFact(spark, path, FactFormat)

  def readFact(spark: SparkSession, path: String, format: String): DataFrame = {
    readDeleteSidecar(spark, path).foreach { doomed =>
      throw new IllegalStateException(
        s"warehouse at $path has an interrupted delete ($DeletingSidecar names " +
        s"months ${doomed.mkString(", ")}); run Warehouse.completeDelete to " +
        "finish dropping them, then RE-RUN deleteRows with the original " +
        "predicate (the interruption may predate the kept-months overwrite, " +
        "leaving matches in mixed months) before reading")
    }
    spark.read.format(resolvedFormat(spark, path, format)).load(path)
  }

  /** Finish an interrupted [[deleteRows]]: re-drop the months the sidecar
    * names (idempotent — dropping an already-dropped directory is a no-op)
    * and clear the sidecar. Returns the months dropped.
    *
    * RECOVERY CONTRACT: this finishes only the DROP step. The sidecar is
    * written BEFORE the kept-months partition overwrite, so an
    * interruption may also have landed before that overwrite committed —
    * in which case pred-matching rows in the mixed (partially-kept)
    * months are still present and this method cannot know the predicate
    * to remove them. After completeDelete, RE-RUN
    * `deleteRows(spark, path, pred)` with the original predicate: it is
    * idempotent (a month with no remaining matches is untouched) and
    * removes any matches the interrupted overwrite left behind. The
    * readFact refusal message carries the same two-step recipe.
    */
  def completeDelete(spark: SparkSession, path: String): Seq[String] = {
    val doomed = readDeleteSidecar(spark, path).getOrElse(Seq.empty)
    val fs = fsFor(spark, path)
    doomed.foreach { m =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"$PartitionCol=$m"), true)
    }
    fs.delete(sidecarPath(path), false)
    doomed
  }

  /** Compact a month-partitioned warehouse in place: every streamed
    * micro-batch append leaves one file per touched month, so a
    * long-running ingest accumulates small files (the object-store
    * metadata killer at scale). Rewrites each month as one sorted file
    * via dynamic partition overwrite — months absent from the read are
    * untouched, so compaction can run per-month behind an `event_month`
    * filter while ingest appends elsewhere.
    *
    * The eager checkpoint materializes the read BEFORE the overwrite
    * (Spark refuses to overwrite a path its plan still reads). On a real
    * cluster, point `spark.sparkContext.setCheckpointDir` at reliable
    * storage first; `localCheckpoint` is the single-JVM fallback.
    */
  /** Targeted row delete (the right-to-be-forgotten / bad-batch retraction
    * path): remove every row matching `pred`, rewriting ONLY the month
    * partitions that contain matches — at 100 TB a delete touching one
    * entity rewrites that entity's months, not the warehouse. Returns the
    * number of rows removed.
    *
    * Mechanics: one pruned scan finds the affected months (bounded
    * collect — one row per month); the keep-side of those months is
    * checkpointed (same overwrite-vs-read rule as [[compact]]) and
    * dynamic-partition-overwritten in sorted form. A month whose rows ALL
    * matched leaves no keep-rows for the dynamic overwrite to replace, so
    * its directory is removed explicitly — otherwise the delete would
    * silently resurrect it.
    */
  def deleteRows(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): Long =
    deleteRows(spark, path, pred, crashBeforeDirDrop = false)

  def deleteRows(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column, format: String): Long =
    deleteRows(spark, path, pred, crashBeforeDirDrop = false, format)

  /** `crashBeforeDirDrop` is a test-only failpoint simulating a crash in
    * the window between the dynamic partition overwrite and the explicit
    * drop of fully-emptied month directories — the two non-atomic steps
    * the [[DeletingSidecar]] guards.
    */
  private[graft] def deleteRows(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column, crashBeforeDirDrop: Boolean,
      format: String = FactFormat, crashBeforeOverwrite: Boolean = false): Long = {
    val fmt = resolvedFormat(spark, path, format) // sidecar wins (see FormatSidecar)
    // keep the read-back partition type as inferred (Hive partition
    // inference reads yyyyMM as INT) so the isInCollection filter prunes
    // natively; stringify only for directory names
    val affected = readFact(spark, path, fmt).filter(pred)
      .select(col(PartitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    if (affected.isEmpty) return 0L
    val scoped = readFact(spark, path, fmt)
      .filter(col(PartitionCol).isInCollection(affected))
    // DELETE semantics: remove where pred is TRUE; a NULL predicate result
    // KEEPS the row. The keep side must be the exact complement — a plain
    // filter(!pred) would drop NULL-pred rows from BOTH the deleted count
    // and the rewrite, silently destroying them.
    val predTrue = coalesce(pred, lit(false))
    val deleted = scoped.filter(predTrue).count()
    val keepFrame = scoped.filter(!predTrue)
    val keep =
      if (spark.sparkContext.getCheckpointDir.isDefined) keepFrame.checkpoint(eager = true)
      else keepFrame.localCheckpoint(eager = true)
    val keepMonths = keep.select(col(PartitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    // fully-deleted months: no keep rows → dynamic overwrite leaves the
    // old directory in place; they need an explicit drop AFTER the
    // overwrite. The overwrite and the drop are two non-atomic steps, so
    // name the doomed months in a sidecar FIRST — a crash between the
    // steps then makes readFact refuse instead of resurrecting the rows.
    val doomed = affected -- keepMonths
    if (doomed.nonEmpty) writeDeleteSidecar(spark, path, doomed)
    if (crashBeforeOverwrite) return deleted // test-only failpoint
    if (keepMonths.nonEmpty) {
      withMicrosTimestamps(spark) {
        keep
          .repartition(col(PartitionCol))
          .sortWithinPartitions(col(PartitionCol) +: SortCols.map(col): _*)
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(PartitionCol)
          .format(fmt)
          .save(path)
      }
    }
    if (crashBeforeDirDrop) return deleted
    val fs = fsFor(spark, path)
    doomed.foreach { m =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"$PartitionCol=$m"), true)
    }
    if (doomed.nonEmpty) fs.delete(sidecarPath(path), false)
    deleted
  }

  def compact(spark: SparkSession, path: String, format: String = FactFormat,
              clustering: String = ClusterRecorded): Unit = {
    require(clustering == ClusterLinear || clustering == ClusterInterleaved
        || clustering == ClusterRecorded,
      s"unknown clustering '$clustering' — use '$ClusterLinear', " +
        s"'$ClusterInterleaved' or '$ClusterRecorded'")
    val fmt = resolvedFormat(spark, path, format) // sidecar wins (see FormatSidecar)
    // The layout choice lives in the warehouse, not the caller's head:
    // default maintenance preserves the recorded layout.
    val effCluster =
      if (clustering == ClusterRecorded)
        readClusteringSidecar(spark, path).getOrElse(ClusterLinear)
      else clustering
    val snapshot =
      if (spark.sparkContext.getCheckpointDir.isDefined)
        readFact(spark, path, fmt).checkpoint(eager = true)
      else readFact(spark, path, fmt).localCheckpoint(eager = true)
    // compaction is also the RE-CLUSTER entry point: a warehouse whose
    // query mix turned city-dominant can be rewritten into the
    // interleaved layout in one pass (see writeFact's clustering doc)
    val (ranked, clusterKeys) =
      if (effCluster == ClusterInterleaved) {
        val (aug, ord) = withCityOrdinal(snapshot)
        (aug, Seq(zOrderKey(col("event_date"), ord, col("event_time")),
          col("event_time")))
      } else (snapshot, SortCols.map(col))
    withMicrosTimestamps(spark) {
      ranked
        .repartition(col(PartitionCol))
        // lead with the partition col — see writeFact
        .sortWithinPartitions(col(PartitionCol) +: clusterKeys: _*)
        .select(snapshot.columns.map(col): _*)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PartitionCol)
        .format(fmt)
        .save(path)
    }
    // A re-cluster is a layout change of record — refresh the sidecar.
    writeFormatSidecar(spark, path, fmt, effCluster)
  }
}
