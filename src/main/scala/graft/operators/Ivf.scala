package graft.operators

import graft.functions.TextFunctions.hex60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) ANN index construction — genuine k-means, not a
  * fixed seed slice:
  *
  *  1. **Seeding**: deterministic k-means++ (farthest-first traversal)
  *     over a BOUNDED hash sample of the corpus (`md5(vec_id) % sampleMod
  *     = 0`). The sample — not the corpus — is collected to the driver
  *     (k-means||-style: callers size `sampleMod` so the sample is
  *     O(thousands) rows at any corpus size), the k seeds are picked by
  *     repeated argmin-of-max-similarity with a vec_id tiebreak.
  *  2. **Lloyd iterations to a fixed point**, hard-capped at `maxIters`:
  *     assign every vector to its argmax-integer-dot centroid
  *     (deterministic cid tiebreak), recompute centroids as per-dimension
  *     floored means, stop early when the centroid set stops changing.
  *     Centroids live on the DRIVER between iterations (k × dim longs —
  *     exactly how Spark MLlib's KMeans holds cluster centers), which
  *     keeps the per-iteration lineage flat: each assignment reads the
  *     corpus once against a broadcast-literal centroid table.
  *
  * Everything is integer/IEEE-exact, so DuckDB recomputes IDENTICAL
  * centroids from the same unrolled recurrence ([[centroidsSql]]): sums of
  * |q|≤1e4 ints are exact, the double division is correctly rounded in
  * both engines, and floor lands identically. The early exit is sound for
  * the oracle because Lloyd is idempotent at a fixed point — the SQL side
  * always unrolls exactly `maxIters` iterations, and once Spark observes
  * cents(t+1) = cents(t) every later unrolled iteration reproduces the
  * same centroids.
  *
  * Cross-engine determinism notes: assignment ties break by cid ASC,
  * seeding ties by vec_id ASC, and empty cells drop in both engines (the
  * mean is a GROUP BY over members).
  */
object Ivf {

  val Dim = 64
  /** Seeding-sample size floor: the sample mod is DERIVED from the corpus
    * count toward max(this, [[SeedSamplePerCell]]·k) rows (the
    * Ordinals.TargetSampleKeys pattern) — ~4k × 64-long vectors ≈ 2 MB on
    * the driver at fixture-scale k, and never below the derived cell
    * count. Both engines derive the identical mod from the identical
    * count, so the oracle reproduces the same seeds.
    */
  val TargetSeedSample = 4096L
  /** Sample rows per cell: the seed sample scales WITH k (target =
    * max([[TargetSeedSample]], 2k)), because a derived k = ⌈n/4096⌉
    * outgrows a fixed 4096-row sample at n ≈ 16.7M rows — the all-defaults
    * fit() would then have fewer sample points than seeds to pick.
    * 2 rows/cell keeps sample ≥ 2k by construction (expected; the
    * farthest-first pick needs ≥ k). Driver cost at the [[Sizing.MaxCells]]
    * clamp: 2·65536 rows ≈ 67 MB and an O(sample·k·dim) seeding pass —
    * minutes, acceptable for a one-time index build of a ≥256M-row corpus;
    * beyond the clamp the posture is sharded per-partition fits
    * (Sizing.scala MaxCells note).
    */
  val SeedSamplePerCell = 2L
  val DefaultMaxIters = 4

  /** mod = max(1, ⌊n / max(seedTarget, 2k)⌋): one sampled row per
    * mod-block keeps the expected sample within [target, 2·target) for any
    * n, and scaling the target with k keeps sample ≥ k at any corpus size
    * (`k ≤ 0` = the caller passes an explicit sampleMod elsewhere and only
    * the corpus-count term applies).
    */
  def derivedSampleMod(n: Long, k: Long = 0L, seedTarget: Long = TargetSeedSample): Int =
    math.max(1L, n / math.max(seedTarget, SeedSamplePerCell * math.max(0L, k))).toInt

  /** Fitted centroids (cid → quantized vector), iterations actually run,
    * whether a fixed point was reached before the cap, and the corpus row
    * count the fit saw (`n` — the staleness reference for the store's
    * refresh policy; ≤ 0 = unknown, e.g. a pre-metadata store).
    */
  final case class Model(cents: IndexedSeq[(Int, Array[Long])], iters: Int,
      converged: Boolean, n: Long = 0L)

  /** A served model refits when the corpus has grown to ≥ this multiple
    * of the stored fit's row count: appended embeddings enter the SRP
    * store incrementally, but k-means centroids only learn them on a
    * refit. Below the threshold the stored model serves (an ANN index is
    * allowed to lag its corpus a little — that is what makes it an
    * index), with a warning on any drift.
    */
  val RefitGrowthFactor = 2.0

  /** floor(x·1e4) quantization: exact in both engines, and member sums
    * stay ≪ 2^63 for the centroid means.
    */
  def quantize(e: DataFrame): DataFrame =
    e.withColumn("eq", transform(col("embedding"),
      x => floor(x.cast(DoubleType) * 1e4).cast(LongType)))

  private def sampleFilter(mod: Int): Column =
    hex60(concat(lit("ivf|"), col("vec_id").cast(StringType))) % mod === 0

  private def dotL(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Farthest-first (deterministic k-means++) seeds over the hash sample,
    * in pick order. First seed = the sample's min vec_id; each next seed
    * is the sample point with the SMALLEST maximum similarity to any
    * already-chosen seed (ties → min vec_id). The collect here is
    * sample-sized by construction, never corpus-sized.
    */
  private[operators] def seeds(eqf: DataFrame, k: Int, sampleMod: Int): IndexedSeq[Array[Long]] = {
    val samp = eqf.filter(sampleFilter(sampleMod))
      .select(col("vec_id"), col("eq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(samp.length >= k, s"seeding sample ${samp.length} < k=$k — lower sampleMod")
    val chosen = scala.collection.mutable.ArrayBuffer(samp.head._2)
    val maxDot = samp.map(p => dotL(p._2, chosen.head))
    // Chosen seeds leave the candidate pool (maxDot = ∞): without this, a
    // LOW-NORM point (small self-dot) can be argmin again, yielding a
    // duplicate centroid and k−1 effective cells. Mirrored in
    // [[centroidsSql]] via the NOT IN exclusion.
    maxDot(0) = Long.MaxValue
    while (chosen.length < k) {
      var best = 0
      var i = 1
      while (i < samp.length) { // strict < keeps the min-vec_id tie winner
        if (maxDot(i) < maxDot(best)) best = i
        i += 1
      }
      chosen += samp(best)._2
      i = 0
      while (i < samp.length) {
        val d = dotL(samp(i)._2, samp(best)._2)
        if (d > maxDot(i)) maxDot(i) = d
        i += 1
      }
      maxDot(best) = Long.MaxValue
    }
    chosen.toIndexedSeq
  }

  /** Driver-held centroids as a broadcast-literal frame (cid, ceq). */
  def centsDF(spark: SparkSession, cents: Seq[(Int, Array[Long])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, cq) => (cid, cq.toSeq) }.toDF("cid", "ceq")
  }

  /** Every (vector × centroid) integer dot, ranked per vector:
    * rk = 1 is the cell assignment, rk ≤ p the probe set.
    */
  def ranked(eqf: DataFrame, cents: DataFrame): DataFrame = {
    // Register here, not just in fit(): a store-loaded model skips fit
    // entirely, and this is the first vec_dot_long call site on that path.
    graft.plans.GraftExtensions.register(eqf.sparkSession)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("idot").desc, col("cid").asc)
    eqf.select(col("vec_id"), col("eq"))
      .crossJoin(broadcast(cents))
      .withColumn("idot", call_function("vec_dot_long", col("eq"), col("ceq")))
      .withColumn("rk", row_number().over(w))
  }

  /** k-means++ seed + Lloyd to a fixed point (≤ maxIters). `sampleMod ≤ 0`
    * (the default) derives the seeding sample mod from a corpus count
    * toward max([[TargetSeedSample]], [[SeedSamplePerCell]]·k) rows — the
    * driver-side collect is then bounded BY CONSTRUCTION at any corpus
    * size AND never smaller than the seed count, instead of trusting the
    * caller to size a fixed mod. `k ≤ 0` (the default) derives the cell
    * count from the same corpus count via [[Sizing.deriveCells]] — linear
    * growth keeps cells bounded at any scale (the fixture queries pass
    * their explicit constant because the DuckDB oracle unrolls it into
    * static SQL). `cellTarget`/`seedTarget` re-aim both derivations (the
    * library sizing knobs; tests shrink them to exercise derived-k >
    * seed-target geometry at fixture scale).
    */
  def fit(eqf: DataFrame, k: Int = 0,
          sampleMod: Int = 0,
          maxIters: Int = DefaultMaxIters,
          cellTarget: Long = Sizing.TargetCellRows,
          seedTarget: Long = TargetSeedSample,
          dim: Int = Dim): Model = {
    val spark = eqf.sparkSession
    graft.plans.GraftExtensions.register(spark)
    // Always counted (cheap parquet-metadata action): the sizing
    // derivations need it, and the fitted model records it as the
    // staleness reference for the store refresh policy.
    val n = eqf.count()
    val kk = if (k > 0) k else Sizing.deriveCells(n, cellTarget)
    val mod = if (sampleMod > 0) sampleMod else derivedSampleMod(n, kk, seedTarget)
    var cents: IndexedSeq[(Int, Array[Long])] =
      seeds(eqf, kk, mod).zipWithIndex.map { case (c, i) => (i, c) }
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      // Per-dimension floored mean of each cell's members: the shuffle is
      // k × dim rows; the collect is the same k × dim longs MLlib keeps
      // driver-side between KMeans iterations.
      val upd = ranked(eqf, centsDF(spark, cents)).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid"))
        .join(eqf.select(col("vec_id"), col("eq")), "vec_id")
        .select(col("cid"), posexplode(col("eq")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(floor(sum(col("v")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .cast(LongType).as("cv"))
        .collect()
      val next = upd.groupBy(_.getInt(0)).map { case (cid, rows) =>
        val arr = new Array[Long](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        (cid, arr)
      }.toIndexedSeq.sortBy(_._1)
      converged = next.length == cents.length &&
        next.zip(cents).forall { case ((c1, a1), (c2, a2)) =>
          c1 == c2 && java.util.Arrays.equals(a1, a2)
        }
      cents = next
      it += 1
    }
    Model(cents, it, converged, n)
  }

  /** Multi-probe ANN with exact rerank: queries (vec_id < numQueries)
    * probe their `probes` best cells, candidates come from the cell
    * equi-join, and survivors are exactly re-scored with `score`
    * (column-level, e.g. the DECIMAL-fold dot) for the final top-k.
    * A query set whose embeddings outgrow `maxBroadcastElems` reranks in
    * hash-sliced chunks ([[Sizing.broadcastChunks]]/[[Sizing.chunkSlice]]
    * — exact, since per-query top-k is independent); small query sets
    * derive chunks = 1 with no extra action.
    *
    * `cellsOpt` supplies PRECOMPUTED corpus cell assignments
    * `(vec_id, cell)` — the maintained-assignment-store serving path
    * ([[graft.streaming.IndexMaintenance.maintainIvfAssignments]]): the
    * corpus-wide argmax never recomputes, and `eqf` then only needs the
    * QUERY vectors' quantized rows (it feeds nothing but the probe set).
    *
    * `qEmbOpt` supplies an EXTERNAL query frame `(q_id, q_emb)` — the
    * cross-modal serving path, where queries live in another modality's
    * table (and id domain) rather than inside `e`. When present, `eqf`
    * must contain ONLY the query vectors' quantized rows (no
    * `vec_id < numQueries` slicing is applied — external query ids are
    * arbitrary), and `cellsOpt` is REQUIRED (corpus cells cannot come
    * from a query-only `eqf`).
    */
  def annTopK(e: DataFrame, eqf: DataFrame, cents: DataFrame,
              numQueries: Int, probes: Int, topK: Int,
              score: (Column, Column) => Column,
              maxBroadcastElems: Long = Sizing.MaxQueryBroadcastElems,
              cellsOpt: Option[DataFrame] = None,
              qEmbOpt: Option[DataFrame] = None): DataFrame = {
    require(qEmbOpt.isEmpty || cellsOpt.isDefined,
      "annTopK with external queries needs precomputed corpus cells")
    val rk = ranked(eqf, cents)
    val cells = cellsOpt.getOrElse(rk.filter(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell")))
    val probeRows =
      if (qEmbOpt.isDefined) rk.filter(col("rk") <= probes) // eqf IS the query set
      else rk.filter(col("vec_id") < numQueries && col("rk") <= probes)
    val probeSet = probeRows
      .select(col("vec_id").as("q_id"), col("cid").as("cell"))
    val cand = probeSet.join(cells, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    // Explicit bound on the broadcast side — correctness-neutral (cand's
    // q_ids are already < numQueries) but it makes the broadcast
    // query-set-sized BY CONSTRUCTION instead of relying on the optimizer
    // inferring the bound through the join.
    val qe = qEmbOpt.getOrElse(e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    // Chunking derives from the ACTUAL query-frame size: on the internal
    // path qe is the `vec_id < numQueries` slice, so numQueries bounds it
    // by construction — but an EXTERNAL frame's size is unrelated to that
    // parameter (ivfAnnFromStore leaves it at its default), and deriving
    // from numQueries there would broadcast an arbitrarily large frame in
    // ONE piece, silently bypassing maxBroadcastElems. One count() action
    // on the external path only; dims probe by-name (only past the
    // no-probe bound); an empty query set degrades to one chunk.
    val nq: Long = if (qEmbOpt.isDefined) qe.count() else numQueries.toLong
    val chunks = Sizing.broadcastChunks(nq,
      qe.select(size(col("q_emb"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1), maxBroadcastElems)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_dec").desc, col("vec_id").asc)
    def rerank(candC: DataFrame, qeC: DataFrame) = candC
      .join(broadcast(qeC), "q_id")
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("sim_dec", score(col("q_emb"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
    val body =
      if (chunks == 1) rerank(cand, qe)
      else (0 until chunks).map { i =>
        rerank(cand.filter(Sizing.chunkSlice(col("q_id"), chunks) === i),
          qe.filter(Sizing.chunkSlice(col("q_id"), chunks) === i))
      }.reduce(_ union _)
    body
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_dec").cast(DoubleType).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Persist a fitted model into the durable index store tier: one parquet
    * row per centroid (cid, cq, iters, converged). k × dim longs — a
    * single tiny file; coalesce(1) keeps the store tidy.
    */
  def save(s: SparkSession, path: String, m: Model): Unit = {
    import s.implicits._
    m.cents.map { case (cid, cq) => (cid, cq.toSeq, m.iters, m.converged, m.n) }
      .toDF("cid", "cq", "iters", "converged", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.IndexStore.saved(s, path)
  }

  /** Load a committed model from the store; None when absent/torn (caller
    * falls back to fitting). A pre-metadata store (no `n` column) loads
    * with n = -1 — unknown fit size, which the refresh policy treats as
    * "refit" rather than trusting an untracked model.
    */
  def load(s: SparkSession, path: String): Option[Model] =
    if (!graft.IndexStore.committed(s, path)) None
    else {
      val df = graft.IndexStore.read(s, path)
      val hasN = df.schema.fieldNames.contains("n")
      val rows = df.collect() // k rows by construction
      val cents = rows.map(r =>
          (r.getInt(r.fieldIndex("cid")), r.getSeq[Long](r.fieldIndex("cq")).toArray))
        .sortBy(_._1).toIndexedSeq
      Some(Model(cents, rows.head.getInt(rows.head.fieldIndex("iters")),
        rows.head.getBoolean(rows.head.fieldIndex("converged")),
        if (hasN) rows.head.getLong(rows.head.fieldIndex("n")) else -1L))
    }

  /** Store-backed model serving with the refresh policy: load the
    * committed model at `path` and REFIT (overwriting the store) when the
    * corpus has grown to ≥ [[RefitGrowthFactor]] × the stored fit's row
    * count, or when the stored fit size is unknown; smaller drift logs a
    * staleness warning and serves the stored centroids. Absent/torn store
    * → fit and save.
    */
  def servedModel(s: SparkSession, path: String, eqf: DataFrame, k: Int = 0,
      growth: Double = RefitGrowthFactor, dim: Int = Dim): Model = {
    val log = org.slf4j.LoggerFactory.getLogger("graft.Ivf")
    def fitAndSave(): Model = {
      val m = fit(eqf, k, dim = dim)
      save(s, path, m)
      m
    }
    load(s, path) match {
      case None => fitAndSave()
      case Some(m) =>
        val current = eqf.count()
        if (m.n <= 0) {
          log.warn(s"IVF model at $path has no recorded fit size — refitting")
          fitAndSave()
        } else if (current >= growth * m.n) {
          log.warn(s"IVF model at $path fit on ${m.n} rows, corpus now $current " +
            s"(≥ ${growth}× growth) — refitting")
          fitAndSave()
        } else {
          if (current != m.n)
            log.warn(s"IVF model at $path fit on ${m.n} rows, corpus now $current — " +
              "serving stored centroids (below refit threshold)")
          m
        }
    }
  }

  // ---------------------------------------------------------------- SQL --
  private[operators] def idotSql(a: String, b: String, dim: Int = Dim): String =
    s"list_sum(list_transform(generate_series(1, $dim), j -> $a[j] * $b[j]))"

  /** DuckDB CTE chain from an upstream `eq(vec_id, q)` CTE to a final
    * `cents(cid, cq)` CTE: the sample mod derived from the corpus count
    * (the closed form of [[derivedSampleMod]]), the seeding picks unrolled
    * (one argmin CTE per seed, chosen seeds excluded from the pool) and
    * exactly `maxIters` Lloyd iterations — the closed form of [[fit]]'s
    * recurrence, reproducing identical centroids.
    */
  private[operators] def centroidsSql(k: Int, maxIters: Int,
      dim: Int = Dim, prefix: String = "iv", src: String = "eq",
      out: String = "cents"): String = {
    // Every recurrent CTE is MATERIALIZED: iv_seeds{i} is referenced twice
    // per seeding level (by iv_m{i+1} and iv_seeds{i+1}), so an inlining
    // planner would otherwise expand the chain 2^k times.
    val sb = new StringBuilder
    // the closed form of derivedSampleMod(n, k): the seed-sample target
    // scales with k so sample ≥ k at any corpus size (for the fixture
    // k=16 the greatest() resolves to TargetSeedSample — byte-identical
    // centroids to the fixed-target form)
    sb ++= s"${prefix}_mod AS (SELECT greatest(1, count(*) // greatest($TargetSeedSample, ${SeedSamplePerCell * k})) AS m FROM $src),\n"
    sb ++= s"${prefix}_samp AS MATERIALIZED (SELECT vec_id, q FROM $src WHERE CAST('0x' || substr(md5('ivf|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % (SELECT m FROM ${prefix}_mod) = 0),\n"
    sb ++= s"${prefix}_seeds0 AS MATERIALIZED (SELECT 0 AS cid, vec_id, q FROM ${prefix}_samp WHERE vec_id = (SELECT min(vec_id) FROM ${prefix}_samp)),\n"
    for (i <- 1 until k) {
      sb ++= s"${prefix}_m$i AS (SELECT s.vec_id, max(${idotSql("s.q", "c.q", dim)}) AS m FROM ${prefix}_samp s, ${prefix}_seeds${i - 1} c WHERE s.vec_id NOT IN (SELECT vec_id FROM ${prefix}_seeds${i - 1}) GROUP BY s.vec_id),\n"
      sb ++= s"${prefix}_p$i AS (SELECT $i AS cid, s.vec_id, s.q FROM ${prefix}_samp s JOIN (SELECT vec_id FROM ${prefix}_m$i ORDER BY m ASC, vec_id ASC LIMIT 1) t USING (vec_id)),\n"
      sb ++= s"${prefix}_seeds$i AS MATERIALIZED (SELECT * FROM ${prefix}_seeds${i - 1} UNION ALL SELECT * FROM ${prefix}_p$i),\n"
    }
    sb ++= s"${prefix}_cents0 AS MATERIALIZED (SELECT cid, q AS cq FROM ${prefix}_seeds${k - 1}),\n"
    for (t <- 1 to maxIters) {
      sb ++= s"${prefix}_s$t AS (SELECT e.vec_id, c.cid, ${idotSql("e.q", "c.cq", dim)} AS idot FROM $src e, ${prefix}_cents${t - 1} c),\n"
      sb ++= s"${prefix}_a$t AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk FROM ${prefix}_s$t) WHERE rk = 1),\n"
      sb ++= s"${prefix}_upd$t AS (SELECT cid, i, CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv FROM (SELECT a.cid, e.q FROM ${prefix}_a$t a JOIN $src e USING (vec_id)) mem, range(1, ${dim + 1}) AS r(i) GROUP BY cid, i),\n"
      sb ++= s"${prefix}_cents$t AS MATERIALIZED (SELECT cid, list(cv ORDER BY i) AS cq FROM ${prefix}_upd$t GROUP BY cid),\n"
    }
    sb ++= s"$out AS (SELECT cid, cq FROM ${prefix}_cents$maxIters)"
    sb.toString
  }
}
