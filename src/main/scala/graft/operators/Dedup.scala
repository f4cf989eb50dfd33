package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication north-star operators over `documents` (builder prompt:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard). The reference has no dedup
  * surface (it even disables ClickHouse insert dedup — clickhouse_db.py:23);
  * these are the training-data-pipeline extensions, designed shuffle-lean:
  *
  *  - exact dedup: one hash-groupBy on a content fingerprint;
  *  - n-gram Jaccard: inverted-index self-join on shingles (shuffle keyed by
  *    shingle, never a cross join) — the scalable exact formulation;
  *  - MinHash+LSH: shingle→16-perm minhash→4×4 banding→bucket join→exact
  *    verify. At 100 TB the band join touches only colliding buckets; the
  *    exact-verify re-join is restricted to surviving candidates;
  *  - SimHash: TF-weighted 60-bit fingerprint; 4×15-bit band join for
  *    candidates, hamming ≤ 3 verify.
  *
  * All four are fully oracle-checked: hashes are md5-derived (`hex60`) so
  * DuckDB computes the *identical* signatures, bands, and candidates —
  * approximate algorithms, exact differential testing.
  *
  * Skew note (100 TB): a shingle appearing in f docs contributes O(f²) join
  * pairs. Production runs cap document frequency (drop shingles with
  * df > cap — standard in MinHash dedup); the cap is a parameter here and
  * off in oracle queries so both engines compute the same closed form.
  */
object Dedup {

  private val NumPerms = 16
  private val Bands = 4
  private val RowsPerBand = NumPerms / Bands
  private val JaccardThreshold = 0.8
  /** Production df-cap for the capped Jaccard path (SCALE.md): shingles in
    * more than DfCap documents carry no near-dup signal (boilerplate) and
    * dominate the Σdf² pair expansion — drop them before pairing.
    */
  private[graft] val DfCap = 64

  /** Overlap-coefficient (containment) threshold for q79: |A∩B|/min(|A|,|B|)
    * ≥ 0.8 — the doc-inside-doc duplicates Jaccard structurally misses (a
    * quote of a tenth of a long document caps its Jaccard at ~0.1 however
    * exact the copy is, while its containment is ~1.0).
    */
  private val ContainmentThreshold = 0.8

  /** Minhash permutation family: ONE md5 per distinct shingle, then 16
    * affine transforms `(a_j·h + b_j) mod p` over the Mersenne prime
    * p = 2^31−1 (products < 2^62, no BIGINT overflow in either engine).
    * This replaces 16 md5 invocations per shingle row — the difference
    * between ~24M and ~0.05M digest computations at sf0.1 — while staying
    * bit-identical in DuckDB.
    */
  /** q165 sample target: the sweep's doc sample aims at this many docs
    * (mod = max(1, n div target)), so the report's pair volume — incl.
    * its deliberately-diagnostic 16×1 level and uncapped exact
    * denominator — is bounded by ~(2·target)² docs at ANY corpus size.
    * Below the target (fixture SFs ≤ 0.01) the derived mod is 1 and the
    * sample IS the corpus.
    */
  private[graft] val LshSweepTargetDocs = 1024L

  private val MersenneP = 2147483647L
  private val permA: IndexedSeq[Long] =
    (1 to NumPerms).map(j => graft.functions.VectorFunctions.md5Hex60(s"mh_a|$j") % (MersenneP - 1) + 1)
  private val permB: IndexedSeq[Long] =
    (1 to NumPerms).map(j => graft.functions.VectorFunctions.md5Hex60(s"mh_b|$j") % MersenneP)
  private val SimHashBits = 60
  private val SimHashBands = 4
  private val SimHashBandBits = SimHashBits / SimHashBands
  private val HammingMax = 3

  // ---------------------------------------------------------------- SQL --
  /** Shared DuckDB CTEs: normalized text → tokens → distinct 3-gram
    * shingles, carried as 60-bit md5 hashes exactly like the Spark side
    * ([[TextAnalysis.docShingleSets]]) — 8-byte join keys, identical in
    * both engines.
    */
  private[operators] val shingleBaseCtes =
    """d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
      |tok AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS w FROM d),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
      |                               i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS s
      |       FROM tok)""".stripMargin

  private[operators] val shingleCtes =
    s"""$shingleBaseCtes,
      |nsh AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS n_inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  private val jaccardExpr =
    "CAST(i.n_inter AS DOUBLE) / CAST(na.ns + nb.ns - i.n_inter AS DOUBLE)"

  /** Jaccard in exact micro-units: floor on the identical IEEE double, not
    * round(x, 6) — the engines' round() disagree at digit boundaries.
    */
  private val jacMicroSql =
    s"CAST(floor(($jaccardExpr) * 1000000) AS BIGINT) AS jac_micro"

  private def hex60Sql(e: String) = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** shh/sig/bands/cand/ndpairs CTEs (append after [[shingleCtes]]):
    * exact-verified near-dup pairs at the Jaccard threshold — shared by
    * q37 and the corpus-clean composition.
    */
  private[operators] val minhashPairCtes: String = {
    val minCols = (1 to NumPerms)
      .map(j => s"min((${permA(j - 1)} * hb + ${permB(j - 1)}) % $MersenneP) AS m$j")
      .mkString(",\n      |    ")
    val bandRows = (0 until Bands).map { b =>
      val cs = (1 to RowsPerBand).map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cs) AS bh FROM sig"
    }.mkString("\n      |    UNION ALL ")
    s"""shh AS (SELECT doc_id, s % $MersenneP AS hb FROM sh),
      |sig AS (SELECT doc_id,
      |    $minCols
      |  FROM shh GROUP BY doc_id),
      |bands AS (
      |    $bandRows),
      |cand AS (SELECT DISTINCT x.doc_id AS a_doc, y.doc_id AS b_doc
      |         FROM bands x JOIN bands y
      |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      |ndpairs AS MATERIALIZED (SELECT c.a_doc, c.b_doc, $jacMicroSql
      |            FROM cand c
      |            JOIN inter i ON c.a_doc = i.a_doc AND c.b_doc = i.b_doc
      |            JOIN nsh na ON c.a_doc = na.doc_id
      |            JOIN nsh nb ON c.b_doc = nb.doc_id
      |            WHERE $jaccardExpr >= $JaccardThreshold)""".stripMargin
  }

  /** Near-dup connected components (id, root) as a MATERIALIZED shared
    * frame per (session, corpus) — the [[TextAnalysis.shingleIndex]]
    * posture one level up: the star rounds cost several driver-synced
    * jobs over the pair set, and BOTH cluster consumers (q73's cluster
    * listing, q75's representative selection) need the identical result,
    * which is a pure function of the verified pair set. Small (one row
    * per doc appearing in any pair), deterministic, so caching changes no
    * result. Rebuilds with the shingle index it derives from (the
    * components of a grown corpus are a different frame).
    */
  private val componentsCache = graft.SessionCache.frames("components", upstream = Seq(verifiedPairsCache))

  /** Distinct verified near-dup triples (a_doc, b_doc, jac_micro) over the
    * FULL corpus shingle index, one per (session, corpus): the band join +
    * exact verify is the expensive part, and THREE consumers need exactly
    * this set — q37's scalar output, and the component edges behind
    * q73/q75. Pair-count-sized (tiny), deterministic.
    */
  private[operators] val verifiedPairsCache =
    graft.SessionCache.frames("verifiedPairs", upstream = Seq(TextAnalysis.shingleIndexCache))

  private[operators] def verifiedPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    verifiedPairsCache.getOrElseUpdate(s, dir)(
      minhashVerifiedDss(s, TextAnalysis.shingleIndex(s, dir))
        .select(col("a_doc"), col("b_doc"),
          floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  private[operators] def components(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    componentsCache.getOrElseUpdate(s, dir)(
      connectedComponentsStar(verifiedPairs(s, dir).select(col("a_doc"), col("b_doc")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** Corpus-wide decontamination triples (doc_id, bench_doc, n_shared ≥ 5)
    * against the fixture benchmark slice (doc_id % 7 = 0), one per
    * (session, corpus) — the [[verifiedPairs]] posture for the OTHER
    * expensive shingle join: q63 serves its ordered output from it, and
    * the corpus-clean composition (q64/q69) anti-joins its distinct
    * doc_ids, instead of each re-running the shingle-keyed join.
    * Contamination is a per-(doc, bench_doc) property (shared-shingle
    * counts don't depend on other corpus docs), so restricting the
    * corpus-wide set to clean's survivors ≡ recomputing on survivors.
    */
  private[operators] val decontPairsCache =
    graft.SessionCache.frames("decontPairs", upstream = Seq(TextAnalysis.shingleIndexCache))

  private[operators] def decontPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    decontPairsCache.getOrElseUpdate(s, dir) {
      val sh = TextAnalysis.shingleIndex(s, dir)
        .select(col("doc_id"), explode(col("ss")).as("s"))
      val bench = sh.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("bench_doc"), col("s"))
      decontaminate(sh.filter(col("doc_id") % 7 =!= 0), bench, minShared = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** `comp AS (doc_id, root)` CTEs over [[minhashPairCtes]]'s `ndpairs`:
    * unrolled min-label propagation to a VERIFIED fixpoint, min reachable
    * id = the component root — the closed-form oracle of
    * [[connectedComponentsStar]], shared by q73 and the
    * cluster-representative selection (q75).
    */
  /** Unrolled min-label levels in the oracle's component chain. Each
    * level is O(V+E) node/edge-sized joins, versus the old recursive
    * all-pairs reachability whose working set is Σ cluster² rows — the
    * oracle leg that spilled >70 GB on the sf1 pair graph (SCALE.md
    * round-11 note). With the label-of-label shortcut the min spreads
    * superlinearly per level, so 12 levels cover any fixture cluster by
    * a wide margin — and the convergence SENTINEL makes the bound safe
    * rather than assumed.
    */
  private val CompIters = 12

  /** DuckDB connected components over `ndpairs` as STATICALLY UNROLLED
    * min-label propagation (the Lloyd-unroll discipline of
    * [[Ivf.centroidsSql]] — no recursive CTE): level t improves every
    * node's label to the least of (its label, its neighbors' labels, its
    * LABEL'S label — path compression; labels are always node ids, so
    * the label self-join is total). Labels are monotone nonincreasing
    * and bounded below by the component min, and any fixpoint IS the
    * component min (induct along a path from the min node: at a fixpoint
    * each node's label ≤ its predecessor-toward-min's label). The `conv`
    * sentinel runs ONE extra level and publishes `comp` only if nothing
    * changed — an under-unrolled graph yields an EMPTY comp and a LOUD
    * oracle mismatch, never silently wrong roots.
    */
  private[operators] val componentCtes: String = {
    val levels = (1 to CompIters + 1).map { t =>
      s"""cn$t AS (SELECT e.dst AS id, min(p.l) AS m FROM cl${t - 1} p JOIN e ON e.src = p.id GROUP BY e.dst),
         |cl$t AS MATERIALIZED (SELECT p.id, least(p.l, coalesce(nm.m, p.l), pp.l) AS l
         |    FROM cl${t - 1} p
         |    LEFT JOIN cn$t nm ON nm.id = p.id
         |    JOIN cl${t - 1} pp ON pp.id = p.l)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT a_doc AS src, b_doc AS dst FROM ndpairs
      |      UNION SELECT b_doc, a_doc FROM ndpairs),
      |nd AS (SELECT DISTINCT src AS id FROM e),
      |cl0 AS MATERIALIZED (SELECT id, id AS l FROM nd),
      |$levels,
      |conv AS (SELECT count(*) AS c FROM cl$CompIters a
      |         JOIN cl${CompIters + 1} b ON a.id = b.id AND a.l <> b.l),
      |comp AS (SELECT id AS doc_id, l AS root FROM cl$CompIters
      |         WHERE (SELECT c FROM conv) = 0)""".stripMargin
  }

  /** q145 power-iteration count (fixed — both engines run the identical
    * recurrence, so convergence is not a cross-engine concern).
    */
  private val PrIters = 5

  /** q145 total rank mass in pico-units: 10¹² keeps per-node floor
    * divisions meaningful up to ~10¹⁰ graph nodes while every
    * intermediate (85·Σ contributions ≤ 85·10¹²) stays far inside BIGINT.
    */
  private val PrMass = 1000000000000L

  /** Generated CTEs for the q145 oracle: p0 = uniform mass, then `iters`
    * unrolled rounds of pK(v) = (15·(M div N)) div 100 +
    * (85·Σ_{u∈nbrs(v)} pK₋₁(u) div deg(u)) div 100 — the same integer
    * recurrence [[pagerankFrame]] executes, formulated independently in
    * SQL (undirected edges from ndpairs, so every node has deg ≥ 1 and
    * receives ≥ 1 contribution — no dangling-node mass to redistribute).
    */
  /** Every frame here is MATERIALIZED (the [[Ivf.centroidsSql]]
    * discipline): `ed` feeds dg + all `iters` rounds and each round's
    * p$i feeds the next — an inlining planner would otherwise re-expand
    * the whole upstream minhash chain once per reference (measured: the
    * q145 oracle at sf1 ran >9 min / spilled where q73's, sharing every
    * CTE up to `comp`, runs in ~15 s — the entire gap was re-inlining).
    */
  private[operators] def pagerankCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"p$i AS MATERIALIZED (SELECT e.dst AS doc_id, " +
        s"CAST((15 * ($PrMass // t.n)) // 100 + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr " +
        s"FROM ed e JOIN p${i - 1} p ON e.src = p.doc_id " +
        s"JOIN dg d ON e.src = d.src, t GROUP BY e.dst, t.n)"
    }.mkString(",\n")
    s"""ed AS MATERIALIZED (SELECT a_doc AS src, b_doc AS dst FROM ndpairs
      |      UNION ALL SELECT b_doc, a_doc FROM ndpairs),
      |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY src),
      |t AS (SELECT count(*) AS n FROM dg),
      |p0 AS (SELECT src AS doc_id, $PrMass // t.n AS pr FROM dg, t),
      |$rounds""".stripMargin
  }

  /** Damped PageRank over an undirected (a_doc, b_doc) pair frame —
    * `iters` power iterations of the integer recurrence above. Returns
    * (doc_id, deg, pr). Each iteration is one edge-keyed hash aggregate
    * over the localCheckpointed (src, dst, deg) frame; round N's blocks
    * are freed as soon as round N+1 is materialized (the q138 loop
    * posture), so peak storage is two node-sized frames + the edge frame
    * regardless of iteration count.
    */
  private[operators] def pagerankFrame(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs.select(col("a_doc").as("src"), col("b_doc").as("dst"))
      .unionAll(pairs.select(col("b_doc").as("src"), col("a_doc").as("dst")))
    val deg = graft.Materialize.ephemeral(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val edgesDeg = graft.Materialize.ephemeral(edges.join(deg, "src"))
    val nNodes = deg.count() // bounded driver read: one scalar
    val init = PrMass / nNodes
    val base = (15L * init) / 100L
    var pr = deg.select(col("src").as("doc_id"), lit(init).as("pr")).localCheckpoint()
    for (i <- 1 to iters) {
      val plan = edgesDeg.join(pr, edgesDeg("src") === pr("doc_id"))
        .select(edgesDeg("dst").as("dst"), expr("pr div deg").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(base) + expr("(85 * sum(contrib)) div 100")).as("pr"))
        .select(col("dst").as("doc_id"), col("pr"))
      val nxt =
        if (i == iters) graft.Materialize.ephemeral(plan.join(deg, col("doc_id") === col("src"))
          .select(col("doc_id"), col("deg"), col("pr")))
        else plan.localCheckpoint()
      graft.Materialize.free(pr)
      pr = nxt
    }
    pr
  }

  /** Verified near-dup rows (a_doc, b_doc, jac_raw) from a shingle-set
    * frame — band-join + exact intersect, possibly duplicated across
    * colliding bands (dedupe on the scalar outputs downstream). q37 runs
    * it off the shared [[TextAnalysis.shingleIndex]]; the corpus-clean
    * composition anti-joins the cached [[verifiedPairs]] built from it.
    */
  private def minhashVerifiedDss(spark: org.apache.spark.sql.SparkSession,
      dss: DataFrame, newSide: Column = lit(true)): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val sig = dss
      .withColumn("sigs", call_function("minhash_sigs", col("ss"),
        typedLit(permA), typedLit(permB), lit(MersenneP)))
      .filter(col("sigs").isNotNull) // docs with <3 tokens have no shingles
    val bands = sig.select(col("doc_id"), col("ss"),
        explode(array(bandStructsOf(col("sigs")): _*)).as("tb"))
      .select(col("doc_id"), col("ss"), col("tb.band").as("band"), col("tb.bh").as("bh"))
    // `newSide` restricts the HIGHER-id join side: for the incremental
    // path (q74) only band rows of the new slice sit on the probe side,
    // so the pair space is new×all, not all×all — the full recompute is
    // the default (newSide = true).
    bands.as("x").join(bands.filter(newSide).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_doc"), col("y.doc_id").as("b_doc"),
        col("x.ss").as("a_ss"), col("y.ss").as("b_ss"))
      .withColumn("n_inter", size(array_intersect(col("a_ss"), col("b_ss"))))
      .withColumn("jac_raw", col("n_inter").cast(DoubleType) /
        (size(col("a_ss")) + size(col("b_ss")) - col("n_inter")).cast(DoubleType))
      .filter(col("jac_raw") >= JaccardThreshold)
  }

  /** q74's incremental pair set over an EXPLICIT shingle frame: verified
    * near-dup pairs whose higher end satisfies `newSide`, rendered in the
    * q74 output shape (a_doc, b_doc, jac_micro). The streaming
    * decontamination maintainer ([[graft.streaming.IndexMaintenance]])
    * calls this per micro-batch with store∪batch shingles and
    * `doc_id >= batchMinId` as the probe side, so each batch pays
    * new×all band-join cost, never all×all.
    */
  private[graft] def incrementalPairsDss(spark: org.apache.spark.sql.SparkSession,
      dss: DataFrame, newSide: Column): DataFrame =
    minhashVerifiedDss(spark, dss, newSide)
      .select(col("a_doc"), col("b_doc"),
        floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
      .distinct()

  // ------------------------------------------------------------- specs --
  val specs: Seq[QuerySpec] = Seq(

    // ----- exact dedup: hash-groupBy on bag-of-words fingerprint ----------
    QuerySpec("q35_dedup_exact")(
      """SELECT fp_bag, count(*) AS n_docs, min(doc_id) AS keep_doc_id
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(
        |          regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'))), ' ')) AS fp_bag
        |      FROM documents)
        |GROUP BY fp_bag
        |ORDER BY keep_doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))
            .cast(BinaryType)).as("fp_bag"))
        .groupBy(col("fp_bag"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy(col("keep_doc_id"))
    },

    // ----- exact n-gram Jaccard via inverted-index self-join --------------
    QuerySpec("q36_ngram_jaccard")(
      s"""WITH $shingleCtes
        |SELECT i.a_doc, i.b_doc, i.n_inter, na.ns AS n_a, nb.ns AS n_b,
        |  $jacMicroSql
        |FROM inter i
        |JOIN nsh na ON i.a_doc = na.doc_id
        |JOIN nsh nb ON i.b_doc = nb.doc_id
        |WHERE $jaccardExpr >= $JaccardThreshold
        |ORDER BY i.a_doc, i.b_doc""".stripMargin) { (s, dir) =>
      pairJaccardOverPostings(corpusPostings(s, dir))
        .filter(col("jac_raw") >= JaccardThreshold)
        .select(col("a_doc"), col("b_doc"), col("n_inter"),
          col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
          floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- df-capped exact Jaccard: the at-scale default -------------------
    // Same semantics as q36 but candidates come from df-capped posting
    // lists (drop shingles in > 64 docs before pair expansion — bounds
    // per-task skew to cap²/2 and total shuffle to Σ min(df,cap)²), then
    // n_inter/sizes are EXACT via shingle-set intersection on survivors.
    // This is the path SCALE.md prescribes for 100 TB; the oracle applies
    // the identical cap rule, so the comparison is exact, not approximate.
    QuerySpec("q36a_jaccard_capped")(
      s"""WITH $shingleCtes,
        |sdf AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |cand AS (SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
        |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |         JOIN sdf ON sdf.s = a.s
        |         WHERE sdf.df <= $DfCap)
        |SELECT c.a_doc, c.b_doc, i.n_inter, na.ns AS n_a, nb.ns AS n_b,
        |  $jacMicroSql
        |FROM cand c
        |JOIN inter i ON c.a_doc = i.a_doc AND c.b_doc = i.b_doc
        |JOIN nsh na ON c.a_doc = na.doc_id
        |JOIN nsh nb ON c.b_doc = nb.doc_id
        |WHERE $jaccardExpr >= $JaccardThreshold
        |ORDER BY c.a_doc, c.b_doc""".stripMargin) { (s, dir) =>
      pairJaccardCapped(TextAnalysis.shingleIndex(s, dir), DfCap,
          postOpt = Some(corpusPostings(s, dir)))
        .filter(col("jac_raw") >= JaccardThreshold)
        .select(col("a_doc"), col("b_doc"), col("n_inter"),
          col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
          floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- MinHash + LSH banding, candidate-restricted exact verify -------
    QuerySpec("q37_minhash_lsh")(
      s"""WITH $shingleCtes,
        |$minhashPairCtes
        |SELECT a_doc, b_doc, jac_micro FROM ndpairs
        |ORDER BY a_doc, b_doc""".stripMargin) { (s, dir) =>
      // NARROW signature construction ([[minhashVerifiedDss]]): all 16
      // permutation minima in one native codegen pass (minhash_sigs), the
      // shingle-set array riding the (4 rows/doc) band rows so the exact
      // verify runs pipelined on the band-join output — one shingling
      // compute (off the shared index), no re-joins; multi-band duplicates
      // dedupe after verify where rows are 3 scalars, not arrays. The
      // verified triple set is the shared [[verifiedPairs]] frame —
      // q73/q75's component edges reuse it.
      verifiedPairs(s, dir)
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- minhash sketch-accuracy report ---------------------------------
    // The dedup-side sibling of the recall reports (q80/q101 index loss,
    // q124 quantization loss): for every VERIFIED near-dup pair, the
    // Jaccard the 16-permutation signature ESTIMATES (matching-minima
    // share) next to the exact value — the parameterization evidence
    // behind the banding design, as exact integers (match counts and one
    // integer division; no float estimate drifts cross-engine). Signature
    // rows ride the same native minhash_sigs pass and shared shingle
    // index as q37; the join is pair-sized.
    QuerySpec("q126_minhash_accuracy") {
      val matchSum = (1 to NumPerms)
        .map(j => s"CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $shingleCtes,
        |$minhashPairCtes,
        |est AS (SELECT p.a_doc, p.b_doc, p.jac_micro, ($matchSum) AS n_match
        |        FROM ndpairs p JOIN sig sa ON sa.doc_id = p.a_doc
        |        JOIN sig sb ON sb.doc_id = p.b_doc)
        |SELECT a_doc, b_doc, jac_micro,
        |  CAST((n_match * 1000000) // $NumPerms AS BIGINT) AS est_micro,
        |  CAST((n_match * 1000000) // $NumPerms AS BIGINT) - jac_micro AS err_micro
        |FROM est ORDER BY a_doc, b_doc""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val pairs = verifiedPairs(s, dir)
      // signatures only for docs that appear in a pair: the semi join
      // prunes the corpus BEFORE the 16-permutation pass, so the sig work
      // is |pair docs|, not 2×|corpus| (the frame feeds both join sides)
      val pairDocs = pairs.select(col("a_doc").as("doc_id"))
        .union(pairs.select(col("b_doc").as("doc_id"))).distinct()
      val sig = TextAnalysis.shingleIndex(s, dir)
        .join(pairDocs, Seq("doc_id"), "left_semi")
        .withColumn("sigs", call_function("minhash_sigs", col("ss"),
          typedLit(permA), typedLit(permB), lit(MersenneP)))
        .filter(col("sigs").isNotNull)
        .select(col("doc_id"), col("sigs"))
        // both join sides read it — materialize once, released post-query
        .transform(graft.Materialize.ephemeral)
      pairs
        .join(sig.select(col("doc_id").as("a_doc"), col("sigs").as("sa")), "a_doc")
        .join(sig.select(col("doc_id").as("b_doc"), col("sigs").as("sb")), "b_doc")
        .withColumn("n_match",
          aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v))
        .withColumn("est_micro",
          expr(s"CAST((n_match * 1000000) div $NumPerms AS BIGINT)"))
        .select(col("a_doc"), col("b_doc"), col("jac_micro"),
          col("est_micro"), (col("est_micro") - col("jac_micro")).as("err_micro"))
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- LSH banding-parameter sweep (the dedup family's q158) ----------
    // The S-curve evidence behind the banding design: candidate-pair cost
    // AND true-pair recall per (bands × rows) configuration of the SAME
    // 16-permutation signature — bands ∈ {1,2,4,8,16}, rows = 16/bands.
    // The q37 production point (4×4) should sit where recall saturates
    // before the candidate volume explodes; this report is how an
    // operator verifies that on THEIR corpus before a 100-TB dedup run.
    // Single-generation discipline via a structural nesting: band
    // boundaries are aligned blocks, so a collision at b bands implies a
    // collision at every finer split — the finest level (16 1-row bands,
    // i.e. ∃j: mⱼ agree) generates each candidate pair ONCE, the per-pair
    // minima-match bitmap decides every coarser level's membership in
    // plain boolean expressions, and a 5-row fan-out prices the curve.
    // Recall is priced against the EXACT ≥τ pair set (q36's inverted
    // index), with a dynamic denominator like q159.
    //
    // SAMPLED (round 17): the sweep's two deliberately-diagnostic legs —
    // the uncapped exact denominator and the 16×1 single-permutation
    // collision level — grow ~quadratically within collision buckets, so
    // the REPORT itself could not run at production scale (r16 verdict
    // "What's wrong" #1). The sweep now runs over a deterministic hash
    // sample of docs (the q110/q129 draw recipe): mod = max(1,
    // n_docs div LshSweepTargetDocs), keep doc iff
    // hex60('lshsweep|' || doc_id) % mod = 0 — BOTH engines derive the
    // identical mod from the identical count, so the report stays
    // oracle-exact at every scale while its pair volume is bounded by
    // ~(2·target)² docs FOREVER. An S-curve is a per-pair Jaccard
    // property, so a uniform doc sample estimates it unbiasedly;
    // DedupSimilaritySpec pins sample-vs-full agreement at sf0.1 (at
    // fixture SFs ≤ 0.01 the derived mod is 1: sample ≡ full corpus).
    // Everything is integer/boolean-exact.
    QuerySpec("q165_lsh_band_sweep") {
      val levels = Seq(1, 2, 4, 8, 16)
      val minCols = (1 to NumPerms)
        .map(j => s"min((${permA(j - 1)} * hb + ${permB(j - 1)}) % $MersenneP) AS m$j")
        .mkString(",\n        |    ")
      val b16Arms = (1 to NumPerms)
        .map(j => s"SELECT doc_id, $j AS j, m$j AS mj FROM sig")
        .mkString("\n        |    UNION ALL ")
      val flags = (1 to NumPerms)
        .map(j => s"(sa.m$j = sb.m$j) AS f$j").mkString(", ")
      def memberSql(bands: Int): String = {
        val r = NumPerms / bands
        (0 until bands).map { i =>
          (1 to r).map(k => s"p.f${i * r + k}").mkString("(", " AND ", ")")
        }.mkString("(", " OR ", ")")
      }
      val memberCase = levels
        .map(b => s"WHEN ${b} THEN ${memberSql(b)}").mkString(" ")
      s"""WITH $shingleBaseCtes,
        |smod AS (SELECT greatest(1, count(*) // $LshSweepTargetDocs) AS m FROM documents),
        |ssh AS MATERIALIZED (SELECT doc_id, s FROM sh
        |  WHERE ${hex60Sql("'lshsweep|' || CAST(doc_id AS VARCHAR)")} % (SELECT m FROM smod) = 0),
        |nsh AS (SELECT doc_id, count(*) AS ns FROM ssh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, count(*) AS n_inter
        |          FROM ssh a JOIN ssh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |shh AS (SELECT doc_id, s % $MersenneP AS hb FROM ssh),
        |sig AS (SELECT doc_id,
        |    $minCols
        |  FROM shh GROUP BY doc_id),
        |b16 AS (
        |    $b16Arms),
        |cand AS (SELECT DISTINCT x.doc_id AS a_doc, y.doc_id AS b_doc
        |         FROM b16 x JOIN b16 y
        |           ON x.j = y.j AND x.mj = y.mj AND x.doc_id < y.doc_id),
        |pm AS MATERIALIZED (SELECT c.a_doc, c.b_doc, $flags
        |      FROM cand c
        |      JOIN sig sa ON sa.doc_id = c.a_doc
        |      JOIN sig sb ON sb.doc_id = c.b_doc),
        |lv(bands) AS (VALUES ${levels.map(l => s"($l)").mkString(", ")}),
        |mem AS (SELECT l.bands, p.a_doc, p.b_doc
        |        FROM lv l JOIN pm p ON CASE l.bands $memberCase END),
        |ex AS (SELECT i.a_doc, i.b_doc FROM inter i
        |       JOIN nsh na ON i.a_doc = na.doc_id
        |       JOIN nsh nb ON i.b_doc = nb.doc_id
        |       WHERE $jaccardExpr >= $JaccardThreshold),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM ex),
        |nc AS (SELECT bands, count(*) AS n_cand FROM mem GROUP BY bands),
        |h AS (SELECT m.bands, count(*) AS n_hits
        |      FROM mem m JOIN ex ON ex.a_doc = m.a_doc AND ex.b_doc = m.b_doc
        |      GROUP BY m.bands)
        |SELECT l.bands, coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
        |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits, nt.n_true,
        |  coalesce((coalesce(h.n_hits, CAST(0 AS BIGINT)) * 1000000)
        |    // nullif(nt.n_true, 0), 0) AS recall_micro
        |FROM lv l LEFT JOIN nc ON nc.bands = l.bands
        |  LEFT JOIN h ON h.bands = l.bands, nt
        |ORDER BY l.bands""".stripMargin
    } { (s, dir) => lshBandSweepReport(s, dir, lshSweepSampleMod(s, dir)) },

    // ----- incremental near-dup: new batch vs existing corpus -------------
    // The daily production dedup job: check an APPEND-ONLY increment (here
    // the top-20%-of-doc_id slice, threshold = floor(0.8·max(doc_id)) so
    // both engines derive it identically) against the whole corpus —
    // pairs must involve at least one new doc. Append-only ids mean a
    // pair (a < b) involves a new doc iff b ≥ T, so the oracle is the
    // full pair set filtered on its higher end, while the Spark side
    // never GENERATES the old×old pairs at all: the minhash band join
    // probes the persisted shingle index with only the increment's band
    // rows (new×all, not all×all — the incremental-index pattern the
    // shared indexes exist for).
    QuerySpec("q74_incremental_neardup")(
      s"""WITH $shingleCtes,
        |$minhashPairCtes,
        |t AS (SELECT (max(doc_id) * 8) // 10 AS t FROM documents)
        |SELECT a_doc, b_doc, jac_micro FROM ndpairs, t
        |WHERE b_doc >= t.t
        |ORDER BY a_doc, b_doc""".stripMargin) { (s, dir) =>
      val dss = TextAnalysis.shingleIndex(s, dir)
      // integer arithmetic on BOTH sides — double 0.8 would round the
      // boundary differently for snowflake-scale ids (the decimal-vs-
      // double parity class).
      val t = Tables.load(s, dir, "documents")
        .selectExpr("(max(doc_id) * 8) div 10 AS t").collect()(0).getLong(0)
      minhashVerifiedDss(s, dss, newSide = col("doc_id") >= t)
        .select(col("a_doc"), col("b_doc"),
          floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
        .distinct()
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- benchmark decontamination --------------------------------------
    // The eval-set contamination check a training pipeline runs before
    // shipping data: flag corpus documents sharing ≥ 5 3-gram shingles
    // with any benchmark document. The bench side broadcasts only below a
    // SIZE GATE ([[decontaminate]]); above it the join is a plain
    // shingle-keyed shuffle equi-join. (Fixture benchmark: doc_id % 7 = 0
    // — which is corpus-proportional, exactly the case the gate exists
    // for; the fixture passes the gate only because sf fixtures are small.)
    QuerySpec("q63_decontaminate")(
      s"""WITH $shingleCtes,
        |bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)
        |SELECT c.doc_id, b.doc_id AS bench_doc, count(*) AS n_shared
        |FROM corp c JOIN bench b ON c.s = b.s
        |GROUP BY 1, 2
        |HAVING count(*) >= 5
        |ORDER BY c.doc_id, bench_doc""".stripMargin) { (s, dir) =>
      decontPairs(s, dir).orderBy(col("doc_id"), col("bench_doc"))
    },

    // ----- near-dup clusters: connected components over verified pairs ----
    // Production dedup keeps ONE representative per duplicate CLUSTER —
    // the transitive closure of the pair list, not the pairwise drop.
    // Spark side: alternating large-star/small-star
    // ([[connectedComponentsStar]], O(log n) rounds at any diameter);
    // oracle side: the closed form as a DuckDB recursive CTE (reachability
    // from each node, min reached id = the component root). Both engines
    // must agree on every doc's root and its cluster size — pinning the
    // iterative algorithm against an independent formulation, not a port
    // of itself.
    QuerySpec("q73_dedup_clusters")(
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |$componentCtes
        |SELECT c.doc_id, c.root, sz.n_members
        |FROM comp c JOIN (SELECT root, count(*) AS n_members
        |                  FROM comp GROUP BY root) sz USING (root)
        |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      val comp = components(s, dir)
      comp
        .join(comp.groupBy(col("root")).agg(count(lit(1)).as("n_members")), "root")
        .select(col("id").as("doc_id"), col("root"), col("n_members"))
        .orderBy(col("doc_id"))
    },

    // ----- cluster-representative selection (best-of-cluster dedup) -------
    // Production dedup keeps the BEST member of each near-dup cluster, not
    // the lowest id: q73's connected components joined with q33's quality
    // score, argmax(quality, tie → min doc_id) per root. The per-cluster
    // argmax runs through the salted two-phase top-k ([[TopK.perKeyTopK]],
    // k=1) — a pathological mega-cluster (corpus-wide boilerplate) never
    // funnels through a single window task. Every other shuffle is keyed
    // by root or doc_id; both shared indexes (shingles, quality) are
    // reused, so the marginal cost over q73 is one narrow join + top-1.
    QuerySpec("q75_cluster_representatives")(
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |$componentCtes,
        |${TextAnalysis.qualityCteSql},
        |rep AS (SELECT c.doc_id, c.root, q.quality_micro,
        |    row_number() OVER (PARTITION BY c.root
        |                       ORDER BY q.quality_micro DESC, c.doc_id ASC) AS rk
        |  FROM comp c JOIN qscore q USING (doc_id)),
        |sz AS (SELECT root, count(*) AS n_members FROM comp GROUP BY root)
        |SELECT r.root, r.doc_id AS rep_doc, r.quality_micro AS rep_quality_micro,
        |  sz.n_members
        |FROM rep r JOIN sz USING (root)
        |WHERE r.rk = 1
        |ORDER BY r.root""".stripMargin) { (s, dir) =>
      val comp = components(s, dir)
      val scored = comp
        .join(comp.groupBy(col("root")).agg(count(lit(1)).as("n_members")), "root")
        .join(TextAnalysis.qualityIndex(s, dir)
          .select(col("doc_id"), col("quality_micro")),
          col("id") === col("doc_id"))
      TopK.perKeyTopK(scored,
          keys = Seq(col("root")),
          order = Seq(col("quality_micro").desc, col("doc_id").asc),
          k = 1, saltFrom = col("doc_id"))
        .select(col("root"), col("doc_id").as("rep_doc"),
          col("quality_micro").as("rep_quality_micro"), col("n_members"))
        .orderBy(col("root"))
    },

    // ----- dup-graph PageRank centrality (structural representative) ------
    // The OTHER canonical-selection signal: q75 picks the best-QUALITY
    // member of each near-dup cluster; this ranks members by STRUCTURAL
    // centrality in the verified pair graph — the member similar to the
    // most other members (damped PageRank, d = 0.85, fixed [[PrIters]]
    // power iterations) is the template the variants derive from, the
    // web-curation signal (OPIC/Nutch) a crawl-derived corpus ranks with.
    // Integer-exact across engines: rank mass in pico-units (10¹² total),
    // per-edge contribution = pr div deg and the damping = (85·Σ) div 100
    // — every iteration is floor divisions and BIGINT sums on both sides
    // (the oracle unrolls the same recurrence as generated CTEs), so no
    // float ever appears. Scale: the graph is PAIR-set-sized (only docs
    // in ≥1 verified near-dup relation), each iteration is ONE edge-keyed
    // hash-agg over a localCheckpointed edge frame (round N's blocks are
    // freed as soon as round N+1 materializes — the q138 loop posture),
    // and the per-cluster winner runs the salted two-phase top-1 (q75's
    // mega-cluster argument). The only driver read is the node-count
    // scalar.
    QuerySpec("q145_dup_centrality")(
      s"""WITH RECURSIVE $shingleCtes,
        |$minhashPairCtes,
        |$componentCtes,
        |${pagerankCtes(PrIters)},
        |j AS (SELECT c.doc_id, c.root, d.deg, p.pr
        |      FROM comp c JOIN p$PrIters p USING (doc_id)
        |      JOIN dg d ON c.doc_id = d.src),
        |rep AS (SELECT root, doc_id,
        |          row_number() OVER (PARTITION BY root ORDER BY pr DESC, doc_id) AS rk
        |        FROM j)
        |SELECT j.doc_id, j.root, j.deg, CAST(j.pr AS BIGINT) AS pr_pico,
        |  CAST(CASE WHEN r.rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_rep
        |FROM j JOIN rep r ON j.root = r.root AND j.doc_id = r.doc_id
        |ORDER BY j.doc_id""".stripMargin) { (s, dir) =>
      val comp = components(s, dir)
      val pr = pagerankFrame(verifiedPairs(s, dir), PrIters)
      val j = graft.Materialize.ephemeral(
        comp.join(pr, comp("id") === pr("doc_id"))
          .select(col("doc_id"), col("root"), col("deg"), col("pr")))
      val reps = TopK.perKeyTopK(j,
          keys = Seq(col("root")),
          order = Seq(col("pr").desc, col("doc_id").asc),
          k = 1, saltFrom = col("doc_id"))
        .select(col("root"), col("doc_id").as("rep_doc"))
      j.join(reps, "root")
        .select(col("doc_id"), col("root"), col("deg"), col("pr").as("pr_pico"),
          (col("doc_id") === col("rep_doc")).cast(LongType).as("is_rep"))
        .orderBy(col("doc_id"))
    },

    // ----- dedup threshold sensitivity (the τ-tuning report) --------------
    // q147's knob-tuning discipline applied to the dedup family's ONE real
    // knob: for each candidate τ at or above the operating threshold, how
    // many verified pairs survive, how many docs sit in ≥1 surviving pair
    // (the removable-mass upper bound), and the exact similarity mass
    // (Σ jac_micro). Reading the report top-down shows what each
    // tightening step of τ gives up — the evidence behind "is 0.8 right,
    // or is the corpus bimodal enough for 0.9". Scale: rides the shared
    // verified-pairs frame (pair-count-sized); the 5-threshold fan-out is
    // a constant-width crossJoin of a 5-row broadcast, the distinct-doc
    // count one (tau, doc) aggregate — everything downstream of the pair
    // frame is O(pairs · 5).
    QuerySpec("q148_dedup_sensitivity")(
      s"""WITH $shingleCtes,
        |$minhashPairCtes,
        |taus AS (SELECT CAST(unnest([800000, 850000, 900000, 950000, 1000000]) AS BIGINT) AS tau_micro),
        |pt AS (SELECT t.tau_micro, p.a_doc, p.b_doc, p.jac_micro
        |       FROM ndpairs p, taus t WHERE p.jac_micro >= t.tau_micro),
        |ps AS (SELECT tau_micro, count(*) AS n_pairs,
        |         CAST(sum(jac_micro) AS BIGINT) AS jac_mass
        |       FROM pt GROUP BY tau_micro),
        |ds AS (SELECT tau_micro, count(DISTINCT doc_id) AS n_docs FROM (
        |         SELECT tau_micro, a_doc AS doc_id FROM pt
        |         UNION ALL SELECT tau_micro, b_doc FROM pt)
        |       GROUP BY tau_micro)
        |SELECT t.tau_micro,
        |  CAST(coalesce(ps.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(ds.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(ps.jac_mass, 0) AS BIGINT) AS jac_mass
        |FROM taus t LEFT JOIN ps ON t.tau_micro = ps.tau_micro
        |  LEFT JOIN ds ON t.tau_micro = ds.tau_micro
        |ORDER BY t.tau_micro""".stripMargin) { (s, dir) =>
      val taus = s.range(1).select(explode(array(
        lit(800000L), lit(850000L), lit(900000L), lit(950000L), lit(1000000L)))
        .as("tau_micro"))
      val pt = graft.Materialize.ephemeral( // 2 consumers: pair stats + doc stats
        verifiedPairs(s, dir).crossJoin(broadcast(taus))
          .filter(col("jac_micro") >= col("tau_micro")))
      val ps = pt.groupBy(col("tau_micro"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("jac_micro")).cast(LongType).as("jac_mass"))
      val ds = pt.select(col("tau_micro"), col("a_doc").as("doc_id"))
        .unionAll(pt.select(col("tau_micro"), col("b_doc").as("doc_id")))
        .groupBy(col("tau_micro"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      taus.join(ps, Seq("tau_micro"), "left").join(ds, Seq("tau_micro"), "left")
        .select(col("tau_micro"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("jac_mass"), lit(0L)).as("jac_mass"))
        .orderBy(col("tau_micro"))
    },

    // ----- near-dup pair evidence (dedup explainability) ------------------
    // The audit trail behind a dedup decision: for every verified pair,
    // the 3 RAREST shared shingles (df ASC — a shingle shared by only
    // these two docs is the strongest evidence; one in half the corpus is
    // boilerplate). This is what a human reviews when a pipeline is
    // accused of over-deduping, and what an appeals/allowlist process
    // keys on. Total order (df ASC, shingle ASC) so the evidence set is
    // reproducible. Scale: evidence extraction is PAIR-bounded — the
    // array_intersect rides the two docs' shingle-set rows (the same
    // frame the verify stage already joined), the df profile is
    // vocabulary-sized off the shared index, and the top-3 window
    // partitions by pair (corpus-cardinality key — parallel by
    // construction, no salting needed).
    QuerySpec("q151_pair_evidence")(
      s"""WITH $shingleCtes,
        |$minhashPairCtes,
        |dfm AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |shared AS (SELECT p.a_doc, p.b_doc, a.s
        |           FROM ndpairs p
        |           JOIN sh a ON a.doc_id = p.a_doc
        |           JOIN sh b ON b.doc_id = p.b_doc AND b.s = a.s),
        |r AS (SELECT sh.a_doc, sh.b_doc, sh.s, d.df,
        |        row_number() OVER (PARTITION BY sh.a_doc, sh.b_doc
        |                           ORDER BY d.df ASC, sh.s ASC) AS rk
        |      FROM shared sh JOIN dfm d ON sh.s = d.s)
        |SELECT a_doc, b_doc, rk, s AS shingle_h, df
        |FROM r WHERE rk <= 3
        |ORDER BY a_doc, b_doc, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dss = TextAnalysis.shingleIndex(s, dir)
      val dfm = dss.select(explode(col("ss")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
      val shared = verifiedPairs(s, dir)
        .join(dss.select(col("doc_id").as("a_doc"), col("ss").as("a_ss")), "a_doc")
        .join(dss.select(col("doc_id").as("b_doc"), col("ss").as("b_ss")), "b_doc")
        .select(col("a_doc"), col("b_doc"),
          explode(array_intersect(col("a_ss"), col("b_ss"))).as("s"))
        .join(dfm, "s")
      val w = Window.partitionBy(col("a_doc"), col("b_doc"))
        .orderBy(col("df").asc, col("s").asc)
      shared.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("a_doc"), col("b_doc"), col("rk").cast(LongType).as("rk"),
          col("s").as("shingle_h"), col("df"))
        .orderBy(col("a_doc"), col("b_doc"), col("rk"))
    },

    // ----- duplication-degree profile (corpus-health diagnostic) ----------
    // The report a pipeline runs BEFORE deciding how aggressively to dedup:
    // how many docs have 1, 2, … verified near-dup partners (degree in the
    // q37 pair graph). A fat tail here means boilerplate/template content
    // (cluster-level dedup pays off); a thin one means pairwise drops
    // suffice. Rides the shared verified-pairs frame — the marginal cost
    // over q37 is two tiny aggregations over pair-count-sized rows.
    QuerySpec("q78_dup_degree_profile")(
      s"""WITH $shingleCtes,
        |$minhashPairCtes,
        |deg AS (SELECT doc_id, count(*) AS dup_degree FROM (
        |    SELECT a_doc AS doc_id FROM ndpairs
        |    UNION ALL SELECT b_doc AS doc_id FROM ndpairs)
        |  GROUP BY doc_id)
        |SELECT dup_degree, count(*) AS n_docs, min(doc_id) AS example_doc
        |FROM deg GROUP BY dup_degree
        |ORDER BY dup_degree""".stripMargin) { (s, dir) =>
      val vp = verifiedPairs(s, dir)
      vp.select(col("a_doc").as("doc_id"))
        .unionAll(vp.select(col("b_doc").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_degree"))
        .groupBy(col("dup_degree"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
        .orderBy(col("dup_degree"))
    },

    // ----- containment (overlap-coefficient) near-dup ---------------------
    // Same df-capped candidate machinery as q36a, different similarity:
    // |A∩B| / min(|A|,|B|) — the doc-inside-doc measure. The prune bound
    // adapts: contain_upper = (n_cap + min(h_a, h_b)) / min(n_a, n_b) ≥
    // the true coefficient (the capped count undercounts by at most the
    // smaller doc's hot-shingle count), so pruning below θ is sound and
    // the exact verify only touches the containment frontier. Integer
    // micro-units ((n_inter·1e6) div min) — exact in both engines, no
    // float boundary.
    QuerySpec("q79_containment_neardup")(
      s"""WITH $shingleCtes,
        |sdf AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |cand AS (SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
        |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |         JOIN sdf ON sdf.s = a.s
        |         WHERE sdf.df <= $DfCap)
        |SELECT c.a_doc, c.b_doc, i.n_inter, na.ns AS n_a, nb.ns AS n_b,
        |  (i.n_inter * 1000000) // least(na.ns, nb.ns) AS contain_micro,
        |  $jacMicroSql
        |FROM cand c
        |JOIN inter i ON c.a_doc = i.a_doc AND c.b_doc = i.b_doc
        |JOIN nsh na ON c.a_doc = na.doc_id
        |JOIN nsh nb ON c.b_doc = nb.doc_id
        |WHERE (i.n_inter * 1000000) // least(na.ns, nb.ns) >= ${(ContainmentThreshold * 1e6).toLong}
        |ORDER BY c.a_doc, c.b_doc""".stripMargin) { (s, dir) =>
      pairContainmentCapped(TextAnalysis.shingleIndex(s, dir), DfCap,
          postOpt = Some(corpusPostings(s, dir)))
        .filter(col("contain_micro") >= (ContainmentThreshold * 1e6).toLong)
        .select(col("a_doc"), col("b_doc"), col("n_inter"),
          col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
          col("contain_micro"),
          floor(col("jac_raw") * 1000000).cast(LongType).as("jac_micro"))
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- per-doc n-gram novelty vs the earlier corpus -------------------
    // Training-data memorization/novelty profiling: for each doc, the
    // fraction of its distinct shingles never seen in any LOWER-doc_id doc
    // (doc_id as ingest order). A shingle is novel for exactly the doc
    // that is min(doc_id) over its posting list, so novel counts come
    // from a groupBy(shingle).min + groupBy(first_doc).count — NO join
    // back onto the exploded (doc, shingle) pairs and no per-shingle
    // window (hot stopword shingles have huge df; min() is a partial
    // aggregate, so the skew never leaves the map side). Rides the shared
    // session shingle index like q36/q37/q63. The ratio is one IEEE
    // double division on exact longs — bit-identical cross-engine.
    QuerySpec("q83_shingle_novelty")(
      s"""WITH $shingleBaseCtes,
        |firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
        |novel AS (SELECT first_doc AS doc_id, count(*) AS n_novel FROM firsts GROUP BY first_doc),
        |totals AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
        |SELECT t.doc_id, t.n_shingles, coalesce(n.n_novel, 0) AS n_novel,
        |  CAST(coalesce(n.n_novel, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS novelty
        |FROM totals t LEFT JOIN novel n ON t.doc_id = n.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val idx = TextAnalysis.shingleIndex(s, dir)
      val novel = idx.select(col("doc_id"), explode(col("ss")).as("sh"))
        .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      idx.filter(size(col("ss")) > 0)
        .select(col("doc_id"), size(col("ss")).cast(LongType).as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast(DoubleType) /
            col("n_shingles").cast(DoubleType)).as("novelty"))
        .orderBy(col("doc_id"))
    },

    // ----- per-doc duplicated-text fraction (df-based) --------------------
    // Corpus-health profiling (the RefinedWeb/Gopher-style "duplicated
    // n-gram fraction" report that sizes a dedup pass): for each doc, the
    // fraction of its distinct shingles that appear in ≥2 docs. A shingle
    // is unique iff its posting list has exactly one doc, so unique
    // counts come from groupBy(shingle).agg(count, min(doc)) — count and
    // min are partial aggregates, the stopword-shingle skew collapses
    // map-side, and there is NO join back onto the exploded pairs (the
    // same shape q83's plan guard pins). Unlike q83's ingest-order
    // novelty, this metric is order-independent: dup = seen anywhere
    // else, not seen earlier. dup_fraction is one IEEE division on exact
    // longs — bit-identical cross-engine.
    QuerySpec("q86_dup_fraction")(
      s"""WITH $shingleBaseCtes,
        |df1 AS (SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY s HAVING count(*) = 1),
        |u AS (SELECT doc_id, count(*) AS n_unique FROM df1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
        |SELECT t.doc_id, t.n_shingles, coalesce(u.n_unique, 0) AS n_unique,
        |  CAST(t.n_shingles - coalesce(u.n_unique, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS dup_fraction
        |FROM tot t LEFT JOIN u ON t.doc_id = u.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val idx = TextAnalysis.shingleIndex(s, dir)
      val uniq = idx.select(col("doc_id"), explode(col("ss")).as("sh"))
        .groupBy(col("sh"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
      idx.filter(size(col("ss")) > 0)
        .select(col("doc_id"), size(col("ss")).cast(LongType).as("n_shingles"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          ((col("n_shingles") - coalesce(col("n_unique"), lit(0L))).cast(DoubleType) /
            col("n_shingles").cast(DoubleType)).as("dup_fraction"))
        .orderBy(col("doc_id"))
    },

    // ----- SimHash (TF-weighted, 60-bit) + banded hamming join ------------
    QuerySpec("q38_simhash") {
      val h = hex60Sql("tok")
      val bitSums = (0 until SimHashBits)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN cnt ELSE -cnt END) AS s$i")
        .mkString(",\n        |    ")
      val fpExpr = (0 until SimHashBits)
        .map(i => s"CASE WHEN s$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END")
        .mkString(" + ")
      val bandRows = (0 until SimHashBands)
        .map(b => s"SELECT doc_id, fp, $b AS band, (fp >> ${b * SimHashBandBits}) & ${(1 << SimHashBandBits) - 1} AS bv FROM fp")
        .mkString("\n        |    UNION ALL ")
      s"""WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS cnt
        |       FROM (SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS tok FROM d)
        |       GROUP BY doc_id, tok),
        |th AS (SELECT doc_id, cnt, $h AS h FROM tf),
        |bits AS (SELECT doc_id,
        |    $bitSums
        |  FROM th GROUP BY doc_id),
        |fp AS (SELECT doc_id, $fpExpr AS fp FROM bits),
        |bands AS (
        |    $bandRows),
        |cand AS (SELECT DISTINCT x.doc_id AS a_doc, x.fp AS a_fp, y.doc_id AS b_doc, y.fp AS b_fp
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT a_doc, b_doc, bit_count(xor(a_fp, b_fp)) AS hamming
        |FROM cand
        |WHERE bit_count(xor(a_fp, b_fp)) <= $HammingMax
        |ORDER BY a_doc, b_doc""".stripMargin
    } { (s, dir) =>
      // Digest per AGGREGATED (doc, token) row — one md5 per doc×distinct
      // token, matching the oracle's `th` CTE exactly. (A broadcast
      // token-hash dim would digest each global-distinct token once, but
      // pays two extra computes of this groupBy subtree — post-combine
      // row counts make the direct digest the cheaper side everywhere.)
      val tf = Tables.load(s, dir, "documents")
        .repartition(col("doc_id")) // rebalance narrow scan pre-explode
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
        .withColumn("h", hex60(col("tok")))
      val bits = tf.groupBy(col("doc_id"))
        .agg(bitSum(0), (1 until SimHashBits).map(bitSum): _*)
      // r18 (guide §2.4 — don't compute the same subtree twice): the band
      // self-join consumes `bands` on BOTH sides, and the r17 plan showed
      // the entire fingerprint pipeline (scan → tokenize → tf agg → 60
      // bit-sums) planned twice — once per side. Materialize the per-doc
      // fingerprint (2 longs × |docs|, trivially small) ONCE; both join
      // sides now derive from the checkpoint and the heavy subtree runs
      // exactly once. Freed with the query (Materialize.releaseAll).
      val fp = graft.Materialize.ephemeral(
        bits.select(col("doc_id"),
          (0 until SimHashBits).map(i =>
            when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)).cast(LongType))
            .reduce(_ + _).as("fp")))
      val bandStructs = (0 until SimHashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * SimHashBandBits)
            .bitwiseAND(lit((1L << SimHashBandBits) - 1)).as("bv"))
      }
      val bands = fp.select(col("doc_id"), col("fp"),
          explode(array(bandStructs: _*)).as("tb"))
        .select(col("doc_id"), col("fp"), col("tb.band").as("band"), col("tb.bv").as("bv"))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_doc"), col("x.fp").as("a_fp"),
                col("y.doc_id").as("b_doc"), col("y.fp").as("b_fp"))
        .distinct()
        .withColumn("hamming", bit_count(col("a_fp").bitwiseXOR(col("b_fp"))))
        .filter(col("hamming") <= HammingMax)
        .select(col("a_doc"), col("b_doc"), col("hamming"))
        .orderBy(col("a_doc"), col("b_doc"))
    },

    // ----- cross-source overlap matrix (corpus-provenance health) ---------
    // EXACT pairwise shingle Jaccard between data SOURCES — the report
    // that catches one crawl mirroring another (motivating cross-source
    // dedup) before any doc-level pass. Never doc×doc: the corpus
    // collapses to distinct (source, shingle) in one shuffle, and the
    // pair explosion is bounded by the SOURCE dimension (a shingle in k
    // sources yields C(k,2) ≤ C(|sources|,2) pairs — ~190 at 20 sources —
    // independent of how many documents share it). Output is
    // sources²-sized. Rides the shared shingle index; jaccard is one IEEE
    // division on exact longs.
    QuerySpec("q105_source_overlap")(
      s"""WITH $shingleBaseCtes,
        |ssrc AS (SELECT DISTINCT dd.source, sh.s
        |         FROM sh JOIN documents dd USING (doc_id)),
        |ns AS (SELECT source, count(*) AS ns FROM ssrc GROUP BY source),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |          FROM ssrc a JOIN ssrc b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, na.ns AS n_a, nb.ns AS n_b, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE) / CAST(na.ns + nb.ns - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN ns na ON na.source = i.src_a
        |JOIN ns nb ON nb.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      // localCheckpoint: the distinct (source, shingle) frame feeds the
      // per-source sizes AND both sides of the pair join — one corpus
      // collapse, served three times.
      val ssrc = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(TextAnalysis.shingleIndex(s, dir), "doc_id")
        .select(col("source"), explode(col("ss")).as("s"))
        .distinct()
        .transform(graft.Materialize.ephemeral)
      val ns = ssrc.groupBy(col("source")).agg(count(lit(1)).cast(LongType).as("ns"))
      // r18 (guide §2.4 — the pairJaccard posting discipline): the pair
      // counts used to come from a self-join on s (TWO s-keyed exchanges
      // of the distinct (source, shingle) frame + a SortMergeJoin). One
      // posting aggregate per shingle — the source list is bounded by the
      // SOURCE count, so the in-row pair expansion is ≤ |sources|²/2
      // structs, skew-free by construction — then a (src_a, src_b) count.
      // sort_array gives the same strict `a.source < b.source` pairs.
      val inter = ssrc.groupBy(col("s"))
        .agg(sort_array(collect_list(col("source"))).as("srcs"))
        .filter(size(col("srcs")) > 1)
        .select(explode(flatten(transform(col("srcs"), (x, i) =>
          transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(ns.select(col("source").as("src_a"), col("ns").as("n_a"))), "src_a")
        .join(broadcast(ns.select(col("source").as("src_b"), col("ns").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
          (col("n_inter").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType)).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }
  )

  /** The q37 band structs over a signatures array column. */
  private def bandStructsOf(sigs: Column): Seq[Column] =
    (0 until Bands).map { b =>
      val cs = (1 to RowsPerBand).map(r => sigs.getItem(b * RowsPerBand + r - 1))
      struct(lit(b).as("band"), md5(concat_ws(",", cs: _*).cast(BinaryType)).as("bh"))
    }

  /** Minhash band rows (carry…, band, bh) for ANY frame with a `text`
    * column — batch or streaming (all column expressions, no
    * batch-only ops). Shares q37's exact signature/banding math, so the
    * streaming near-dup path and the batch oracle-checked path agree on
    * what collides.
    */
  private[graft] def bandRows(docs: DataFrame, carry: Seq[String]): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val ss = array_distinct(transform(shingles(split(normText(col("text")), " ")), sh => hex60(sh)))
    val sig = docs
      .withColumn("sigs", call_function("minhash_sigs", ss,
        typedLit(permA), typedLit(permB), lit(MersenneP)))
      .filter(col("sigs").isNotNull)
    sig.select(carry.map(col) :+ explode(array(bandStructsOf(col("sigs")): _*)).as("tb"): _*)
      .select(carry.map(col) :+ col("tb.band").as("band") :+ col("tb.bh").as("bh"): _*)
  }

  private def bitSum(i: Int): Column =
    sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1, col("cnt"))
      .otherwise(-col("cnt"))).as(s"s$i")

  /** All (i, j) combinations of a sorted (doc_id, ns) struct array — each
    * shingle's posting list expands to its doc-pair contributions in-row,
    * carrying both docs' set sizes so no post-aggregation join is needed.
    */
  private[graft] def pairCombos(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + lit(2), size(ds)),
        y => struct(x.getField("doc_id").as("a"), x.getField("ns").as("na"),
          y.getField("doc_id").as("b"), y.getField("ns").as("nb")))))

  /** (a_doc, b_doc, n_inter, n_a, n_b, jac_raw) for all doc pairs sharing
    * ≥1 shingle, from the narrow shingle-set frame (doc_id, ss).
    *
    * ONE inverted-index pass: explode (doc_id, ns=|ss|, shingle) → posting
    * list of (doc_id, ns) structs per shingle → in-row pair expansion
    * (`pairCombos`, sizes riding along) → count per pair. No self-join, no
    * doc-size join afterwards — at 100 TB the size table is itself large,
    * so carrying ns through the pair rows beats joining it back. Shuffle
    * volume is exactly Σ df² pair rows.
    *
    * `dfCap`: drop shingles whose document frequency exceeds the cap
    * before pair expansion (standard in MinHash-era dedup). A df-f shingle
    * contributes f²/2 pair rows to ONE task — the cap bounds per-task skew
    * to cap²/2 and total shuffle to Σ min(df, cap)². With the cap on,
    * n_inter undercounts pairs whose shared shingles are hot, so capped
    * runs should exact-verify survivors ([[pairJaccardCapped]]); oracle
    * query q36 runs uncapped so both engines compute the same closed form.
    */
  /** Loud-failure bound for UNCAPPED [[pairJaccard]]: a df-f posting list
    * expands f²/2 structs inside ONE row, so f=1024 ≈ 16 MB — the edge of
    * executor-memory-comfortable. Fixture max df is 25 (sf0.1); anything
    * past this bound means the caller forgot the df cap on a real corpus,
    * and the task fails with instructions instead of OOMing.
    */
  private[graft] val UncappedMaxDf = 1024

  /** The sweep's derived sample mod — the closed form both engines
    * compute from the same corpus count (the Ivf.derivedSampleMod
    * pattern).
    */
  private[graft] def lshSweepSampleMod(s: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    math.max(1L, Tables.load(s, dir, "documents").count() / LshSweepTargetDocs)

  /** q165's banding-parameter report as a library frame, over the
    * `sampleMod`-drawn doc sample (`1` = the full corpus — the
    * measurement referent the sample-vs-full agreement spec compares
    * against; the production entry point passes [[lshSweepSampleMod]]).
    * Shared by the CORRECTNESS query and the gateway's `lsh_tuning`
    * view. See the q165 scaladoc for the single-generation design.
    */
  private[graft] def lshBandSweepReport(s: org.apache.spark.sql.SparkSession,
      dir: String, sampleMod: Long): DataFrame = {
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val levels = Seq(1, 2, 4, 8, 16)
    val dss = TextAnalysis.shingleIndex(s, dir)
      .filter(graft.functions.TextFunctions.hex60(
        concat(lit("lshsweep|"), col("doc_id").cast(org.apache.spark.sql.types.StringType)))
        % sampleMod === 0)
    val sig = dss
      .withColumn("sigs", call_function("minhash_sigs", col("ss"),
        typedLit(permA), typedLit(permB), lit(MersenneP)))
      .filter(col("sigs").isNotNull)
      .select(col("doc_id"), col("sigs"))
      .transform(graft.Materialize.ephemeral)
    // finest-level candidate generation: one (j, mⱼ)-keyed equi-join —
    // every coarser configuration's candidates are a subset (aligned
    // blocks: an r-row band matches only if all its 1-row bands do)
    val b16 = sig.select(col("doc_id"), posexplode(col("sigs")).as(Seq("j", "mj")))
    val cand = b16.as("x").join(b16.as("y"),
        col("x.j") === col("y.j") && col("x.mj") === col("y.mj") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_doc"), col("y.doc_id").as("b_doc"))
      .distinct()
    // per-pair minima-match bitmap, then 5-level membership fan-out —
    // pair-bounded work after the one candidate join
    val pm = cand
      .join(sig.select(col("doc_id").as("a_doc"), col("sigs").as("sa")), "a_doc")
      .join(sig.select(col("doc_id").as("b_doc"), col("sigs").as("sb")), "b_doc")
      .withColumn("f", zip_with(col("sa"), col("sb"), (x, y) => x === y))
    def member(bands: Int): org.apache.spark.sql.Column = {
      val r = NumPerms / bands
      (0 until bands).map { i =>
        (0 until r).map(k => col("f").getItem(i * r + k)).reduce(_ && _)
      }.reduce(_ || _)
    }
    val mem = pm
      .select(col("a_doc"), col("b_doc"),
        explode(array(levels.map(b =>
          struct(lit(b).as("bands"), member(b).as("m"))): _*)).as("t"))
      .filter(col("t.m"))
      .select(col("t.bands").as("bands"), col("a_doc"), col("b_doc"))
    val exact = pairJaccard(dss)
      .filter(col("jac_raw") >= JaccardThreshold)
      .select(col("a_doc"), col("b_doc"))
    val nCand = mem.groupBy(col("bands")).agg(count(lit(1)).as("n_cand"))
    val hits = mem.join(exact, Seq("a_doc", "b_doc"))
      .groupBy(col("bands")).agg(count(lit(1)).as("n_hits"))
    val nTrue = exact.groupBy().agg(count(lit(1)).as("n_true"))
    levels.toDF("bands")
      .join(nCand, Seq("bands"), "left")
      .join(hits, Seq("bands"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("bands"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"))
      .withColumn("recall_micro",
        coalesce(expr("(n_hits * CAST(1000000 AS BIGINT)) div nullif(n_true, 0)"), lit(0L)))
      .orderBy(col("bands"))
  }

  /** Sorted posting list per shingle — `(s, ds = sorted array<(doc_id,
    * ns)>)`. The ONE shingle-keyed shuffle every exact-pair operator
    * needs; df(s) = size(ds), so the hot-shingle side of the capped
    * machinery is a filter over this frame, not a second full shuffle.
    */
  private[graft] def postingLists(dss: DataFrame): DataFrame =
    dss.select(col("doc_id"), size(col("ss")).as("ns"), explode(col("ss")).as("s"))
      .groupBy(col("s"))
      // collect_list, not collect_set: (s, doc_id) rows are already unique
      // (ss is distinct per doc), so set-dedup work buys nothing.
      .agg(sort_array(collect_list(struct(col("doc_id"), col("ns")))).as("ds"))

  /** The canonical corpus's posting frame, shared per (session, corpus)
    * like [[TextAnalysis.shingleIndex]] it derives from — r18: q36, q36a
    * and q79 each re-ran the identical explode + groupBy(s) collect_list
    * (q36a/q79 TWICE each: once for candidates, once for the hot-shingle
    * counts). Now the corpus pays that shuffle once per session and every
    * consumer reads the cached lists.
    */
  private val postingCache = graft.SessionCache.frames("postings", upstream = Seq(TextAnalysis.shingleIndexCache))

  private[graft] def corpusPostings(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    postingCache.getOrElseUpdate(s, dir)(
      postingLists(TextAnalysis.shingleIndex(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  private[graft] def pairJaccard(dss: DataFrame, dfCap: Option[Int] = None): DataFrame =
    pairJaccardOverPostings(postingLists(dss), dfCap)

  /** [[pairJaccard]]'s pair-expansion body over an EXPLICIT posting frame
    * (the seam that lets q36/q36a/q79 share [[corpusPostings]]).
    */
  private[graft] def pairJaccardOverPostings(post: DataFrame,
      dfCap: Option[Int] = None): DataFrame =
    post
      .filter(size(col("ds")) > 1 &&
        dfCap.map(c => size(col("ds")) <= c).getOrElse(
          // uncapped misuse fails loudly BEFORE the in-row expansion
          when(size(col("ds")) > UncappedMaxDf,
            raise_error(concat(lit("pairJaccard uncapped: posting list df="),
              size(col("ds")).cast(StringType),
              lit(s" exceeds $UncappedMaxDf — pass dfCap/use pairJaccardCapped"))))
            .otherwise(lit(true))))
      .select(explode(pairCombos(col("ds"))).as("p"))
      .groupBy(col("p.a").as("a_doc"), col("p.b").as("b_doc"),
        col("p.na").as("n_a"), col("p.nb").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jac_raw",
        col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType))

  /** Connected components over an undirected pair list — the TRANSITIVE
    * dedup-cluster structure (the corpus-clean stage deliberately uses the
    * non-transitive drop; this operator exposes the full clusters, the
    * production "keep one representative per duplicate chain" semantics).
    * Iterative min-label propagation: every node's label becomes the min
    * of itself and its neighbors' labels until a fixed point — converges
    * in O(component diameter) rounds (hard-capped), deterministic, and
    * each round is one edge-keyed shuffle join. Labels are
    * localCheckpoint'ed per round so the lineage stays flat (the k-means
    * pattern, but node-sized state stays distributed instead of driver-
    * collected).
    */
  private[graft] def connectedComponents(pairs: DataFrame, maxIters: Int = 1000): DataFrame = {
    val edges = pairs.select(col("a_doc").as("src"), col("b_doc").as("dst"))
      .union(pairs.select(col("b_doc").as("src"), col("a_doc").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("root")).localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbMin = edges
        .join(labels.select(col("id").as("dst"), col("root").as("nb_root")), "dst")
        .groupBy(col("src")).agg(min(col("nb_root")).as("nb_min"))
      val next = labels
        .join(nbMin.select(col("src").as("id"), col("nb_min")), Seq("id"), "left")
        .select(col("id"),
          least(col("root"), coalesce(col("nb_min"), col("root"))).as("root"))
        .localCheckpoint()
      changed = next.join(labels.select(col("id"), col("root").as("old")), "id")
        .filter(col("root") =!= col("old")).count()
      // round N's blocks are dead once round N+1 is materialized and the
      // convergence check above has consumed both — free them so a long
      // propagation doesn't accumulate one label-frame per round
      graft.Materialize.free(labels)
      labels = next
      it += 1
    }
    // Propagation converges in <= diameter rounds, so the cap is a pure
    // runaway backstop — but if it ever fires, the labels are NOT the
    // transitive roots. Returning them silently would hand dedup a wrong
    // (oracle-diverging) cluster map; fail loudly instead. (At corpus
    // scale, prefer [[connectedComponentsStar]] — O(log n) rounds
    // regardless of diameter.)
    require(changed == 0,
      s"connectedComponents did not converge within $maxIters rounds")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond" — public):
    * converges in O(log n) ROUNDS regardless of component diameter, vs
    * the O(diameter) of plain min-label propagation — the difference
    * between ~6 and ~10⁶ shuffles on a pathological duplicate chain.
    * Each round is two neighbor-keyed aggregations + joins; the edge set
    * only shrinks toward the star form, so per-round cost is bounded by
    * the current edge count. Equivalence to [[connectedComponents]] and
    * to driver-side union-find is property-tested on random graphs; q73
    * binds THIS variant (the oracle is an independent recursive-CTE
    * closed form, so the algorithm is cross-checked, not self-checked).
    *
    *  - large-star(u): every neighbor v > u links to m = min(Γ(u) ∪ {u});
    *  - small-star(u): every smaller neighbor (and u itself) links to the
    *    minimum of u's smaller neighborhood;
    *  - at the fixed point every node holds one edge to its component
    *    minimum.
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // nodes are derived BEFORE the self-edge filter so a doc appearing
    // only in a degenerate self-pair still labels itself (matching
    // [[connectedComponents]], which keeps self-edges harmlessly).
    val base = pairs.select(col("a_doc").as("a"), col("b_doc").as("b"))
    val nodes = base.select(col("a").as("id")).union(base.select(col("b").as("id")))
      .distinct().localCheckpoint()
    var e = canon(base).localCheckpoint()
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      // large-star
      val nb = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m1 = nb.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = canon(nb.join(m1, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
      // small-star (keyed by the larger endpoint; values are all smaller)
      val dir = ls.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val m2 = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = dir.join(m2, "u")
      val ss = canon(
        withM.filter(col("v") =!= col("m")).select(col("v").as("a"), col("m").as("b"))
          .union(withM.select(col("u").as("a"), col("m").as("b"))))
        .localCheckpoint()
      // ONE driver-synced action per round: both frames are canon'd
      // (distinct), so empty symmetric difference ⟺ set equality — no
      // separate count() job needed to rule out ss ⊊ e.
      stable = ss.exceptAll(e).union(e.exceptAll(ss)).isEmpty
      // previous round's edge blocks are dead once ss is materialized and
      // the set-equality check has consumed both
      graft.Materialize.free(e)
      e = ss
      round += 1
    }
    require(stable, s"connectedComponentsStar did not converge within $maxRounds rounds")
    // At the fixed point every edge is (root=a, node=b); roots have no
    // out-edge and label themselves.
    val nonRoots = e.groupBy(col("b").as("id")).agg(min(col("a")).as("root"))
    nodes.join(nonRoots, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("root"))
  }

  /** Max bench-side shingle rows the decontamination join may broadcast:
    * ~1M (bench_doc, s) rows ≈ a few tens of MB of unsafe rows, safely
    * inside driver + executor memory. Real eval sets (hundreds to a few
    * thousand docs) sit orders of magnitude below this.
    */
  private[graft] val DecontBroadcastMaxRows = 1000000

  /** Decontamination join: corpus shingle rows (doc_id, s) × bench shingle
    * rows (bench_doc, s) → (doc_id, bench_doc, n_shared) pairs sharing
    * ≥ `minShared` shingles.
    *
    * The broadcast of the bench side is SIZE-GATED, never assumed: the
    * bench side is counted first with an early-exit
    * `limit(gate + 1).count()` — so the probe costs O(gate), not O(bench)
    * — and broadcasts only when it provably fits. Above the gate the join
    * runs as a plain shingle-keyed shuffle equi-join (the correct plan for
    * an unbounded bench side; AQE may still upgrade it at runtime from
    * MEASURED shuffle sizes). A corpus-proportional "bench" input — like a
    * fixture deriving it as a slice of the corpus — therefore can never
    * force a corpus-sized broadcast at scale.
    */
  private[graft] def decontaminate(corpusSh: DataFrame, benchSh: DataFrame,
      minShared: Int, maxBroadcastRows: Int = DecontBroadcastMaxRows): DataFrame = {
    val benchFits = maxBroadcastRows > 0 &&
      benchSh.limit(maxBroadcastRows + 1).count() <= maxBroadcastRows
    val rhs = if (benchFits) broadcast(benchSh) else benchSh
    corpusSh.join(rhs, "s")
      .groupBy(col("doc_id"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The capped-at-scale exact-Jaccard path: candidate pairs from df-capped
    * posting lists (skew-bounded shuffle), then EXACT n_inter/sizes by
    * intersecting the two docs' shingle-set arrays — so results equal the
    * uncapped [[pairJaccard]] whenever every qualifying pair still shares
    * ≥1 sub-cap shingle (near-dup pairs share their *unique* content
    * shingles, which are low-df by nature; DedupSimilaritySpec pins recall
    * on fixtures). Same output columns as pairJaccard.
    *
    * `theta` is a SOUND candidate-pruning bound, not a result filter: the
    * capped count undercounts the true intersection by at most
    * min(h_a, h_b) hot shingles (h = the doc's own count of df>cap
    * shingles, a by-product of the same posting-list groupBy), so
    * jac_upper = (n_cap + min(h_a, h_b)) / (n_a + n_b − n_cap − min(h_a,
    * h_b)) ≥ true jac, and pairs with jac_upper < theta can skip the
    * array-intersect verify entirely. On the fixtures this cuts the
    * verify set from every co-shingle pair (Σ min(df,cap)²/2 of them) to
    * the near-dup frontier. Callers must filter the OUTPUT at ≥ theta —
    * below theta the returned pair set is upper-bound-pruned, not exact.
    */
  private[graft] def pairJaccardCapped(dss: DataFrame, dfCap: Int,
      theta: Double = JaccardThreshold,
      postOpt: Option[DataFrame] = None): DataFrame = {
    val pruned = cappedCandidates(dss, dfCap, postOpt) { (iUp, nA, nB) =>
      // jac_upper = i_up / (n_a + n_b − i_up) ≥ true jaccard
      iUp.cast(DoubleType) / (nA + nB - iUp).cast(DoubleType) >= theta
    }
    exactVerify(dss, pruned)
  }

  /** The df-capped CONTAINMENT path (q79): identical candidate machinery,
    * overlap-coefficient prune bound — contain_upper = (n_cap + min(h_a,
    * h_b)) / min(n_a, n_b) ≥ the true coefficient, so pruning below θ is
    * sound. Output adds exact integer `contain_micro` next to `jac_raw`.
    */
  private[graft] def pairContainmentCapped(dss: DataFrame, dfCap: Int,
      theta: Double = ContainmentThreshold,
      postOpt: Option[DataFrame] = None): DataFrame = {
    val pruned = cappedCandidates(dss, dfCap, postOpt) { (iUp, nA, nB) =>
      iUp.cast(DoubleType) / least(nA, nB).cast(DoubleType) >= theta
    }
    exactVerify(dss, pruned)
      .withColumn("contain_micro",
        expr("(n_inter * CAST(1000000 AS BIGINT)) div CAST(least(n_a, n_b) AS BIGINT)"))
  }

  /** Candidate (a_doc, b_doc) pairs from df-capped posting lists, pruned
    * by a SOUND upper bound: `keep(i_up, n_a, n_b)` sees the capped
    * intersection plus min hot-shingle slack (i_up ≥ true n_inter) and
    * must be monotone in it. h(doc) = how many of the doc's shingles are
    * hot (df > cap). The hot-shingle set is small (≤ shingle_rows/cap by
    * pigeonhole — boilerplate only) but corpus-proportional in the limit,
    * so NO broadcast hint: the shingle-keyed equi-join is correct unhinted
    * and AQE upgrades it from measured sizes when it does fit.
    */
  private def cappedCandidates(dss: DataFrame, dfCap: Int,
      postOpt: Option[DataFrame] = None)(
      keep: (Column, Column, Column) => Column): DataFrame = {
    // r18 (guide §2.3/§2.4): both legs below used to run their OWN full
    // explode + s-keyed shuffle of the corpus (posting collect_list for
    // candidates, groupBy(s).count + join-back for the hot counts — the
    // join-back shuffled the whole (doc, s) stream a third time). Now ONE
    // posting frame feeds both: candidates filter it at df ≤ cap, and the
    // per-doc hot counts explode only the df > cap lists (boilerplate
    // shingles only, ≤ rows/cap lists by pigeonhole). Query paths pass
    // the session-shared [[corpusPostings]]; ad-hoc callers (tests,
    // sampled sweeps) pay one ephemeral materialization instead of two
    // full shuffles. The (doc, s) multiset inside the hot lists is
    // exactly the rows the old join-back counted — ss is distinct per
    // doc — so `h` is unchanged.
    val post = postOpt.getOrElse(graft.Materialize.ephemeral(postingLists(dss)))
    val hot = post.filter(size(col("ds")) > dfCap)
      .select(explode(col("ds")).as("d"))
      .groupBy(col("d.doc_id").as("doc_id")).agg(count(lit(1)).as("h"))
    pairJaccardOverPostings(post, Some(dfCap))
      .join(hot.select(col("doc_id").as("a_doc"), col("h").as("h_a")), Seq("a_doc"), "left")
      .join(hot.select(col("doc_id").as("b_doc"), col("h").as("h_b")), Seq("b_doc"), "left")
      .withColumn("i_up", col("n_inter") +
        least(coalesce(col("h_a"), lit(0L)), coalesce(col("h_b"), lit(0L))))
      .filter(keep(col("i_up"), col("n_a"), col("n_b")))
      .select(col("a_doc"), col("b_doc"))
  }

  /** Exact n_inter/sizes (and jac_raw) for a pruned candidate pair set, by
    * intersecting the two docs' shingle-set arrays.
    */
  private def exactVerify(dss: DataFrame, pruned: DataFrame): DataFrame =
    pruned
      .join(dss.select(col("doc_id").as("a_doc"), col("ss").as("a_ss")), "a_doc")
      .join(dss.select(col("doc_id").as("b_doc"), col("ss").as("b_ss")), "b_doc")
      .withColumn("n_inter", size(array_intersect(col("a_ss"), col("b_ss"))).cast(LongType))
      .select(col("a_doc"), col("b_doc"), col("n_inter"),
        size(col("a_ss")).as("n_a"), size(col("b_ss")).as("n_b"))
      .withColumn("jac_raw",
        col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType))
}
