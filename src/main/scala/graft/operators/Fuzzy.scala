package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions.{hex60, shingles, tokens}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fuzzy-matching operators: SymSpell-style edit-distance blocking for
  * entity resolution (q121) and the duplicated-span profile — the
  * suffix-dedup-style structural signal (q122). SURVEY.md §2.11 dedup /
  * text-analysis families.
  *
  * Reference behavior mirrored: the reference's dedup surface is
  * fingerprint/Jaccard-based (SURVEY §2.11); these extend it with the two
  * standard corpus-cleaning signals it lacks — typo-level entity
  * collapse and intra-corpus repeated-span structure — both Spark-first
  * and oracle-exact.
  */
object Fuzzy {

  /** Blocking-key frame (ckey, name, blk) over the DISTINCT name domain —
    * a materialized per-(session, corpus) index like the shingle/SRP
    * frames: the q121 self-join consumes it on BOTH sides, and without
    * materialization each side re-runs the distinct-name aggregate and
    * the deletion-variant explode (measured 4× on the whole query).
    */
  private val blockingKeys = graft.SessionCache.frames("blockingKeys")

  private def blockingKeyFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    blockingKeys.getOrElseUpdate(s, dir) {
      // r18 (guide §2.4): the cache used to hold exploded (ckey, name,
      // blk) ROWS, so every q121 run re-joined the 300 k-row frame against
      // itself (broadcast build + probe of the whole cache). Stored as
      // per-key SORTED entry lists instead, candidate pairs become an
      // in-row expansion — the blk-keyed shuffle happens once at cache
      // build and the query-time join disappears. Entries sort by (name,
      // ckey), so in-row (x, y) pairs with x before y reproduce exactly
      // the old `a.name < b.name` join condition (names are distinct per
      // key: one row per name upstream, deletion variants of one name are
      // distinct strings... a name can post the same key twice only via
      // repeated-char deletions — array_union dedups the variant list).
      val v = Tables.load(s, dir, "customer")
        .groupBy(col("c_name").as("name"))
        .agg(min(col("c_custkey")).as("ckey"))
      v.select(col("ckey"), col("name"),
          explode(array_union(
            array(col("name")),
            expr("transform(sequence(1, length(name))," +
              " i -> concat(substr(name, 1, i-1), substr(name, i+1)))"))).as("blk"))
        .groupBy(col("blk"))
        .agg(sort_array(collect_list(struct(col("name"), col("ckey")))).as("vs"))
        .filter(size(col("vs")) > 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** q122's flagged positional-shingle frame (doc_id, i, dup) — consumed
    * by the run-grouping window AND the per-doc totals (and its own df
    * aggregate reads the raw positions): without materialization the
    * corpus tokenize/shingle/hash pipeline runs three times. Same
    * built-once posture as the shingle/SRP indexes; MEMORY_AND_DISK so a
    * corpus that outgrows executor memory spills instead of failing.
    */
  private val dupFlags = graft.SessionCache.frames("dupFlags")

  private def dupFlagFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    dupFlags.getOrElseUpdate(s, dir) {
      val pos = Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(shingles(tokens(col("text")))).as(Seq("p", "sh")))
        .select(col("doc_id"), (col("p") + 1).as("i"), hex60(col("sh")).as("s"))
      val df = pos.groupBy("s").agg(countDistinct("doc_id").as("nd"))
      pos.join(df, "s")
        .select(col("doc_id"), col("i"), (col("nd") >= 2).as("dup"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  val specs: Seq[QuerySpec] = Seq(

    // ----- SymSpell-style edit-distance-1 blocking ------------------------
    // All customer-name pairs within Levenshtein distance 1, WITHOUT the
    // all-pairs join the oracle runs: every name emits itself plus its
    // |name| single-deletion variants as blocking keys, candidates come
    // from an equi-join on the key, and the exact distance filter removes
    // the (distance-2) collisions. The blocking is COMPLETE for d ≤ 1:
    //   - substitution at i  → del_i(a) = del_i(b) (shared deletion key);
    //   - insertion/deletion → the shorter name IS a deletion variant of
    //     the longer, and every name also posts itself as a key.
    // Scale: the pipeline FIRST collapses to the DISTINCT name domain
    // (name → min custkey representative) — blocking cost must be a
    // function of distinct entities, not row count: on a 10×-replicated
    // fixture the row-stream formulation multiplies every candidate pair
    // by replication² (measured 208 s vs 2 s at sf1). Then the shuffle
    // carries (len+1)·|names| key rows, buckets are bounded by
    // alphabet×positions of the shared stem — never n² (plan-guarded: no
    // cartesian/BNL). The oracle's quadratic ON-clause join is exactly
    // what this avoids; at a 100-TB entity table the blocking join is
    // the only formulation that finishes.
    QuerySpec("q121_fuzzy_blocking")(
      """WITH v AS (SELECT c_name, min(c_custkey) AS ckey FROM customer GROUP BY c_name)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  a.ckey AS key_a, b.ckey AS key_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM v a JOIN v b
        |  ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      // r18: candidates expand IN-ROW from the cached per-key entry lists
      // (see blockingKeyFrame) — no query-time self-join, no broadcast
      // build. Buckets are bounded by alphabet×positions of the shared
      // stem, so the expansion is tiny and skew-free.
      val vs = col("vs")
      val cand = blockingKeyFrame(s, dir)
        .select(explode(flatten(transform(vs, (x, i) =>
          transform(slice(vs, i + lit(2), size(vs)), y =>
            struct(x.getField("name").as("name_a"), y.getField("name").as("name_b"),
              x.getField("ckey").as("key_a"), y.getField("ckey").as("key_b")))))).as("p"))
        .select(col("p.name_a").as("name_a"), col("p.name_b").as("name_b"),
          col("p.key_a").as("key_a"), col("p.key_b").as("key_b"))
        .distinct() // substitution pairs share one key; repeated chars can share several
      // Banded verify: levenshtein with threshold 1 runs the O(len·k)
      // diagonal band (returns -1 past the bound) instead of the full
      // O(len²) matrix, and is computed ONCE — measured 2.5× on the whole
      // query vs the unbounded double evaluation.
      cand
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), 1).cast(LongType))
        .filter(col("dist") >= 0)
        .orderBy("name_a", "name_b")
    },

    // ----- duplicated-span profile (suffix-dedup signal) ------------------
    // Per document: of its POSITIONAL 3-gram shingles, how many occur in
    // at least one other document (n_dup), and the longest CONSECUTIVE
    // run of such shingles (max_run) — the structural signal substring
    // dedup (suffix-array style) keys on, which the set-based q83/q86
    // profiles cannot see: a doc quoting one long passage and a doc
    // sprinkled with common phrases have the same dup fraction but very
    // different max_run. Positions matter, so this walks the raw
    // positional shingle stream (the DISTINCT shared shingle index
    // doesn't apply). One corpus-keyed shuffle for the doc-frequency
    // join, then doc-bounded windows — each doc's run scan is linear and
    // local, the heavy-hitter bound is the longest single document.
    QuerySpec("q122_dup_span")(
      """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
        |tok AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS w FROM d),
        |pos AS (SELECT doc_id, i,
        |          CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS s
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM tok)),
        |df AS (SELECT s, count(DISTINCT doc_id) AS nd FROM pos GROUP BY s),
        |fl AS (SELECT p.doc_id, p.i, f.nd >= 2 AS dup FROM pos p JOIN df f USING (s)),
        |runs AS (SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |         FROM fl WHERE dup),
        |rl AS (SELECT doc_id, count(*) AS run_len FROM runs GROUP BY doc_id, grp),
        |mx AS (SELECT doc_id, max(run_len) AS max_run FROM rl GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_pos,
        |          sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup FROM fl GROUP BY doc_id)
        |SELECT t.doc_id, t.n_pos, CAST(t.n_dup AS BIGINT) AS n_dup,
        |  coalesce(m.max_run, 0) AS max_run
        |FROM tot t LEFT JOIN mx m USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val fl = dupFlagFrame(s, dir)
      val w = Window.partitionBy("doc_id").orderBy("i")
      val rl = fl.filter(col("dup"))
        .withColumn("grp", col("i") - row_number().over(w))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
      val mx = rl.groupBy("doc_id").agg(max("run_len").as("max_run"))
      val tot = fl.groupBy("doc_id").agg(
        count(lit(1)).as("n_pos"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      tot.join(mx, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pos"), col("n_dup"),
          coalesce(col("max_run"), lit(0L)).as("max_run"))
        .orderBy("doc_id")
    },

    // ----- exact substring-level dedup (suffix-array analog) --------------
    // Per document: the longest corpus-duplicated substring of length
    // ≥ K=50 CHARACTERS — the "deduplicate-text-datasets" operator class
    // (suffix-array substring dedup, Lee et al. 2021), re-expressed as a
    // Spark-shuffle algorithm instead of a monolithic suffix array:
    //   1. ANCHOR: every char position i of the normalized text posts the
    //      60-bit hash of its K-gram substr(t, i, K) — the positional
    //      anchor stream is O(total corpus chars), the same asymptotic
    //      footprint as a suffix array, built by explode+hash instead of
    //      global sort-by-suffix (which Spark could not do without a
    //      corpus-wide variable-length sort key).
    //   2. COUNT: one hash-shuffle counts each gram's corpus occurrences
    //      (partial map-side agg; total ≥ 2 = duplicated ANYWHERE —
    //      including elsewhere in the same doc, which matters for
    //      boilerplate repeated within a page).
    //   3. EXTEND: re-join the (8-byte) flags to positions and take each
    //      doc's longest CONSECUTIVE run of duplicated anchors — a run of
    //      R anchors is a span of R+K-1 chars in which EVERY K-window is
    //      corpus-duplicated. The span is the exact longest duplicated
    //      substring whenever duplication comes from contiguous copies
    //      (one partner passage), and an upper bound ≥ K in the adversarial
    //      mosaic case (each window duplicated in a DIFFERENT place) —
    //      SubstringDedupSpec brute-verifies anchor soundness and span
    //      tightness on the fixtures.
    //   4. WITNESS: the winning span is re-extracted (substr of the doc's
    //      own text at the run's start) and fingerprinted, so the output
    //      carries a verifiable content witness (sub_h), not just lengths.
    // Scale: no pair join anywhere — cost is linear in corpus chars
    // (anchor stream ≈ 24 bytes/char shuffled once) plus doc-bounded
    // windows; the heavy-hitter bound is the longest single document.
    // A boilerplate gram shared by millions of docs is ONE count row
    // (partial-agg'd), and the flag re-join fans out to exactly the
    // anchor stream, never to pairs. Plan-guarded: no CartesianProduct,
    // windows all doc-keyed (PlanAssertionsSpec).
    QuerySpec("q153_substring_dedup")(
      """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |           FROM documents),
        |pos AS (SELECT doc_id, i, CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 50)), 1, 15) AS BIGINT) AS s
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 49, 0))) AS i FROM d)),
        |occ AS (SELECT s, count(*) AS cnt FROM pos GROUP BY s),
        |fl AS (SELECT p.doc_id, p.i FROM pos p JOIN occ o USING (s) WHERE o.cnt >= 2),
        |runs AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM fl),
        |rl AS (SELECT doc_id, count(*) AS run_len, min(i) AS run_start FROM runs GROUP BY doc_id, grp),
        |best AS (SELECT doc_id, run_len, run_start,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY run_len DESC, run_start ASC) AS rn
        |         FROM rl),
        |prof AS (SELECT doc_id, run_len + 49 AS dup_len, run_start AS dup_start
        |         FROM best WHERE rn = 1),
        |nd AS (SELECT doc_id, count(*) AS n_dup FROM fl GROUP BY doc_id),
        |na AS (SELECT doc_id, greatest(length(t) - 49, 0) AS n_anchors FROM d)
        |SELECT a.doc_id, a.n_anchors,
        |  coalesce(n.n_dup, 0) AS n_dup,
        |  coalesce(p.dup_len, 0) AS dup_len,
        |  coalesce(p.dup_start, 0) AS dup_start,
        |  coalesce(CAST('0x' || substr(md5(substr(d.t, CAST(p.dup_start AS INT), CAST(p.dup_len AS INT))), 1, 15) AS BIGINT), 0) AS sub_h
        |FROM na a JOIN d USING (doc_id)
        |LEFT JOIN nd n ON a.doc_id = n.doc_id
        |LEFT JOIN prof p ON a.doc_id = p.doc_id
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      substringDedup(Tables.load(s, dir, "documents"))
    })

  /** Anchor width of [[substringDedup]]: the minimum duplicated-substring
    * length the profile resolves (Lee et al. 2021's 50-token analog, in
    * characters — the fixture docs are short).
    */
  private[graft] val SubstringK = 50

  /** Normalized `(doc_id, t)` frame shared by the anchor stream and the
    * profile tail (the witness substr reads the SAME normalization the
    * anchors hashed).
    */
  private def normDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))

  /** The positional K-gram anchor stream `(doc_id, i, s)` over a
    * `(doc_id, text, …)` frame — the full corpus on a batch build, just
    * the increment on a streaming append
    * ([[graft.streaming.IndexMaintenance.maintainAnchorIndex]]): anchors
    * are keyed by doc_id, so an append-only id stream's rows are disjoint
    * from everything stored and each batch costs exactly O(batch chars)
    * explode+hash work.
    */
  private[graft] def anchorRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    anchorRowsFromNorm(normDocs(docs))

  private def anchorRowsFromNorm(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val K = SubstringK
    d.filter(length(col("t")) >= K)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1L), (length(col("t")) - lit(K - 1)).cast(LongType))).as("i"))
      .select(col("doc_id"), col("i"),
        hex60(col("t").substr(col("i").cast("int"), lit(K))).as("s"))
  }

  /** q153's body over any `(doc_id, text)` frame — see the QuerySpec
    * comment for the algorithm and scale argument.
    */
  private[graft] def substringDedup(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = normDocs(docs)
    // r18: no materialization — the window-count formulation of
    // [[profileFromAnchors]] consumes the anchor stream exactly once, so
    // the explode+md5 pass fuses straight into the occurrence shuffle's
    // map side instead of being checkpointed (~24 bytes/char written+read
    // back) for a second consumer that no longer exists.
    profileFromAnchors(d, anchorRowsFromNorm(d))
  }

  /** q153 served OFF THE MAINTAINED ANCHOR STORE
    * ([[graft.streaming.IndexMaintenance.maintainAnchorIndex]]): the
    * expensive leg — the O(corpus chars) explode+md5 anchor stream — is
    * read back from the durable store instead of recomputed, and only the
    * cheap profile tail (one occurrence-count shuffle over stored rows +
    * doc-keyed windows + one witness scan of `docs`) runs at serve time.
    * `docs` must be the corpus the store was maintained over — the
    * sidecar's corpus count is checked against it (a lagging or
    * out-of-band-mutated corpus refuses loudly instead of profiling a
    * half-indexed corpus). The store's serve prelude
    * ([[graft.streaming.IndexMaintenance.servedAnchors]]) proves the
    * anchor width K against the sidecar and refuses a torn store.
    * Spec-pinned row-equal to batch [[substringDedup]] (IndexStoreSpec).
    */
  private[graft] def substringDedupFromStore(s: org.apache.spark.sql.SparkSession,
      corpusDir: String, docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (anchors, meta) = graft.streaming.IndexMaintenance.servedAnchors(s, corpusDir)
    val stored = meta.get(graft.IndexStore.CorpusCountKey).flatMap(_.toLongOption)
      .getOrElse(throw new IllegalStateException(
        s"the anchor store for $corpusDir has no corpus count — re-bootstrap"))
    val current = docs.count()
    require(stored == current,
      s"the anchor store for $corpusDir covers $stored documents, the corpus has " +
        s"$current — serve after the maintainer catches up (or re-bootstrap)")
    profileFromAnchors(normDocs(docs), anchors.select("doc_id", "i", "s"))
  }

  /** The profile tail shared by the batch and store-served paths: from a
    * normalized `(doc_id, t)` frame and its anchor stream, the per-doc
    * longest-duplicated-substring report.
    */
  private def profileFromAnchors(d: org.apache.spark.sql.DataFrame,
      pos: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val K = SubstringK
    // r18 (guide §2.3/§2.4): the flag pass used to be groupBy(s) + a
    // join-back onto the anchor stream — TWO s-keyed exchanges of the
    // heaviest frame (the partial (s, cnt) aggregate barely collapses:
    // duplicated grams live in OTHER docs, i.e. other partitions), and
    // because the flag frame fed two legs (run profile + n_dup) the whole
    // occurrence subtree was planned and executed TWICE (18 Exchanges in
    // the r17 plan). Now ONE window count over s attaches the occurrence
    // count in place (one exchange of the anchor stream, no join), and
    // the per-doc tail needs only ONE consumer of the flags: n_dup is
    // Σ run_len of the doc's runs, and the winning span is max_by over
    // the run frame — both fold into hash-aggregates that reuse the
    // doc-keyed exchange the run window already established. Skew note:
    // a boilerplate gram shared by millions of positions is one window
    // group (spillable buffer in one task) — the same fan-in the old
    // join-back paid on its probe side, minus the second exchange.
    val fl = pos
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("cnt") >= 2)
      .select("doc_id", "i")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val rl = fl.withColumn("grp", col("i") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("run_len"), min("i").as("run_start"))
    // One pass over the run frame: n_dup = Σ run_len (every flagged anchor
    // is in exactly one run); the winner is lexicographic max of
    // (run_len, -run_start) — run_len DESC, run_start ASC, the identical
    // total order the oracle's row_number picks rn = 1 from.
    val prof = rl.groupBy("doc_id")
      .agg(sum(col("run_len")).as("n_dup"),
        max(struct(col("run_len"), (-col("run_start")).as("neg_start"))).as("best"))
      .select(col("doc_id"), col("n_dup"),
        (col("best.run_len") + lit(K - 1)).as("dup_len"),
        (-col("best.neg_start")).as("dup_start"))
    val na = d.select(col("doc_id"), col("t"),
      greatest(length(col("t")).cast(LongType) - lit(K - 1), lit(0L)).as("n_anchors"))
    na.join(prof, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_anchors"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_len"), lit(0L)).as("dup_len"),
        coalesce(col("dup_start"), lit(0L)).as("dup_start"),
        coalesce(
          hex60(col("t").substr(col("dup_start").cast("int"), col("dup_len").cast("int"))),
          lit(0L)).as("sub_h"))
      .orderBy("doc_id")
  }
}
