package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis north-star operators over the `documents` fixture
  * (builder prompt: language-ID, quality scoring, token counting, document
  * fingerprinting). The reference has no text surface — these extend the
  * engine toward training-data-pipeline workloads and are all pure
  * projections/aggregations (no shuffle except final ORDER BY), so they run
  * at scan parallelism on any cluster.
  *
  * Every query is oracle-checked: the heuristics are deliberately built
  * from primitives with exact DuckDB equivalents (regexp, md5, list
  * lambdas, IEEE double arithmetic with identical expression trees).
  */
object TextAnalysis {

  /** Marker stopword profiles for the n-gram/stopword language heuristic.
    * Tiny by design: a real system would ship per-language frequency
    * tables; the heuristic's *shape* (profile match + argmax with a fixed
    * tiebreak order) is what the engine must execute at scale.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y"))

  private[operators] val stopwords = Seq("the", "a", "of", "and", "to", "in")

  private[operators] def sqlStrList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** The composite quality score in exact micro-units. floor, not
    * round(x, 6): both engines compute the identical IEEE double, but
    * their round() implementations disagree exactly at digit boundaries
    * (Java BigDecimal HALF_UP vs binary rounding) — floor on the same
    * double is always identical.
    */
  private def qualityMicro: Column =
    floor((lit(0.4) * least(col("n_tokens").cast(DoubleType) / 100.0, lit(1.0))
      + lit(0.3) * (lit(1.0) - col("stop_ratio"))
      + lit(0.3) * least(col("avg_token_len") / 8.0, lit(1.0))
      - lit(0.2) * col("punct_ratio")) * 1000000).cast(LongType)

  /** The `qscore AS (doc_id, quality_micro)` DuckDB CTE — shared by q35a
    * and the corpus-clean composition (q64).
    */
  private[operators] val qualityCteSql: String =
    s"""qscore AS (SELECT doc_id,
      |    CAST(floor((0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
      |        + 0.3 * (1.0 - CAST(len(list_filter(w, x -> x IN ${sqlStrList(stopwords)}))
      |                         AS DOUBLE) / CAST(len(w) AS DOUBLE))
      |        + 0.3 * least(CAST(length(t) - (len(w) - 1) AS DOUBLE) / CAST(len(w) AS DOUBLE) / 8.0, 1.0)
      |        - 0.2 * CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g'))
      |                 AS DOUBLE) / CAST(length(t) AS DOUBLE)) * 1000000) AS BIGINT) AS quality_micro
      |  FROM (SELECT doc_id, t, regexp_split_to_array(t, '\\s+') AS w
      |        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      |              FROM documents)))""".stripMargin

  /** (doc_id, n_tokens, stop_ratio, punct_ratio, avg_token_len,
    * quality_micro) — shared by q33, the percentile filter q35a, and the
    * corpus-clean composition.
    */
  private[graft] def qualityScored(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("t", normText(col("text")))
      .withColumn("w", split(col("t"), " "))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        (markerCount(col("w"), stopwords).cast(DoubleType) /
          size(col("w")).cast(DoubleType)).as("stop_ratio"),
        ((length(col("t")) - length(regexp_replace(col("t"), "[^a-z0-9 ]", ""))).cast(DoubleType) /
          length(col("t")).cast(DoubleType)).as("punct_ratio"),
        ((length(col("t")) - (size(col("w")) - 1)).cast(DoubleType) /
          size(col("w")).cast(DoubleType)).as("avg_token_len"))
      .withColumn("quality_micro", qualityMicro)

  /** Per-doc quality features as a MATERIALIZED shared index per
    * (session, corpus) — like [[shingleIndex]]: q33, the percentile
    * filter q35a (which reads it twice — cutoff pass + filter pass), and
    * the corpus-clean composition all serve off one regex-heavy scoring
    * pass. Narrow (6 numeric columns/doc), so memory cost is trivial
    * next to the shingle index.
    */
  private[operators] val qualityIndexCache = graft.SessionCache.frames("qualityIndex")

  private[graft] def qualityIndex(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    qualityIndexCache.getOrElseUpdate(s, dir)(
      qualityScored(graft.Tables.load(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  val specs: Seq[QuerySpec] = Seq(

    // ----- token counting (whitespace tokenizer + distinct/statistics) ----
    QuerySpec("q31_token_stats")(
      """SELECT doc_id,
        |  len(w) AS n_tokens,
        |  len(list_distinct(w)) AS n_distinct,
        |  len(regexp_extract_all(t, '[a-z0-9]+|[^a-z0-9\s]')) AS n_subword_tokens,
        |  length(t) AS n_norm_chars,
        |  CAST(length(t) - (len(w) - 1) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS avg_token_len
        |FROM (SELECT doc_id, t, regexp_split_to_array(t, '\s+') AS w
        |      FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .withColumn("t", normText(col("text")))
        .withColumn("w", split(col("t"), " "))
      d.select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          size(array_distinct(col("w"))).as("n_distinct"),
          // BPE-ish pre-tokenizer: word pieces + individual punctuation
          size(regexp_extract_all(col("t"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
            .as("n_subword_tokens"),
          length(col("t")).as("n_norm_chars"),
          ((length(col("t")) - (size(col("w")) - 1)).cast(DoubleType) /
            size(col("w")).cast(DoubleType)).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },

    // ----- language-ID (stopword-profile heuristic, deterministic argmax) -
    QuerySpec("q32_lang_id") {
      val scoreSql = langMarkers.map { case (l, ms) =>
        s"len(list_filter(w, x -> x IN ${sqlStrList(ms)})) AS s_$l"
      }.mkString(",\n        |  ")
      s"""SELECT doc_id, s_en, s_de, s_fr, s_es,
        |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS predicted,
        |  lang AS labeled
        |FROM (SELECT doc_id, lang,
        |  $scoreSql
        |  FROM (SELECT doc_id, lang,
        |          regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+') AS w
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin
    } { (s, dir) =>
      val base = Tables.load(s, dir, "documents")
        .withColumn("w", tokens(col("text")))
      val scored = langMarkers.foldLeft(base) { case (df, (l, ms)) =>
        df.withColumn(s"s_$l", markerCount(col("w"), ms))
      }
      val Seq(en, de, fr, es) = langMarkers.map { case (l, _) => col(s"s_$l") }
      scored.select(col("doc_id"), en.as("s_en"), de.as("s_de"), fr.as("s_fr"), es.as("s_es"),
          when(en === 0 && de === 0 && fr === 0 && es === 0, "und")
            .when(en >= de && en >= fr && en >= es, "en")
            .when(de >= fr && de >= es, "de")
            .when(fr >= es, "fr")
            .otherwise("es").as("predicted"),
          col("lang").as("labeled"))
        .orderBy(col("doc_id"))
    },

    // ----- quality scoring (length/stopword/punctuation ratios) -----------
    QuerySpec("q33_quality_score")(
      s"""SELECT doc_id, n_tokens, stop_ratio, punct_ratio, avg_token_len,
        |  CAST(floor((0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |      + 0.3 * (1.0 - stop_ratio)
        |      + 0.3 * least(avg_token_len / 8.0, 1.0)
        |      - 0.2 * punct_ratio) * 1000000) AS BIGINT) AS quality_micro
        |FROM (SELECT doc_id,
        |    len(w) AS n_tokens,
        |    CAST(len(list_filter(w, x -> x IN ${sqlStrList(stopwords)})) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS stop_ratio,
        |    CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / CAST(length(t) AS DOUBLE) AS punct_ratio,
        |    CAST(length(t) - (len(w) - 1) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS avg_token_len
        |  FROM (SELECT doc_id, t, regexp_split_to_array(t, '\\s+') AS w
        |        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
        |              FROM documents)))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityIndex(s, dir)
        .orderBy(col("doc_id"))
    },

    // ----- percentile-cutoff quality filtering ----------------------------
    // Keep documents at/above the 25th percentile of the quality score:
    // the cutoff is computed as an exact interpolated percentile and
    // broadcast (two cheap passes), NOT a global percent_rank window —
    // the global-window formulation funnels the corpus through one
    // partition; the scalar-cutoff one scales.
    QuerySpec("q35a_quality_filter")(
      s"""WITH $qualityCteSql
        |SELECT doc_id, quality_micro FROM qscore
        |WHERE quality_micro >= (SELECT quantile_cont(quality_micro, 0.25) FROM qscore)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val scored = qualityIndex(s, dir)
        .select(col("doc_id"), col("quality_micro"))
      val cutoff = scored.agg(
        percentile(col("quality_micro"), lit(0.25)).as("cut"))
      scored.crossJoin(broadcast(cutoff))
        .filter(col("quality_micro") >= col("cut"))
        .select(col("doc_id"), col("quality_micro"))
        .orderBy(col("doc_id"))
    },

    // ----- document fingerprinting (content hash + 60-bit compact form) ---
    QuerySpec("q34_fingerprint")(
      """SELECT doc_id,
        |  md5(t) AS fp_md5,
        |  CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS fp60,
        |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(t, '\s+'))), ' ')) AS fp_bag,
        |  list_reduce(list_transform(regexp_split_to_array(t, '\s+'),
        |                             tok -> CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2147483647),
        |              (a, b) -> (a * 31 + b) % 2147483647) AS fp_roll
        |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // fp_roll: order-sensitive polynomial rolling hash over the token
      // sequence, acc·31 + h(tok) mod 2³¹−1 (acc·31 < 2³⁶, no overflow).
      // Spark's fold from 0 equals DuckDB's list_reduce seeded with the
      // first element because (0·31 + h₁) mod p = h₁.
      val p = 2147483647L
      val toks = split(col("t"), " ")
      Tables.load(s, dir, "documents")
        .withColumn("t", normText(col("text")))
        .select(col("doc_id"),
          md5(col("t").cast(BinaryType)).as("fp_md5"),
          hex60(col("t")).as("fp60"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(col("t"), " ")))).cast(BinaryType)).as("fp_bag"),
          aggregate(transform(toks, tk => hex60(tk) % p),
            lit(0L), (acc, h) => (acc * 31 + h) % p).as("fp_roll"))
        .orderBy(col("doc_id"))
    },

    // ----- per-source corpus profile (domain-level health report) ---------
    // The report a training pipeline runs per crawl domain / data source
    // before deciding inclusion and mixture weight: volume, language
    // spread, quality, and duplicated-text mass, one row per `source`.
    // All aggregates are EXACT LONGS until a final per-group IEEE
    // division (the q83/q86 recipe), so the composition stays
    // hash-identical cross-engine despite averaging floats. Rides the
    // session quality + shingle indexes (one scan each, shared with
    // q33/q35a and the whole dedup family); every join is doc-keyed and
    // n_docs-sized; the source-keyed aggregate is dimension-sized.
    QuerySpec("q88_source_profile")(
      s"""WITH ${graft.operators.Dedup.shingleBaseCtes},
        |$qualityCteSql,
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |df1 AS (SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY s HAVING count(*) = 1),
        |u AS (SELECT doc_id, count(*) AS n_unique FROM df1 GROUP BY doc_id)
        |SELECT dd.source, count(*) AS n_docs, count(DISTINCT dd.lang) AS n_langs,
        |  CAST(sum(q.quality_micro) AS BIGINT) AS sum_quality_micro,
        |  CAST(sum(q.quality_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_quality_micro,
        |  CAST(sum(coalesce(t.n_sh, 0)) AS BIGINT) AS n_shingles,
        |  CAST(sum(coalesce(t.n_sh, 0)) - sum(coalesce(u.n_unique, 0)) AS BIGINT) AS n_dup,
        |  CASE WHEN sum(coalesce(t.n_sh, 0)) = 0 THEN NULL
        |       ELSE CAST(sum(coalesce(t.n_sh, 0)) - sum(coalesce(u.n_unique, 0)) AS DOUBLE)
        |            / CAST(sum(coalesce(t.n_sh, 0)) AS DOUBLE) END AS dup_fraction
        |FROM documents dd
        |JOIN qscore q ON dd.doc_id = q.doc_id
        |LEFT JOIN tot t ON dd.doc_id = t.doc_id
        |LEFT JOIN u ON dd.doc_id = u.doc_id
        |GROUP BY dd.source ORDER BY dd.source""".stripMargin) { (s, dir) =>
      val docs = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      val q = qualityIndex(s, dir).select(col("doc_id"), col("quality_micro"))
      val idx = shingleIndex(s, dir)
      val tot = idx.select(col("doc_id"),
        size(col("ss")).cast(LongType).as("n_sh"))
      val uniq = idx.select(col("doc_id"), explode(col("ss")).as("shg"))
        .groupBy(col("shg"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
      val sumSh = sum(coalesce(col("n_sh"), lit(0L)))
      val sumUniq = sum(coalesce(col("n_unique"), lit(0L)))
      docs.join(q, Seq("doc_id"))
        .join(tot, Seq("doc_id"), "left")
        .join(uniq, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("quality_micro")).as("sum_quality_micro"),
          (sum(col("quality_micro")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("avg_quality_micro"),
          sumSh.as("n_shingles"),
          (sumSh - sumUniq).as("n_dup"),
          when(sumSh === 0, lit(null).cast(DoubleType))
            .otherwise((sumSh - sumUniq).cast(DoubleType) / sumSh.cast(DoubleType))
            .as("dup_fraction"))
        .orderBy(col("source"))
    }
  )

  /** Shared with [[Dedup]]: one row per document with its DISTINCT shingle
    * set as an array column — the narrow (shuffle-free) representation the
    * dedup family builds on: set sizes and minhash signatures become pure
    * projections over the array instead of explode→groupBy re-aggregation.
    *
    * Shingles are carried as 60-bit md5 hashes (Broder-style shingle
    * hashing, [[TextFunctions.hex60]]), not strings: join/shuffle keys and
    * intersection elements are 8-byte longs instead of ~25-byte phrases,
    * and DuckDB regenerates the identical hashes so every downstream
    * set size / intersection / signature stays oracle-exact.
    *
    * The repartition rebalances a narrow scan before the CPU-heavy
    * shingle expansion: small fixture files arrive as ONE split, which
    * would serialize the whole pipeline onto a single core. (At
    * production scale a wide scan makes this a near-no-op shuffle of the
    * doc table.)
    */
  private[graft] def docShingleSets(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .repartition(col("doc_id"))
      .withColumn("t", normText(col("text")))
      .select(col("doc_id"),
        array_distinct(transform(shingles(split(col("t"), " ")), sh => hex60(sh))).as("ss"))

  /** The corpus shingle-set frame as a MATERIALIZED shared index, one per
    * (session, fixture dir) — the same posture as Similarity's persisted
    * SRP index: a production dedup stack computes the shingle index once
    * and serves every shingle consumer (exact Jaccard q36/q36a, minhash
    * q37, decontamination q63) from it, instead of re-tokenizing the
    * corpus per query — and q36a's exact verify alone touches it three
    * times. MEMORY_AND_DISK: corpus-sized by design (an index, not a
    * temp), spilling rather than failing when it outgrows executor
    * memory.
    */
  /** The name of the shingle-set frame in the durable [[graft.IndexStore]]. */
  private[graft] val ShingleStoreName = "shingle_sets"

  private[operators] val shingleIndexCache =
    graft.SessionCache.frames("shingleIndex", stores = Set(ShingleStoreName))

  /** Durable tier first ([[graft.IndexStore]], opt-in via
    * `spark.graft.index.dir`): with a store configured, a session that
    * finds yesterday's committed shingle parquet serves every consumer
    * (q36/q36a/q37/q63/q73/q74, corpus-clean) from a columnar scan of it —
    * ZERO re-shingling of already-indexed docs. Without a store, build
    * in-session exactly as before.
    */
  /** The sidecar geometry of the shingle store: an append re-shingles its
    * increment under the same recipe, and a load must agree for stored
    * hashes to be comparable with freshly computed ones.
    */
  private val shingleParams: Map[String, String] =
    Map("shingleN" -> "3", "hash" -> "md5-60")

  /** Build (or serve) the durable shingle index over an arbitrary docs
    * frame — the library entry [[shingleIndex]] and the incremental specs
    * share. Records the shingle recipe and the indexed row count in the
    * store's metadata sidecar ([[graft.IndexStore.servedFrom]]'s loud
    * staleness tripwire: an out-of-band corpus mutation rebuilds instead
    * of serving stale sets).
    */
  private[graft] def buildShingleIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.IndexStore.servedFrom(s, dir, ShingleStoreName,
      shingleParams, docs.count())(docShingleSets(docs))

  private[graft] def shingleIndex(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    shingleIndexCache.getOrElseUpdate(s, dir)(
      buildShingleIndex(s, dir, graft.Tables.load(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** Incremental-index append: shingle ONLY the new doc batch and land it
    * in the durable store (advancing the sidecar's corpus count so the
    * next load's staleness check expects the grown corpus); the append
    * changes the store's identity, so the next [[shingleIndex]] read in
    * any session serves old∪new from disk. The daily-ingest counterpart of q74's new×all
    * probe: the increment pays O(increment) shingling, never O(corpus).
    */
  private[graft] def appendToShingleIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, newDocs: org.apache.spark.sql.DataFrame,
      extraMeta: Map[String, String] = Map.empty): Unit =
    graft.IndexStore.append(s, dir, ShingleStoreName, docShingleSets(newDocs),
      newDocs.count(), extraMeta)

  private[operators] val markerList: Seq[(String, Seq[String])] = langMarkers
}
