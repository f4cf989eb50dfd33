package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full training-corpus preprocessing recipe as ONE composed,
  * oracle-verified operator — the pipeline a user actually runs before
  * training:
  *
  *   1. quality filter — drop documents below the 25th percentile of the
  *      composite quality score (scalar cutoff broadcast, q35a);
  *   2. exact dedup — keep the min-doc_id representative per bag-of-words
  *      fingerprint (q35);
  *   3. near-dup removal — drop the higher-doc_id end (b_doc; pairs are
  *      emitted with a_doc < b_doc) of every MinHash-verified pair at
  *      Jaccard ≥ 0.8 whose BOTH ends survived the prior stages (q37's
  *      verified pairs). Note the drop is NON-transitive: for a chain
  *      a–b, b–c both b and c are dropped even though removing b alone
  *      would already break the b–c pair — deliberate, so the survivor
  *      set is a pure function of the pair list (order-independent,
  *      cross-engine reproducible), at the cost of slight over-removal
  *      on duplicate chains;
  *   4. benchmark decontamination — drop the benchmark slice itself and
  *      every corpus document sharing ≥ 5 shingles with it (q63's
  *      size-gated join, [[Dedup.decontaminate]]);
  *   5. deterministic train/val/test split (q56's salted hash buckets).
  *
  * Every stage is the already-oracle-checked operator; the composition is
  * itself oracle-checked end-to-end (q64), so stage ORDER and the
  * survivor-set algebra are pinned cross-engine too. Scale: each stage is
  * the scan-parallel/bucketed plan its own query uses, and stages 3–4 are
  * anti-joins against the SESSION-CACHED corpus-wide pair/contamination
  * indexes ([[Dedup.verifiedPairs]], [[Dedup.decontPairs]]) — valid
  * because signatures/Jaccard/shared-shingle counts are per-doc/per-pair
  * functions, so corpus-wide-then-restrict ≡ recompute-on-survivors —
  * and the cleaned survivor set itself is materialized once per
  * (session, corpus) ([[cleanedFrame]]) for both composition consumers.
  */
object CorpusClean {

  /** Cleaned corpus: (doc_id, quality_micro, split), unordered.
    *
    * `qscored` is the per-doc quality feature frame
    * ([[TextAnalysis.qualityIndex]]); `pairs` the CORPUS-WIDE verified
    * near-dup pair set ([[Dedup.verifiedPairs]]) and `contaminated` the
    * corpus-wide contaminated doc_ids ([[Dedup.decontPairs]]) — both are
    * session-cached indexes shared with q37/q73/q75/q150 resp. q63, so
    * stages 3–4 are anti-joins against built-once frames instead of
    * re-running the banding / shingle joins per composition. Restricting
    * the corpus-wide sets to survivors is EXACT, not approximate:
    * MinHash signatures, band membership and pairwise Jaccard are
    * per-doc/per-pair functions, so pairs(survivor slice) ≡ pairs(corpus)
    * ∩ survivors² (the oracle's `dropnear` computes exactly this
    * corpus-wide-then-restrict form), and contamination is a
    * per-(doc, bench_doc) shared-shingle count independent of the rest
    * of the corpus.
    */
  private[graft] def clean(docs: DataFrame, qscored: DataFrame,
      pairs: DataFrame, contaminated: DataFrame): DataFrame = {
    // 1. quality percentile filter (scalar cutoff broadcast)
    val scored = qscored
      .select(col("doc_id"), col("quality_micro"))
    val cutoff = scored.agg(percentile(col("quality_micro"), lit(0.25)).as("cut"))
    val keep1 = scored.crossJoin(broadcast(cutoff))
      .filter(col("quality_micro") >= col("cut"))
      .select(col("doc_id"), col("quality_micro"))
    // 2. exact dedup among survivors: min doc_id per fingerprint. A
    //    groupBy + join, NOT min().over(partitionBy(fp_bag)): a window
    //    sorts each fingerprint group in one task, and exact-duplicate
    //    multiplicity is data-dependent (corpus-wide boilerplate — empty
    //    or templated docs — can put millions of rows under one
    //    fingerprint). The aggregate runs partial+final (map-side
    //    combine), so the hot group reduces before it shuffles.
    val fp = docs.select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))
        .cast(BinaryType)).as("fp_bag"))
    // localCheckpoint both fan-out frames (the q128 discipline): the
    // fingerprinted survivors feed the min-doc aggregate AND its join
    // back (without it the md5 bag fingerprint over full text runs
    // twice), and keep2 feeds stages 3, 4, and 5 (its lineage — cutoff,
    // fp join, dedup — would re-run per consumer).
    val survivorFp = keep1.join(fp, "doc_id")
      .transform(graft.Materialize.ephemeral)
    val keepDoc = survivorFp.groupBy(col("fp_bag")).agg(min(col("doc_id")).as("keep_doc"))
    val keep2 = survivorFp.join(keepDoc, "fp_bag")
      .filter(col("doc_id") === col("keep_doc"))
      .select(col("doc_id"), col("quality_micro"))
      .transform(graft.Materialize.ephemeral)
    // 3. near-dup removal: drop the higher-doc_id end of corpus-wide
    //    verified pairs whose BOTH ends are still alive (non-transitive;
    //    see object doc) — the oracle's `dropnear` shape verbatim.
    val dropNear = pairs
      .join(keep2.select(col("doc_id").as("a_doc")), "a_doc")
      .join(keep2.select(col("doc_id").as("b_doc")), "b_doc")
      .select(col("b_doc").as("doc_id")).distinct()
    val keep3 = keep2.join(dropNear, Seq("doc_id"), "left_anti")
    // 4. decontamination: benchmark slice out, contaminated docs out —
    //    keep4 = keep3 \ contaminated, an anti-join against the shared
    //    corpus-wide contaminated set (the oracle's `cont` verbatim).
    val keep4 = keep3.filter(col("doc_id") % 7 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 5. deterministic split
    val b = hex60(concat(col("doc_id").cast(StringType), lit("|split"))) % 100
    keep4
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
  }

  /** The cleaned corpus as a MATERIALIZED shared frame per (session,
    * corpus) — BOTH composition consumers (q64's listing, q69/
    * [[exportJsonlShards]]'s shard packing) need the identical survivor
    * set, which is a pure function of the corpus + the shared indexes.
    * localCheckpoint (NOT registered ephemeral) severs lineage, so the
    * per-query [[graft.Materialize.releaseAll]] of downstream ephemeral
    * frames can never strand this one; narrow (3 cols/surviving doc).
    * Rebuilds with the shared indexes it reads (the cleaned set of a grown
    * corpus is a different frame); released with [[graft.Materialize.free]],
    * since its blocks are checkpoint blocks.
    */
  private[graft] val cleanedCache = new graft.SessionCache[DataFrame]("cleaned",
    upstream = Seq(TextAnalysis.qualityIndexCache, Dedup.verifiedPairsCache,
      Dedup.decontPairsCache))(graft.Materialize.free)

  /** The composition's un-checkpointed build plan — what [[cleanedFrame]]
    * materializes, and what the plan guards inspect (the cached frame's
    * own plan is just a checkpoint scan).
    */
  private[graft] def cleanedBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    clean(Tables.load(s, dir, "documents"),
      TextAnalysis.qualityIndex(s, dir),
      Dedup.verifiedPairs(s, dir).select(col("a_doc"), col("b_doc")),
      Dedup.decontPairs(s, dir).select(col("doc_id")).distinct())

  private[graft] def cleanedFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    cleanedCache.getOrElseUpdate(s, dir)(cleanedBuild(s, dir).localCheckpoint())

  /** The full cleaning recipe as a DuckDB CTE chain ending in
    * `cleaned(doc_id, quality_micro, split)` — q64 selects it directly;
    * the shard-export composition (q69) packs on top of it.
    */
  private[operators] val cleanedCtes: String =
    s"""${Dedup.shingleCtes},
      |${Dedup.minhashPairCtes},
      |${TextAnalysis.qualityCteSql},
      |keep1 AS (SELECT doc_id, quality_micro FROM qscore
      |          WHERE quality_micro >= (SELECT quantile_cont(quality_micro, 0.25) FROM qscore)),
      |fp AS (SELECT doc_id,
      |         md5(array_to_string(list_sort(list_distinct(
      |           regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'))), ' ')) AS fp_bag
      |       FROM documents),
      |keep2 AS (SELECT doc_id, quality_micro FROM (
      |            SELECT k.doc_id, k.quality_micro,
      |              min(k.doc_id) OVER (PARTITION BY f.fp_bag) AS keep_doc
      |            FROM keep1 k JOIN fp f USING (doc_id))
      |          WHERE doc_id = keep_doc),
      |dropnear AS (SELECT DISTINCT p.b_doc AS doc_id FROM ndpairs p
      |             JOIN keep2 ka ON p.a_doc = ka.doc_id
      |             JOIN keep2 kb ON p.b_doc = kb.doc_id),
      |bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 = 0),
      |cont AS (SELECT doc_id FROM (
      |           SELECT c.doc_id, b.doc_id AS bd, count(*) AS n
      |           FROM sh c JOIN bench b ON c.s = b.s
      |           WHERE c.doc_id % 7 <> 0 GROUP BY 1, 2)
      |         WHERE n >= 5 GROUP BY doc_id),
      |keep4 AS (SELECT k.doc_id, k.quality_micro FROM keep2 k
      |          WHERE k.doc_id % 7 <> 0
      |            AND k.doc_id NOT IN (SELECT doc_id FROM dropnear)
      |            AND k.doc_id NOT IN (SELECT doc_id FROM cont)),
      |cleaned AS (SELECT doc_id, quality_micro,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, quality_micro,
      |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 AS b
      |        FROM keep4))""".stripMargin

  /** The cleaned TRAIN split with its token-budget shard assignment —
    * the single source of the q69 shard rule, shared by the q69 manifest
    * query and [[exportJsonlShards]] (JsonlExportSpec pins their
    * agreement, which this sharing makes structural rather than
    * coincidental). localCheckpoint materializes the (tiny, 3-longs/doc)
    * train manifest ONCE and truncates the lineage; blocks are dropped by
    * the ContextCleaner when the frame goes out of scope.
    */
  private def trainShardFrame(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val train = cleanedFrame(s, dir).filter(col("split") === "train")
      .join(TextAnalysis.qualityIndex(s, dir)
        .select(col("doc_id"), col("n_tokens").cast(LongType).as("tok")), "doc_id")
      .select(col("doc_id"), col("quality_micro"), col("tok"))
      .transform(graft.Materialize.ephemeral)
    Ordinals.globalRunningSumNative(train, "cum", "doc_id", col("tok"))
      .withColumn("shard",
        floor((col("cum") - col("tok")).cast(DoubleType) / 2048).cast(LongType))
  }

  /** The per-shard manifest over [[trainShardFrame]] — q69's output shape. */
  private def shardManifest(sharded: DataFrame): DataFrame =
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        sum(col("quality_micro")).as("sum_quality_micro"))
      .orderBy(col("shard"))

  val specs: Seq[QuerySpec] = Seq(

    // ----- corpus card (the datasheet snapshot) ----------------------------
    // "Datasheets for Datasets" as one operator: the ten headline numbers
    // a data card leads with — volume (docs/tokens/vocab), provenance
    // (langs/sources), contamination risks (PII docs), duplication health
    // (exact-dup docs, near-dup pairs and docs), and quality (exact mean
    // micro-score) — each integer-exact, each already proven by its
    // underlying operator (q35/q37/q59/q33 et al.); this query pins their
    // COMPOSITION into the artifact a corpus release ships. Scale: every
    // metric is a 1-row aggregate off a shared cached index (tf, quality,
    // verified pairs) or a single docs scan; the union is ten 1-row
    // frames — nothing here exceeds the cost of its source operator.
    QuerySpec("q150_corpus_card")(
      s"""WITH ${Dedup.shingleCtes},
        |${Dedup.minhashPairCtes},
        |${TextAnalysis.qualityCteSql},
        |tfc AS (SELECT doc_id, t AS term, count(*) AS tf
        |        FROM (SELECT doc_id,
        |                unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        |              FROM documents)
        |        GROUP BY 1, 2)
        |SELECT metric, value FROM (
        |  SELECT 'dup_doc_count' AS metric, CAST(count(DISTINCT d) AS BIGINT) AS value
        |  FROM (SELECT a_doc AS d FROM ndpairs UNION ALL SELECT b_doc FROM ndpairs)
        |  UNION ALL SELECT 'dup_pair_count', CAST(count(*) AS BIGINT) FROM ndpairs
        |  UNION ALL SELECT 'exact_dup_docs', CAST(coalesce(sum(n), 0) AS BIGINT)
        |    FROM (SELECT count(*) AS n
        |          FROM (SELECT md5(array_to_string(list_sort(list_distinct(
        |                  regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'))), ' ')) AS fp
        |                FROM documents)
        |          GROUP BY fp HAVING count(*) > 1)
        |  UNION ALL SELECT 'mean_quality_micro',
        |    CAST(sum(quality_micro) // count(*) AS BIGINT) FROM qscore
        |  UNION ALL SELECT 'n_docs', CAST(count(*) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_sources', CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'n_tokens', CAST(sum(tf) AS BIGINT) FROM tfc
        |  UNION ALL SELECT 'pii_docs', CAST(sum(CASE WHEN
        |      len(regexp_extract_all(lower(text), '${TrainPipe.EmailPat}'))
        |      + len(regexp_extract_all(text, '${TrainPipe.DigitRunPat}')) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'vocab_unigrams', CAST(count(DISTINCT term) AS BIGINT) FROM tfc)
        |ORDER BY metric""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val vp = Dedup.verifiedPairs(s, dir)
      val tf = CorpusOps.tfIndex(s, dir)
      def metric(name: String, agg: DataFrame): DataFrame =
        agg.select(lit(name).as("metric"), col("value").cast(LongType).as("value"))
      val card = Seq(
        metric("dup_doc_count",
          vp.select(col("a_doc").as("d")).unionAll(vp.select(col("b_doc").as("d")))
            .agg(countDistinct(col("d")).as("value"))),
        metric("dup_pair_count", vp.agg(count(lit(1)).as("value"))),
        metric("exact_dup_docs",
          docs.select(md5(concat_ws(" ",
              array_sort(array_distinct(tokens(col("text"))))).cast(BinaryType)).as("fp"))
            .groupBy(col("fp")).agg(count(lit(1)).as("n"))
            .filter(col("n") > 1)
            .agg(coalesce(sum(col("n")), lit(0L)).as("value"))),
        metric("mean_quality_micro",
          TextAnalysis.qualityIndex(s, dir)
            .agg(expr("sum(quality_micro) div count(*)").as("value"))),
        metric("n_docs", docs.agg(count(lit(1)).as("value"))),
        metric("n_langs", docs.agg(countDistinct(col("lang")).as("value"))),
        metric("n_sources", docs.agg(countDistinct(col("source")).as("value"))),
        metric("n_tokens", tf.agg(sum(col("tf")).as("value"))),
        metric("pii_docs", docs
          .filter(size(regexp_extract_all(lower(col("text")), lit(TrainPipe.EmailPat), lit(0)))
            + size(regexp_extract_all(col("text"), lit(TrainPipe.DigitRunPat), lit(0))) > 0)
          .agg(count(lit(1)).as("value"))),
        metric("vocab_unigrams", tf.agg(countDistinct(col("term")).as("value"))))
      card.reduce(_ unionAll _).orderBy(col("metric"))
    },

    QuerySpec("q64_corpus_clean")(
      s"""WITH $cleanedCtes
        |SELECT doc_id, quality_micro, split FROM cleaned
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      cleanedFrame(s, dir).orderBy(col("doc_id"))
    },

    // ----- shard export: clean → train split → token-budget packing -------
    // The END of the preprocessing story: what actually ships to the
    // trainer. The cleaned corpus's train split is packed into
    // 2048-token shards (q65's concatenate-and-chunk rule, two-phase
    // running sum — no global window), with per-shard doc/token counts
    // and the summed quality mass as the shard manifest. Every stage is
    // the already-oracle-checked operator; this pins their composition —
    // clean survivors, split membership, packing boundaries — end-to-end
    // cross-engine. Token counts come FREE from the quality index
    // (n_tokens is already a scored feature; no re-tokenization).
    QuerySpec("q69_export_shards")(
      s"""WITH $cleanedCtes,
        |tk AS (SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS BIGINT) AS tok
        |       FROM documents),
        |tr AS (SELECT c.doc_id, c.quality_micro, tk.tok,
        |         sum(tk.tok) OVER (ORDER BY c.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM cleaned c JOIN tk USING (doc_id) WHERE c.split = 'train')
        |SELECT shard, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(quality_micro) AS BIGINT) AS sum_quality_micro
        |FROM (SELECT doc_id, quality_micro, tok,
        |        CAST(floor((cum - tok) / 2048.0) AS BIGINT) AS shard
        |      FROM tr)
        |GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
      shardManifest(trainShardFrame(s, dir))
    }
  )

  /** Physical JSONL shard export — the trainer-facing artifact behind
    * q69's manifest: the cleaned TRAIN split, shard-assigned by the same
    * token-budget rule, written as `shard=N/` text partitions with one
    * JSON object per line ({doc_id, text, lang, source, quality_micro,
    * n_tokens}) — the interchange format corpus consumers actually read.
    * One task per shard (repartition on the shard key) with rows sorted
    * by doc_id inside each file, so the export is byte-deterministic and
    * a shard never splinters across files. Returns the shard manifest
    * frame (identical content to q69) for the caller to persist next to
    * the data.
    */
  def exportJsonlShards(s: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val sharded = trainShardFrame(s, dir)
    sharded
      .join(docs.select(col("doc_id"), col("text"), col("lang"), col("source")), "doc_id")
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("text"), col("lang"), col("source"),
          col("quality_micro"), col("tok").as("n_tokens"))).as("value"),
        col("doc_id"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .select(col("shard"), col("value"))
      .write.mode("overwrite").partitionBy("shard").text(outDir)
    shardManifest(sharded)
  }
}
