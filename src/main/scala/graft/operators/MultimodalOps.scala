package graft.operators

import graft.{QuerySpec, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-checked differential tests of the multimodal path. The decode is
  * REAL (javax.imageio PNG / javax.sound WAV — see [[Multimodal]]): each
  * query synthesizes payloads with a genuine ENCODER, decodes them with
  * the genuine DECODER, and derives its output from the decoded values
  * only. The DuckDB oracle re-derives the same values arithmetically from
  * the deterministic synthesis functions — both codecs are lossless, so
  * any divergence anywhere in the encode→decode→hash pipeline fails the
  * hash compare exactly (the q38/q47 exact-differential discipline).
  */
object MultimodalOps {

  /** q111 frames sampled per media payload. */
  private[operators] val Frames = 4

  // ---- q136 perceptual-hash parameters --------------------------------
  // 56-bit horizontal-gradient dHash over the 8×8 block grid of the
  // decoded 16×16 luma: bit (by·7+bx) = [blocksum(bx+1,by) > blocksum(bx,by)].
  // Integer-exact (sums and strict compares, no division) and invariant
  // under uniform brightness shift (gradients cancel the offset) —
  // spec-pinned. 4 bands × 14 bits, the q38 SimHash banding pattern.
  private[graft] val ImgHashBits = 56
  private[graft] val ImgBands = 4
  private[graft] val ImgBandBits = 14
  private[graft] val ImgHammingMax = 8
  private val Side = Multimodal.ImgSide // 16
  private val Blocks = 8 // 8×8 block grid of 2×2-pixel blocks

  /** The 64 block sums of a flat row-major `Side`×`Side` luma array, as
    * one array column (each block summed once; the dHash reads each entry
    * up to twice).
    */
  private def blockSums(luma: Column): Column =
    array((0 until Blocks * Blocks).map { b =>
      val (bx, by) = (b % Blocks, b / Blocks)
      def el(x: Int, y: Int) = element_at(luma, y * Side + x + 1)
      (el(2 * bx, 2 * by) + el(2 * bx + 1, 2 * by) +
        el(2 * bx, 2 * by + 1) + el(2 * bx + 1, 2 * by + 1)).cast(LongType)
    }: _*)

  /** 56-bit dHash from a block-sum array column (unrolled constant-shift
    * terms, the q38 fingerprint-assembly pattern — stays inside
    * whole-stage codegen).
    */
  private def dhashFromBlocks(bs: Column): Column =
    (0 until ImgHashBits).map { i =>
      val (bx, by) = (i % (Blocks - 1), i / (Blocks - 1))
      when(element_at(bs, by * Blocks + bx + 2) > element_at(bs, by * Blocks + bx + 1),
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Add a 56-bit dHash column computed from a flat luma array. Two
    * projection steps on purpose: the block-sum array must be a NAMED
    * column between them — inlining [[blockSums]] into every one of
    * [[dhashFromBlocks]]'s 112 element_at references would re-evaluate
    * the 256-term array constructor per reference (~29k expression evals
    * per row; Catalyst keeps the projects separate exactly because the
    * alias is non-cheap and multiply used).
    */
  private[graft] def withDhash56(df: org.apache.spark.sql.DataFrame,
      luma: Column, out: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__bs", blockSums(luma))
      .withColumn(out, dhashFromBlocks(col("__bs")))
      .drop("__bs")

  // ---- q139 audio-fingerprint parameters -------------------------------
  // Haitsma–Kalker-style robust audio fingerprint: frame the decoded PCM
  // into an 8×8 time × band energy grid E(f,b) (cell = exact sum of 4
  // contiguous samples) and take the SIGN of the second difference
  // D(f,b) = (E(f,b) − E(f,b+1)) − (E(f+1,b) − E(f+1,b+1)) — 7×7 = 49
  // bits. Integer-exact, and by construction invariant under per-frame
  // uniform gain (a constant added to every sample of a frame shifts all
  // its cells equally, cancelling in the band difference) — the property
  // that makes it an AUDIO fingerprint rather than a reshaped dHash;
  // spec-pinned. Bands 13+12+12+12 bits, the q136/q38 blocking pattern.
  private[graft] val AudHashBits = 49
  private[graft] val AudHammingMax = 8
  private[graft] val AudBandDefs: Seq[(Int, Int)] =
    Seq((0, 13), (13, 12), (25, 12), (37, 12)) // (shift, width)
  private val AudF = Multimodal.AudFrames // 8
  private val AudB = Multimodal.AudBands  // 8

  /** The 64 energy cells of a flat 256-sample PCM array, as one array
    * column: cell (f, b) = exact sum of samples [f·32 + b·4, f·32 + b·4 + 4).
    */
  private def cellSums(pcm: Column): Column =
    array((0 until AudF * AudB).map { c =>
      val base = (c / AudB) * Multimodal.AudFrameLen + (c % AudB) * Multimodal.AudBandLen
      (0 until Multimodal.AudBandLen)
        .map(k => element_at(pcm, base + k + 1))
        .reduce(_ + _).cast(LongType)
    }: _*)

  /** 49-bit fingerprint from an energy-cell array column: bit (f·7 + b) =
    * [(E(f,b) − E(f,b+1)) − (E(f+1,b) − E(f+1,b+1)) > 0].
    */
  private def hkFromCells(cs: Column): Column =
    (0 until AudHashBits).map { i =>
      val (f, b) = (i / (AudB - 1), i % (AudB - 1))
      def el(ff: Int, bb: Int) = element_at(cs, ff * AudB + bb + 1)
      when((el(f, b) - el(f, b + 1)) - (el(f + 1, b) - el(f + 1, b + 1)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Add the 49-bit audio fingerprint from a flat PCM array column — the
    * same two-projection shape as [[withDhash56]] (the cell array is a
    * named non-cheap alias read 4× per bit).
    */
  private[graft] def withHk49(df: org.apache.spark.sql.DataFrame,
      pcm: Column, out: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__cs", cellSums(pcm))
      .withColumn(out, hkFromCells(col("__cs")))
      .drop("__cs")

  /** The q136 LSH band layout as (shift, width) pairs. */
  private[graft] val ImgBandDefs: Seq[(Int, Int)] =
    (0 until ImgBands).map(b => (b * ImgBandBits, ImgBandBits))

  /** Explode a `(media_id, fp)` frame into its (band, band-value) LSH
    * keys — one row per fingerprint per band.
    */
  private def bandExplode(fp: org.apache.spark.sql.DataFrame,
      bandDefs: Seq[(Int, Int)]): org.apache.spark.sql.DataFrame = {
    val bandStructs = bandDefs.zipWithIndex.map { case ((shift, width), b) =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), shift)
          .bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    fp.select(col("media_id"), col("fp"),
        explode(array(bandStructs: _*)).as("tb"))
      .select(col("media_id"), col("fp"), col("tb.band").as("band"), col("tb.bv").as("bv"))
  }

  /** Dedup + exact-Hamming verify over an (a_id, a_fp, b_id, b_fp)
    * candidate frame — the shared tail of the band joins below.
    */
  private def verifyHamming(cand: org.apache.spark.sql.DataFrame,
      tau: Int): org.apache.spark.sql.DataFrame =
    cand.distinct()
      .withColumn("hamming", bit_count(col("a_fp").bitwiseXOR(col("b_fp"))))
      .filter(col("hamming") <= tau)
      .select(col("a_id"), col("b_id"), col("hamming"))

  /** Banded-LSH Hamming near-dup pairs over a `(media_id, fp)` frame:
    * explode each fingerprint into its (band, band-value) keys, equi-join
    * on them (candidates share ≥1 exact band — never all-pairs), then
    * exact-Hamming verify. Shared by q136 (4×14-bit) and q139
    * (13+12+12+12-bit). Fixture scale broadcasts the band frame;
    * production is the same shuffle equi-join on (band, bv) — keyed
    * either way, never a theta loop.
    */
  private def bandedHammingPairs(fp: org.apache.spark.sql.DataFrame,
      bandDefs: Seq[(Int, Int)], tau: Int): org.apache.spark.sql.DataFrame = {
    val bands = bandExplode(fp, bandDefs)
    verifyHamming(
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("a_id"), col("x.fp").as("a_fp"),
                col("y.media_id").as("b_id"), col("y.fp").as("b_fp")),
      tau)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The near-dup pairs a NEW batch introduces against stored ∪ batch —
    * the media leg of q74's new×corpus probe, used by the streaming
    * fingerprint maintainer. One side of the band join is the BATCH alone
    * (O(batch-candidates), never O(store²)); under the append-only id
    * contract (batch ids exceed every stored id) the result is exactly
    * the batch's slice of [[bandedHammingPairs]] over the full corpus,
    * which is what the spec pins.
    */
  private[graft] def bandedHammingNewPairs(stored: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      bandDefs: Seq[(Int, Int)], tau: Int): org.apache.spark.sql.DataFrame =
    verifyHamming(
      bandExplode(stored.unionByName(batch), bandDefs).as("x")
        .join(bandExplode(batch, bandDefs).as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("a_id"), col("x.fp").as("a_fp"),
                col("y.media_id").as("b_id"), col("y.fp").as("b_fp")),
      tau)

  // ---- durable media-fingerprint store (continuous ingest leg) ---------

  /** The durable `(media_id, fp)` store behind the streaming maintainer
    * ([[graft.streaming.IndexMaintenance.maintainMediaFpIndex]]): decode
    * + perceptual hash happen ONCE per image at ingest; the nightly
    * near-dup job and every probe serve off the stored fingerprints.
    */
  private[graft] val MediaFpStoreName = "media_fp"
  private val mediaFpParams: Map[String, String] =
    Map("hash" -> "dhash56-16x16-2x2pool", "bands" -> "4x14")

  /** `(media_id, fp)` over an image frame — one real decode per image,
    * then the declarative dHash. The store's row builder.
    */
  private[graft] def imageFps(images: org.apache.spark.sql.Dataset[Multimodal.ImageRow]): org.apache.spark.sql.DataFrame =
    withDhash56(Multimodal.imageLuma(images), col("luma"), "fp")
      .select(col("media_id"), col("fp"))

  /** `(media_id, fp)` over a clip frame — one real WAV decode per clip,
    * then the declarative band-energy fingerprint (q139, q141).
    */
  private[graft] def clipFps(clips: org.apache.spark.sql.Dataset[Multimodal.ClipRow]): org.apache.spark.sql.DataFrame =
    withHk49(Multimodal.audioPcm(clips), col("pcm"), "fp")
      .select(col("media_id"), col("fp"))

  /** Build (or serve) the durable media-fingerprint index — the
    * [[graft.IndexStore.servedFrom]] discipline: geometry + corpus count
    * in the sidecar, loud rebuild on drift, plain build when no store is
    * configured (the batch-query path).
    */
  private[graft] def buildMediaFpIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, images: org.apache.spark.sql.Dataset[Multimodal.ImageRow]): org.apache.spark.sql.DataFrame =
    graft.IndexStore.servedFrom(s, dir, MediaFpStoreName,
      mediaFpParams, images.count())(imageFps(images))

  // ---- session-cached fingerprint frames (q136 / q139 / q141) ----------
  // Built-once/served-many per (session, corpus), the tf-index
  // discipline: the decode passes are the media family's real cost, and
  // three queries read each fingerprint frame. persist (droppable,
  // recomputable), never released — NOT Materialize.ephemeral.

  private val imageFpCache = graft.SessionCache.frames("imageFp", stores = Set(MediaFpStoreName))
  private val clipFpCache = graft.SessionCache.frames("clipFp")

  private[graft] def imageFpIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    imageFpCache.getOrElseUpdate(s, dir)(
      buildMediaFpIndex(s, dir,
          Multimodal.synthesizeImages(Tables.load(s, dir, "documents")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  private[graft] def clipFpIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    clipFpCache.getOrElseUpdate(s, dir)(
      clipFps(Multimodal.synthesizeClips(Tables.load(s, dir, "documents")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  // ---- DuckDB derivations of the synthesis functions -------------------

  /** [[Multimodal.lumaAt]] in DuckDB SQL (m = media id expr, x/y = pixel
    * coordinate exprs — all nonnegative integers): pixel = byte x of
    * md5("g:y"), brightened on the variant's row.
    */
  private def lumaSql(m: String, x: String, y: String): String = {
    val base = s"CAST('0x' || substr(md5(concat(CAST($m // 8 AS VARCHAR), ':', " +
      s"CAST($y AS VARCHAR))), 2 * ($x) + 1, 2) AS BIGINT)"
    s"(CASE WHEN ($m % 8) // 2 > 0 AND $y = ($m % 8) // 2 THEN ($base + 96) % 256 ELSE $base END)"
  }

  /** [[Multimodal.pcmAt]] in DuckDB SQL. */
  private def pcmSql(m: String, i: String): String =
    s"(($m*31 + $i*17 + ($i*$i % 64) * ($m%7+1)) % 256)"

  /** [[Multimodal.clipAt]] in DuckDB SQL (q139 fixture clips): sample =
    * byte i%16 of md5("a" || g || ":" || i//16), +60 mod 256 on the
    * variant's perturbed energy cell.
    */
  private def clipSql(m: String, i: String): String = {
    val base = s"CAST('0x' || substr(md5(concat('a', CAST($m // 8 AS VARCHAR), ':', " +
      s"CAST($i // 16 AS VARCHAR))), 2 * ($i % 16) + 1, 2) AS BIGINT)"
    val fl = Multimodal.AudFrameLen
    val bl = Multimodal.AudBandLen
    s"(CASE WHEN ($m % 8) // 2 > 0 AND $i // $fl = ($m % 8) // 2 " +
      s"AND ($i % $fl) // $bl = ($m % 8) // 2 THEN ($base + 60) % 256 ELSE $base END)"
  }

  // ---- shared oracle CTE builders (q136 / q139 / q141) ------------------

  /** CTE block deriving `${p}fp(media_id, fp)` — the 56-bit dHash of every
    * fixture image, from the synthesis arithmetic.
    */
  private def imageFpCteSql(p: String): String =
    s"""${p}img AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 2 = 0),
      |${p}px AS (SELECT media_id, i % $Side AS x, i // $Side AS y,
      |         ${lumaSql("media_id", s"(i % $Side)", s"(i // $Side)")} AS p
      |       FROM ${p}img, (SELECT unnest(generate_series(0, ${Side * Side - 1})) AS i)),
      |${p}bs AS (SELECT media_id, x // 2 AS bx, y // 2 AS by, CAST(sum(p) AS BIGINT) AS s
      |       FROM ${p}px GROUP BY 1, 2, 3),
      |${p}bits AS (SELECT a.media_id, a.by * ${Blocks - 1} + a.bx AS i,
      |           CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      |         FROM ${p}bs a JOIN ${p}bs b ON a.media_id = b.media_id
      |           AND b.by = a.by AND b.bx = a.bx + 1
      |         WHERE a.bx < ${Blocks - 1}),
      |${p}fp AS (SELECT media_id, CAST(sum(bit * (1::BIGINT << i)) AS BIGINT) AS fp
      |       FROM ${p}bits GROUP BY media_id)""".stripMargin

  /** CTE block deriving `${p}fp(media_id, fp)` — the 49-bit band-energy
    * fingerprint of every fixture clip, from the synthesis arithmetic.
    */
  private def audioFpCteSql(p: String): String = {
    val n = Multimodal.TotalSamples
    val fl = Multimodal.AudFrameLen
    val bl = Multimodal.AudBandLen
    s"""${p}aud AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 2 = 1),
      |${p}px AS (SELECT media_id, i // $fl AS f, (i % $fl) // $bl AS b,
      |         ${clipSql("media_id", "i")} AS p
      |       FROM ${p}aud, (SELECT unnest(generate_series(0, ${n - 1})) AS i)),
      |${p}e AS (SELECT media_id, f, b, CAST(sum(p) AS BIGINT) AS s
      |      FROM ${p}px GROUP BY 1, 2, 3),
      |${p}bits AS (SELECT a.media_id, a.f * ${AudB - 1} + a.b AS i,
      |           CASE WHEN (a.s - r.s) - (d.s - dr.s) > 0 THEN 1 ELSE 0 END AS bit
      |         FROM ${p}e a
      |         JOIN ${p}e r  ON r.media_id = a.media_id AND r.f = a.f AND r.b = a.b + 1
      |         JOIN ${p}e d  ON d.media_id = a.media_id AND d.f = a.f + 1 AND d.b = a.b
      |         JOIN ${p}e dr ON dr.media_id = a.media_id AND dr.f = a.f + 1 AND dr.b = a.b + 1
      |         WHERE a.f < ${AudF - 1} AND a.b < ${AudB - 1}),
      |${p}fp AS (SELECT media_id, CAST(sum(bit * (1::BIGINT << i)) AS BIGINT) AS fp
      |       FROM ${p}bits GROUP BY media_id)""".stripMargin
  }

  /** CTE block deriving `${p}pairs(a_id, b_id, hamming)` from
    * `${p}fp(media_id, fp)` — banded candidates + exact-Hamming verify,
    * the SQL mirror of [[bandedHammingPairs]].
    */
  private def bandPairsCteSql(p: String, bandDefs: Seq[(Int, Int)], tau: Int): String = {
    val bandRows = bandDefs.zipWithIndex
      .map { case ((shift, width), b) =>
        s"SELECT media_id, fp, $b AS band, (fp >> $shift) & ${(1L << width) - 1} AS bv FROM ${p}fp"
      }
      .mkString("\n      |    UNION ALL ")
    s"""${p}bands AS (
      |    $bandRows),
      |${p}cand AS (SELECT DISTINCT x.media_id AS a_id, x.fp AS a_fp,
      |           y.media_id AS b_id, y.fp AS b_fp
      |         FROM ${p}bands x JOIN ${p}bands y
      |           ON x.band = y.band AND x.bv = y.bv AND x.media_id < y.media_id),
      |${p}pairs AS (SELECT a_id, b_id, bit_count(xor(a_fp, b_fp)) AS hamming
      |         FROM ${p}cand
      |         WHERE bit_count(xor(a_fp, b_fp)) <= $tau)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // ----- real decode → exact block-sum features -------------------------
    // documents → REAL PNG/WAV payloads (ImageIO / AudioSystem encode) →
    // REAL decode (per-partition codec init) → 8 exact block SUMS over
    // the decoded 256-value grid. The oracle recomputes every decoded
    // value from the synthesis arithmetic: since both codecs are
    // lossless, a single wrong decoded sample anywhere shifts a block sum
    // and fails the hash compare. Integer-exact end to end (no division).
    QuerySpec("q46_multimodal_features") {
      val n = Multimodal.TotalSamples
      val block = n / Multimodal.FeatureDim
      val fCols = (0 until Multimodal.FeatureDim)
        .map(i => s"CAST(sum(CASE WHEN i // $block = $i THEN v END) AS BIGINT) AS f$i")
        .mkString(",\n        |  ")
      s"""WITH m AS (SELECT doc_id AS media_id,
        |             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type
        |           FROM documents),
        |s AS (SELECT media_id, media_type, i,
        |        CASE WHEN media_type = 'image'
        |          THEN ${lumaSql("media_id", s"(i % $Side)", s"(i // $Side)")}
        |          ELSE ${pcmSql("media_id", "i")} END AS v
        |      FROM m, (SELECT unnest(generate_series(0, ${n - 1})) AS i))
        |SELECT media_id, media_type, CAST($n AS BIGINT) AS n_samples,
        |  $fCols
        |FROM s GROUP BY media_id, media_type
        |ORDER BY media_id""".stripMargin
    } { (s, dir) =>
      val media = Multimodal.synthesizeEncodedMedia(Tables.load(s, dir, "documents"))
      val feats = Multimodal.decodeFeatures(media).toDF()
      feats.select(
          Seq(col("media_id"), col("media_type"),
            col("n_samples").cast(LongType).as("n_samples")) ++
            (0 until Multimodal.FeatureDim).map(i => col("features").getItem(i).as(s"f$i")): _*)
        .orderBy(col("media_id"))
    },

    // ----- image near-dup via perceptual hash + banded Hamming join -------
    // The missing modality leg of the dedup story: PNG images → REAL
    // ImageIO decode → 56-bit dHash over the 8×8 block grid → banded LSH
    // blocking (4×14-bit bands, candidates share ≥1 exact band — the q38
    // pattern, never all-pairs) → exact Hamming ≤ τ verify. The fixture
    // synthesis plants genuine near-dup groups (shared base image per
    // id-group, one perturbed row per variant — a few dHash bits apart)
    // among unrelated images. The oracle re-derives decoded luma, block
    // sums, hash, bands, and verify arithmetically — bit-equal because
    // PNG is lossless. Scale: hash+bands are a narrow scan-parallel pass
    // (one decode per image, session-cached — the band self-join reads
    // the materialized fingerprints, not the codec), pair work is band-
    // bucket-bounded like every dedup operator in the family.
    QuerySpec("q136_image_neardup")(
      s"""WITH ${imageFpCteSql("i")},
        |${bandPairsCteSql("i", ImgBandDefs, ImgHammingMax)}
        |SELECT a_id, b_id, hamming FROM ipairs
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // one decode per image ACROSS q136/q141 (session-cached fingerprint
      // frame, both band-join sides read it). Store-aware underneath:
      // with an index store configured the cache fills from the
      // maintained fingerprints — zero re-decode of ingested images.
      bandedHammingPairs(imageFpIndex(s, dir), ImgBandDefs, ImgHammingMax)
    },

    // ----- audio near-dup via robust fingerprint + banded Hamming join ----
    // The audio leg of the media dedup story, completing q136's image leg
    // with a genuinely AUDIO-shaped scheme: WAV clips → REAL javax.sound
    // decode → 8×8 time × band energy grid → 49 sign bits of the
    // band-energy second difference (Haitsma–Kalker), invariant under
    // per-frame uniform gain (spec-pinned — a volume-envelope change
    // never flips a bit) → banded LSH blocking + exact Hamming verify.
    // Fixture synthesis plants near-dup groups (md5-derived base clip per
    // group, one perturbed energy cell per variant ⇒ ≤4 flipped bits,
    // and every within-group pair keeps ≥1 clean band by construction).
    // The oracle re-derives decoded PCM, cells, fingerprint, bands, and
    // verify arithmetically — bit-equal because WAV PCM is lossless.
    QuerySpec("q139_audio_neardup")(
      s"""WITH ${audioFpCteSql("a")},
        |${bandPairsCteSql("a", AudBandDefs, AudHammingMax)}
        |SELECT a_id, b_id, hamming FROM apairs
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // one decode per clip ACROSS q139/q141 (session-cached fingerprint
      // frame, both band-join sides read it)
      bandedHammingPairs(clipFpIndex(s, dir), AudBandDefs, AudHammingMax)
    },

    // ----- cross-modal corpus dedup health report -------------------------
    // The corpus-level composition of the dedup story's three modality
    // legs: per modality — item count, items involved in ≥1 duplicate
    // relation, duplicate-relation (pair) count, and the duplicated-item
    // fraction in exact integer micro-units. Text = q35's exact
    // bag-fingerprint groups (pairs = Σ C(n,2) within groups); image /
    // audio = the q136 / q139 banded near-dup pairs. Every leg is the
    // already-blocked operator (group hash-agg, band-bucket joins); the
    // report itself adds only 1-row aggregates — the corpus-health
    // dashboard row a data curator reads before training. The oracle
    // composes the three legs' exact derivations through the shared CTE
    // builders.
    QuerySpec("q141_media_dedup_profile")(
      s"""WITH ${imageFpCteSql("i")},
        |${bandPairsCteSql("i", ImgBandDefs, ImgHammingMax)},
        |${audioFpCteSql("a")},
        |${bandPairsCteSql("a", AudBandDefs, AudHammingMax)},
        |tg AS (SELECT md5(array_to_string(list_sort(list_distinct(
        |         regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+'))), ' ')) AS fp_bag,
        |         count(*) AS n
        |       FROM documents GROUP BY 1)
        |SELECT modality, n_items, n_dup_items, n_pairs,
        |  n_dup_items * 1000000 // n_items AS dup_items_micro
        |FROM (
        |  SELECT 'audio' AS modality,
        |    (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS n_items,
        |    (SELECT count(*) FROM (SELECT a_id AS id FROM apairs UNION SELECT b_id FROM apairs)) AS n_dup_items,
        |    (SELECT count(*) FROM apairs) AS n_pairs
        |  UNION ALL SELECT 'image',
        |    (SELECT count(*) FROM documents WHERE doc_id % 2 = 0),
        |    (SELECT count(*) FROM (SELECT a_id AS id FROM ipairs UNION SELECT b_id FROM ipairs)),
        |    (SELECT count(*) FROM ipairs)
        |  UNION ALL SELECT 'text',
        |    (SELECT CAST(sum(n) AS BIGINT) FROM tg),
        |    (SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) FROM tg),
        |    (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) FROM tg))
        |ORDER BY modality""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      def mediaLeg(modality: String, pairs: org.apache.spark.sql.DataFrame,
          parity: Int): org.apache.spark.sql.DataFrame = {
        val nItems = docs.filter(col("doc_id") % 2 === parity)
          .agg(count(lit(1)).as("n_items"))
        val nDup = pairs.select(col("a_id").as("id"))
          .union(pairs.select(col("b_id").as("id"))).distinct()
          .agg(count(lit(1)).as("n_dup_items"))
        val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
        nItems.crossJoin(nDup).crossJoin(nPairs)
          .select(lit(modality).as("modality"), col("n_items"),
            col("n_dup_items"), col("n_pairs"))
      }
      val ipairs = graft.Materialize.ephemeral(bandedHammingPairs(
        imageFpIndex(s, dir), ImgBandDefs, ImgHammingMax))
      val apairs = graft.Materialize.ephemeral(bandedHammingPairs(
        clipFpIndex(s, dir), AudBandDefs, AudHammingMax))
      val textLeg = docs
        .select(md5(concat_ws(" ",
            array_sort(array_distinct(graft.functions.TextFunctions.tokens(col("text")))))
          .cast(org.apache.spark.sql.types.BinaryType)).as("fp_bag"))
        .groupBy(col("fp_bag")).agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n")).cast(LongType).as("n_items"),
          coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
            .cast(LongType).as("n_dup_items"),
          coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))
            .cast(LongType).as("n_pairs"))
        .select(lit("text").as("modality"), col("n_items"),
          col("n_dup_items"), col("n_pairs"))
      mediaLeg("audio", apairs, 1)
        .union(mediaLeg("image", ipairs, 0))
        .union(textLeg)
        .withColumn("dup_items_micro",
          expr("(n_dup_items * 1000000L) div n_items").cast(LongType))
        .orderBy(col("modality"))
    },

    // ----- frame sampling, oracle-checked on the slicing arithmetic -------
    // [[Multimodal.sampleFrames]] run as a query: n evenly spaced payload
    // slices per media row (the video keyframe-sample shape) over the
    // OPAQUE byte-plumbing media frame — deliberately codec-agnostic
    // (container streams with no registered decoder). The oracle
    // recomputes the BYTE arithmetic — frame count min(n, len), step
    // max(len/n, 1), per-frame length min(f·step+step, len) − f·step —
    // over octet_length of the UTF-8 payload (integer-exact cross-engine;
    // the BYTES themselves ride the typed spec in MultimodalSpec, since
    // DuckDB's md5 is VARCHAR-only and the zh fixture rows are
    // multi-byte). Differential on exactly the part byte slicing can get
    // wrong: boundary/short-payload arithmetic.
    QuerySpec("q111_frame_sample")(
      s"""WITH m AS (SELECT doc_id AS media_id,
        |             octet_length(encode(text)) AS len
        |           FROM documents),
        |f AS (SELECT media_id, len, greatest(len // ${MultimodalOps.Frames}, 1) AS step,
        |        unnest(generate_series(0, least(${MultimodalOps.Frames}, len) - 1)) AS frame_no
        |      FROM m)
        |SELECT media_id, frame_no,
        |  CAST(least(frame_no * step + step, len) - frame_no * step AS BIGINT) AS frame_len
        |FROM f ORDER BY media_id, frame_no""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Multimodal
        .synthesizeFromDocuments(Tables.load(s, dir, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.sampleFrames(media, MultimodalOps.Frames)
        .select(col("media_id"), col("frame_no").cast("bigint").as("frame_no"),
          length(col("frame_bytes")).cast("bigint").as("frame_len"))
        .orderBy(col("media_id"), col("frame_no"))
    }
  )
}
