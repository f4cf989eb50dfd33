package graft.operators

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE (byte-pair-encoding) vocabulary learner — the tokenizer-
  * training pillar of the pipeline (q135's Heaps-law report motivates the
  * vocabulary budget this learner spends).
  *
  * Classic BPE over a word-frequency table: words start as character
  * sequences; each round counts adjacent symbol pairs (weighted by word
  * frequency), merges the most frequent pair corpus-wide into one symbol
  * (ties broken count DESC, left ASC, right ASC — deterministic), and
  * repeats. The learned artifact is the ordered merge sequence.
  *
  * Scale design: the corpus is touched ONCE (the shared tf index supplies
  * word counts); every round then runs over the VOCABULARY-sized symbol
  * frame — one hash aggregate (pair counts, partial-agg friendly) plus a
  * 1-row driver read (the argmax pair, a bounded collect like the IVF
  * centroid reads) and a broadcast-joined per-row merge rewrite. Round
  * frames are eagerly materialized and the previous round freed, so R
  * rounds cost R vocab passes with flat memory — at 100 TB the vocab is
  * ~10⁷ rows while the corpus is 10¹¹, so the loop is noise next to the
  * one corpus tokenization.
  *
  * Cross-engine exactness (q138's oracle): the ENTIRE merge sequence is
  * re-derived in DuckDB by R generated CTE stages — pair counts from the
  * re-split symbol string, argmax with the same total order, and the merge
  * applied with `replace` on the space-delimited symbol string, whose
  * leftmost non-overlapping scan is exactly the greedy fold below
  * (spec-pinned). No float anywhere.
  */
object Bpe {

  /** q138 merge rounds. Production tuning changes only this constant —
    * each extra round is one more vocabulary-sized pass.
    */
  private[graft] val Rounds = 8

  /** `(term, freq)` → `(term, syms, freq)` with words split into
    * characters — round 0 of the merge loop (`term` rides along so the
    * encoded form can be joined back to the tf index, q140).
    * split(term, "") emits a trailing empty string under limit −1
    * semantics; the filter drops it.
    */
  private def charFrame(words: DataFrame): DataFrame =
    words.select(
      col("term"),
      filter(split(col("term"), ""), x => length(x) > 0).as("syms"),
      col("freq"))

  /** One round's pair counts: explode adjacent symbol pairs, weight by
    * word frequency. zip_with over two slices — a pure per-row expression;
    * the groupBy is the round's only shuffle, over (pair → count) rows
    * bounded by the round's pair vocabulary.
    */
  private def pairCounts(symFrame: DataFrame): DataFrame =
    symFrame
      .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"),
        col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).cast(LongType).as("cnt"))

  /** Leftmost-greedy non-overlapping merge of (ml, mr) → ml||mr as a fold
    * over the symbol array: append each symbol, merging with the
    * accumulator's tail when it completes the pair. A merged symbol is
    * never itself re-merged in the same pass (the fold continues AFTER
    * it), which is exactly `replace`'s scan semantics on the
    * space-delimited form — the equivalence the oracle and BpeSpec rely
    * on. The pair travels as broadcast columns (ml, mr), not interpolated
    * SQL literals, so corpus symbols never need escaping.
    */
  private val MergeFoldSql =
    "aggregate(syms, cast(array() as array<string>), (acc, x) -> " +
      "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = ml AND x = mr " +
      "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ml, mr))) " +
      "ELSE concat(acc, array(x)) END)"

  /** Learn `rounds` merges over a `(term, freq)` word-frequency frame and
    * keep the fully-merged symbol frame `(term, syms, freq)` — the
    * learned ENCODING of the vocabulary, which q140 joins back to the tf
    * index. Returns (merge table, final frame); the caller owns freeing
    * the frame (it is localCheckpoint-materialized).
    */
  def learnWithFrame(words: DataFrame, rounds: Int = Rounds): (Seq[(Long, String, String, Long)], DataFrame) = {
    val spark = words.sparkSession
    var cur = charFrame(words).localCheckpoint()
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = pairCounts(cur)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // bounded driver read: the round's argmax pair
      if (top.isEmpty) done = true
      else {
        val (l, rt, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r.toLong, l, rt, cnt))
        val pair = broadcast(spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(l, rt)),
          StructType(Seq(StructField("ml", StringType), StructField("mr", StringType)))))
        val next = cur.crossJoin(pair)
          .select(col("term"), expr(MergeFoldSql).as("syms"), col("freq"))
          .localCheckpoint()
        graft.Materialize.free(cur) // round N's blocks are dead once N+1 exists
        cur = next
        r += 1
      }
    }
    (out.toList, cur)
  }

  /** Apply an ALREADY-LEARNED merge sequence to a `(term, freq)`
    * word-frequency frame → `(term, syms, freq)` — the store-served
    * encoding path ([[graft.streaming.IndexMaintenance.applyBpeBatch]]'s
    * compression probe and `bpeEncodedFromStore`): R per-row merge
    * rewrites with NO argmax reads and no per-round materialization —
    * one lazy plan, vocabulary-sized.
    */
  private[graft] def applyMerges(words: DataFrame,
      merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val spark = words.sparkSession
    merges.foldLeft(charFrame(words)) { case (cur, (_, l, r, _)) =>
      val pair = broadcast(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(l, r)),
        StructType(Seq(StructField("ml", StringType), StructField("mr", StringType)))))
      cur.crossJoin(pair)
        .select(col("term"), expr(MergeFoldSql).as("syms"), col("freq"))
    }
  }

  /** `(Σ freq·|syms|, Σ freq·|chars(term)|)` of an encoded
    * `(term, syms, freq)` frame — the compression-ratio ledger unit
    * (symbols per character, frequency-weighted), summed in
    * DECIMAL(38,0) like every maintenance ledger.
    */
  private[graft] def compressionStats(enc: DataFrame): (BigInt, BigInt) = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val r = enc.agg(
      coalesce(sum((col("freq") * size(col("syms"))).cast(dec)),
        lit(java.math.BigDecimal.ZERO)),
      coalesce(sum((col("freq") * length(col("term"))).cast(dec)),
        lit(java.math.BigDecimal.ZERO))).head()
    (BigInt(r.getDecimal(0).toBigInteger), BigInt(r.getDecimal(1).toBigInteger))
  }

  /** Learn `rounds` merges over a `(term, freq)` word-frequency frame.
    * Returns the merge table (round, left, right, pair_count) — bounded:
    * one row per round, each from a 1-row collect.
    */
  def learn(words: DataFrame, rounds: Int = Rounds): Seq[(Long, String, String, Long)] = {
    val (merges, frame) = learnWithFrame(words, rounds)
    graft.Materialize.free(frame)
    merges
  }

  /** Byte-wise UTF-8 ordering — what Spark's UTF8String and DuckDB's
    * binary collation both compare with (Java String.compareTo would
    * diverge on supplementary characters).
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Reference leftmost-greedy non-overlapping application of one merge
    * to one symbol sequence — the single-node mirror of [[MergeFoldSql]].
    */
  private def referenceApply(ss: Vector[String], l: String, r: String): Vector[String] = {
    val acc = Vector.newBuilder[String]
    var last: String = null
    ss.foreach { x =>
      if (last == l && x == r) {
        // pop the pending left symbol, push the merge
        val v = acc.result()
        acc.clear()
        v.init.foreach(acc += _)
        acc += (l + r)
        last = l + r
      } else { acc += x; last = x }
    }
    acc.result()
  }

  /** Single-node encoding of one word under an already-learned merge
    * sequence — the differential BpeSpec pins [[learnWithFrame]]'s final
    * symbol frame (q140's vocabulary encoding) to it.
    */
  def referenceEncode(word: String, merges: Seq[(Long, String, String, Long)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) { case (ss, (_, l, r, _)) =>
      referenceApply(ss, l, r)
    }

  /** Single-node reference implementation (plain Scala collections, same
    * semantics) — the differential BpeSpec pins [[learn]] to it at two
    * scales.
    */
  def referenceLearn(words: Seq[(String, Long)], rounds: Int = Rounds): Seq[(Long, String, String, Long)] = {
    var syms: Seq[(Vector[String], Long)] =
      words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (ss, f) =>
        ss.iterator.zip(ss.iterator.drop(1)).foreach { p =>
          counts.update(p, counts.getOrElse(p, 0L) + f)
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rt), cnt) = counts.toSeq.sortWith {
          case (((al, ar), ca), ((bl, br), cb)) =>
            if (ca != cb) ca > cb
            else if (al != bl) utf8Lt(al, bl)
            else utf8Lt(ar, br)
        }.head
        out += ((r.toLong, l, rt, cnt))
        syms = syms.map { case (ss, f) => (referenceApply(ss, l, rt), f) }
        r += 1
      }
    }
    out.toList
  }

  /** Word-frequency frame off the shared tf index: freq = total token
    * instances of the word corpus-wide.
    */
  /** Resource-bounded-sweep knob: `GRAFT_BPE_TERM_MOD=S` (S > 1) learns
    * over the deterministic vocabulary slice hex60('bpeslice|'||term) %
    * S == 0 instead of the full word-frequency table. Applied identically
    * to the Spark leg and the generated oracle SQL (both read it at spec
    * construction), so the cross-engine compare stays exact ON THE SLICE.
    * Unset / 1 — the driver gate's configuration — is the full
    * vocabulary. Exists for giant-corpus oracle replays where DuckDB's
    * R-stage merge re-derivation outgrows its temp disk; the Spark side
    * never needs it. BpeSpec pins that a sliced learn still exercises
    * every merge-round regime (char+char, compound-symbol sides, reuse of
    * an earlier round's output).
    */
  private[graft] val TermSliceEnv = "GRAFT_BPE_TERM_MOD"
  private[graft] def termSliceMod: Int =
    sys.env.get(TermSliceEnv).map(_.trim.toInt).filter(_ > 1).getOrElse(1)

  private[graft] def wordCounts(s: SparkSession, dir: String,
      mod: Int = termSliceMod): DataFrame = {
    val wf = CorpusOps.tfIndex(s, dir)
      .groupBy(col("term")).agg(sum(col("tf")).cast(LongType).as("freq"))
    if (mod <= 1) wf
    else wf.filter(
      graft.functions.TextFunctions.hex60(concat(lit("bpeslice|"), col("term")))
        % mod === 0)
  }

  private val learnCache =
    new graft.SessionCache[(Seq[(Long, String, String, Long)], DataFrame)](
      "bpeLearned", upstream = Seq(CorpusOps.tfIndexCache))(v => graft.Materialize.free(v._2))

  /** Learned merges + encoded vocabulary for the corpus at `dir`, built
    * once per session — q138 (the merge sequence) and q140 (the encoding
    * report) share one R-round loop, like the q130/q131 retrieval legs
    * share their rank lists. The kept frame is the round-R checkpoint:
    * vocabulary-sized, freed only when its build loses a first-access
    * race (built-once/served-many — the [[graft.Materialize]] discipline
    * for session-cached frames).
    */
  private[graft] def learned(s: SparkSession, dir: String): (Seq[(Long, String, String, Long)], DataFrame) =
    learnCache.getOrElseUpdate(s, dir)(learnWithFrame(wordCounts(s, dir), Rounds))

  /** The full R-round merge sequence as DuckDB SQL: symbols ride a
    * space-delimited string per word (terms never contain spaces), each
    * round re-splits for pair counts, takes the same (cnt DESC, l, r)
    * argmax, and applies the merge with `replace` — leftmost
    * non-overlapping, the exact greedy-fold semantics.
    */
  /** Shared oracle prefix: the tf/word-frequency CTEs plus R merge
    * stages, each stage carrying `term` so the final symbol frame can be
    * joined back to the tf index (q140).
    */
  private def oracleStages(rounds: Int): String = {
    // tf and every s$r are referenced TWICE downstream (tf by wf and the
    // q140 report; s$r by p${r+1} and s${r+1}) — without MATERIALIZED an
    // inlining planner re-derives the whole chain per reference, 2^R
    // corpus re-tokenizations, which is exactly what exhausted DuckDB's
    // temp disk on the 20×-scale sweep (the centroidsSql seeding chain
    // documents the same trap).
    val slice =
      if (termSliceMod <= 1) ""
      else s"\nWHERE CAST('0x' || substr(md5('bpeslice|' || term), 1, 15) AS BIGINT) % $termSliceMod = 0"
    val head =
      s"""WITH tf AS MATERIALIZED (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t),
        |wf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS freq FROM tf$slice GROUP BY term),
        |s0 AS MATERIALIZED (SELECT term, ' ' || regexp_replace(term, '(.)', '\\1 ', 'g') AS sym, freq FROM wf)""".stripMargin
    val stages = (1 to rounds).map { r =>
      s""",
        |p$r AS (SELECT arr[i] AS l, arr[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
        |        FROM (SELECT freq, arr, unnest(generate_series(1, len(arr) - 1)) AS i
        |              FROM (SELECT string_split(trim(sym), ' ') AS arr, freq FROM s${r - 1}))
        |        GROUP BY 1, 2),
        |m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        |s$r AS MATERIALIZED (SELECT term, replace(sym, ' ' || m$r.l || ' ' || m$r.r || ' ',
        |                       ' ' || m$r.l || m$r.r || ' ') AS sym, freq
        |        FROM s${r - 1}, m$r)""".stripMargin
    }.mkString
    head + stages
  }

  private def oracle(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m$r")
      .mkString("\n", "\nUNION ALL ", "\nORDER BY round")
    oracleStages(rounds) + union
  }

  /** q140 oracle: the same R merge stages, then token counts per word
    * from the final symbol frame and the per-document report off the tf
    * index.
    */
  private def oracleEncode(rounds: Int): String =
    oracleStages(rounds) +
      s""",
        |wt AS (SELECT term, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_tok
        |       FROM s$rounds)
        |SELECT t.doc_id,
        |  CAST(sum(t.tf) AS BIGINT) AS words,
        |  CAST(sum(t.tf * length(t.term)) AS BIGINT) AS char_tokens,
        |  CAST(sum(t.tf * wt.n_tok) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(t.tf * wt.n_tok) * 1000000 // sum(t.tf * length(t.term)) AS BIGINT) AS compression_micro
        |FROM tf t JOIN wt ON t.term = wt.term
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ----- BPE vocabulary learner: the R-round merge sequence -------------
    // The registered query IS the learner: R merge rounds over the corpus
    // word counts, each round one vocab-sized hash-agg + 1-row argmax
    // collect + broadcast merge rewrite. The oracle re-derives the FULL
    // sequence (not just round 1) through R generated CTE stages — every
    // pair count, tie-break, and greedy merge application must agree for
    // the hash compare to pass.
    QuerySpec("q138_bpe_merges")(oracle(Rounds)) { (s, dir) =>
      import s.implicits._
      learned(s, dir)._1
        .toDF("round", "left_sym", "right_sym", "pair_count")
        .orderBy(col("round"))
    },

    // ----- BPE tokenizer application: per-document encoding report --------
    // The learner's consumer: ENCODE the corpus with the learned merges
    // and report per-document token budgets — words, raw character
    // tokens, post-merge BPE tokens, and the integer compression ratio
    // (micro-units, one exact division). The encoding itself never
    // touches the corpus: the merged symbol frame is VOCABULARY-sized
    // (each word folded once through the R merges, exactly the learner's
    // own final frame), and per-doc counts come from joining it back to
    // the shared tf index — at 100 TB that join is corpus-keyed but the
    // built side is the ~10⁷-row vocabulary, broadcastable or a plain
    // shuffle equi-join on term. Oracle replays the full R-stage merge
    // derivation and the same join arithmetic.
    QuerySpec("q140_bpe_encode")(oracleEncode(Rounds)) { (s, dir) =>
      val wordTok = learned(s, dir)._2
        .select(col("term"), size(col("syms")).cast(LongType).as("n_tok"))
      CorpusOps.tfIndex(s, dir)
        .join(broadcast(wordTok), "term")
        .groupBy(col("doc_id"))
        .agg(
          sum(col("tf")).cast(LongType).as("words"),
          sum(col("tf") * length(col("term"))).cast(LongType).as("char_tokens"),
          sum(col("tf") * col("n_tok")).cast(LongType).as("bpe_tokens"))
        .withColumn("compression_micro",
          expr("(bpe_tokens * 1000000L) div char_tokens").cast(LongType))
        .orderBy(col("doc_id"))
    }
  )
}
