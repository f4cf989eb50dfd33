package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous maintenance of the durable dedup/ANN index stores from a
  * document / embedding STREAM — the batch appends
  * ([[graft.operators.TextAnalysis.appendToShingleIndex]],
  * [[graft.operators.Similarity.appendToSrpIndex]]) wired to Structured
  * Streaming: every micro-batch lands its increment in the store at
  * O(batch) cost, so the nightly dedup/ANN job serves an index that was
  * maintained all day instead of rebuilding O(corpus). (The reference's
  * consumer plays this role for its fact table — Consumer_clickhouse.py's
  * poll loop appends each batch's rows; here the continuously-appended
  * artifact is the INDEX, the expensive thing to recompute.)
  *
  * Every maintained store runs ONE exactly-once protocol (the
  * foreachBatch + batch-id idempotence recipe), written once below and
  * instantiated per family — each public `maintain*` is one [[attach]]
  * of its batch function:
  *
  *  - Bootstrap precondition: a batch build (possibly over an empty
  *    frame) commits the store and its sidecar before a maintainer
  *    attaches, and a batch against an un-bootstrapped store refuses
  *    before writing anything ([[graft.IndexStore.requireCommitted]]:
  *    `IllegalArgumentException`, or `IllegalStateException` when no
  *    store root is configured). An append never creates the sidecar, so
  *    an append-created store would carry no corpus count, parameters or
  *    fit baseline, and serving would fail after the streamed documents
  *    were gone. Two stores have no bootstrap precondition: the shingle
  *    store is created by append, and SRP appends refuse a store with no
  *    sidecar (the increment must bucket under the BUILD's plane family).
  *  - Declared rules: a document store's geometry and additivity are
  *    data on its [[DocStore]], and every append, serve and purge guard
  *    derives from that one declaration (a geometry drift is an
  *    `IllegalStateException` naming "geometry drift"). Only BPE keeps a
  *    hand-written precondition: its committed model store.
  *  - Replay guard: foreachBatch is at-least-once — a restart replays the
  *    last uncommitted micro-batch — so a batch id ≤ the stream's marker
  *    in the store's sidecar is skipped ([[applyOnce]]); every batch
  *    function answers false for a skipped batch.
  *  - Marker in the same sidecar write: the applied batch id rides the
  *    SAME [[graft.IndexStore.append]] sidecar write that advances the
  *    corpus count, the store-rows record and any family ledger (content
  *    digest, drift sums), so a reader never sees one without the others
  *    and a replayed batch advances nothing.
  *  - Torn-append check: a crash after the parquet append commits but
  *    before the sidecar write is caught by [[graft.IndexStore]]'s one
  *    read check ([[graft.IndexStore.verifiedSnapshot]]) — the replayed
  *    append and a store-served read (the tf snapshot, a document store's
  *    serve prelude [[servedStore]], the IVF assignments) answer
  *    [[graft.IndexStore.TornStoreException]] instead of landing the
  *    batch twice or serving it, and any tracked load of the torn store
  *    rebuilds it. The per-batch probes of the shingle, chunk and
  *    media-fp stores read plainly; their append refuses the torn store.
  *
  * Single maintainer per store entry, per [[graft.IndexStore.append]]'s
  * single-writer contract. Every store append, purge, compaction and
  * model overwrite changes the store's identity, so every session cache
  * that reads the store — in the maintainer's session or any other
  * long-lived one — rebuilds from the grown store at its next get
  * ([[graft.SessionCache]]'s one freshness rule; every store read is
  * tagged, [[graft.IndexStore.read]], so no cached frame answers it).
  *
  * Recovery: a maintainer that hits a torn store fails its streaming
  * query with the torn-store instructions (the safe direction — it must
  * not append into an inconsistent store). Repair = a tracked batch load
  * (rebuilds from the corpus) or a manual build; the rebuild's fresh
  * sidecar no longer carries this stream's batch marker, so the restarted
  * maintainer re-applies its last uncommitted batch as a NEW append —
  * correct when the rebuild corpus did not include that batch's docs, and
  * otherwise the corpus-count tripwire flags the double-count on the next
  * load. Restart with a fresh checkpoint after a rebuild that already
  * covers the in-flight batch.
  */
object IndexMaintenance {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.IndexMaintenance")

  /** Sidecar key carrying the highest applied micro-batch id of `stream`. */
  private[graft] def markerKey(stream: String) = s"lastBatch.$stream"

  /** `(row count, content digest)` of a document frame in ONE pass — the
    * digest is `bit_xor(xxhash64(doc_id, text))`: order-independent (so
    * bootstrap-then-append and any batch arrival order agree) and
    * XOR-composable (cumulative digest advances by XOR with each batch's
    * digest, no store scan). Empty frame digests to 0.
    */
  private[graft] def countAndDigest(docs: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = docs.agg(count(lit(1)), coalesce(
      expr("bit_xor(xxhash64(doc_id, text))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The cumulative content digest to record after ingesting a batch with
    * digest `batchDigest` into the store whose sidecar is `meta`: XOR with
    * the stored digest when one exists, absent otherwise (a pre-digest or
    * post-purge store can't re-derive its history — the key stays absent,
    * and cross-store checks fall back to count-only, until a re-bootstrap
    * restores it).
    */
  private def advancedDigest(meta: Option[Map[String, String]],
      batchDigest: Long): Map[String, String] =
    meta.flatMap(_.get(graft.IndexStore.CorpusHashKey))
      .flatMap(_.toLongOption)
      .map(prev => Map(graft.IndexStore.CorpusHashKey -> (prev ^ batchDigest).toString))
      .getOrElse(Map.empty)

  /** The replay guard: run `body` with the sidecar entry recording
    * `batchId` as `stream`'s marker (the body lands it in its append's
    * sidecar write) when the batch is new to `store`; false = skipped.
    * Every skip is LOGGED: `batchId == marker` is the expected
    * at-least-once shape (same-checkpoint operation only ever replays the
    * last uncommitted batch) and logs at info; `batchId < marker` is only
    * reachable when the maintainer restarted from a FRESH or rolled-back
    * checkpoint against a store whose sidecar outlived it — its batches
    * restart at 0 and every one is silently dropped until the id catches
    * the marker — so it logs a loud warning naming the repair (a new
    * stream name, or clearing the marker, if this is genuinely a new
    * incarnation of the stream). The marker stays authoritative either
    * way: keying it on the run id instead would break the legitimate
    * restart replay (every restart has a fresh run id, and its first
    * batch is usually a replay that MUST be skipped).
    */
  private def applyOnce(s: SparkSession, corpusDir: String, store: String,
      stream: String, batchId: Long)(body: Map[String, String] => Unit): Boolean = {
    val marker = graft.IndexStore.storedMeta(s, corpusDir, store)
      .flatMap(_.get(markerKey(stream)).flatMap(_.toLongOption)).getOrElse(-1L)
    if (batchId > marker) { body(Map(markerKey(stream) -> batchId.toString)); true }
    else {
      if (batchId < marker)
        log.warn(s"IndexMaintenance: DROPPING batch $batchId of stream " +
          s"'$stream' for $corpusDir — the store's marker is already at " +
          s"$marker, which a same-checkpoint replay can never trail. The " +
          "maintainer looks restarted from a fresh/rolled-back checkpoint " +
          "against a store that outlived it; if this is a new incarnation " +
          "of the stream, use a new stream name or clear the marker.")
      else
        log.info(s"IndexMaintenance: skipping replayed batch $batchId of " +
          s"stream '$stream' for $corpusDir (marker $marker) — already applied.")
      false
    }
  }

  /** Attach `batchFn` to `frame` as the checkpointed foreachBatch query
    * `stream`; batches run on the attach-time session (its conf and cache
    * tier).
    */
  private def attach(frame: DataFrame, checkpoint: String, stream: String)(
      batchFn: (SparkSession, Long, DataFrame) => Boolean): StreamingQuery = {
    val owner = frame.sparkSession
    frame.writeStream
      .queryName(stream)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batchFn(owner, batchId, batch)
        ()
      }
      .start()
  }

  /** Apply one micro-batch of `(doc_id, text, …)` documents to the
    * shingle store.
    */
  private[graft] def applyDocsBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyOnce(s, corpusDir, graft.operators.TextAnalysis.ShingleStoreName,
      stream, batchId)(graft.operators.TextAnalysis.appendToShingleIndex(s, corpusDir, docs, _))

  /** Apply one micro-batch of `(vec_id, embedding)` rows to the SRP store. */
  private[graft] def applyEmbeddingsBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, embeddings: DataFrame): Boolean =
    applyOnce(s, corpusDir, graft.operators.Similarity.SrpStoreName,
      stream, batchId)(graft.operators.Similarity.appendToSrpIndex(s, corpusDir, embeddings, _))

  /** Attach a shingle-index maintainer to a `(doc_id, text, …)` stream. */
  def maintainShingleIndex(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "shingle_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyDocsBatch(_, corpusDir, stream, _, _))

  /** One micro-batch of the streaming decontamination pipeline
    * ([[maintainDecontaminatingIndex]]).
    *
    * Order of the two effects is the crash-safety argument:
    *  1. the batch's near-dup pairs (vs store∪batch, q74's new×all probe)
    *     land in `pairsDir/batch_id=N` with mode=overwrite — idempotent:
    *     a replay recomputes against the SAME store state (the append
    *     below hasn't happened yet on any path that replays) and
    *     overwrites byte-identical content;
    *  2. the batch appends to the durable shingle store behind the
    *     batch marker.
    * A crash between 1 and 2 replays the batch: step 1 rewrites the same
    * pairs, step 2 applies once. A crash after 2 replays into the marker
    * skip. Either way every pair is emitted exactly once and the store
    * grows exactly once.
    *
    * Append-only contract (same as q74): batch doc_ids exceed every
    * stored id, so "pair involves a batch doc" ≡ "higher end ≥ the
    * batch's min id" — the probe side is the batch alone.
    */
  private[graft] def decontaminateBatch(s: SparkSession, corpusDir: String,
      pairsDir: String, stream: String, batchId: Long, batch: DataFrame): Boolean = {
    import org.apache.spark.sql.functions.{col, min}
    val storeName = graft.operators.TextAnalysis.ShingleStoreName
    applyOnce(s, corpusDir, storeName, stream, batchId) { marker =>
      val storePath = graft.IndexStore.requireCommitted(s, corpusDir, storeName,
        "maintainDecontaminatingIndex")
      val minId = batch.agg(min(col("doc_id"))).head().get(0) // bounded: 1 row
      if (minId != null) {
        val stored = graft.IndexStore.read(s, storePath).select("doc_id", "ss")
        val batchDss = graft.operators.TextAnalysis.docShingleSets(batch)
          .select("doc_id", "ss")
        graft.operators.Dedup.incrementalPairsDss(s,
            stored.unionByName(batchDss),
            col("doc_id") >= minId.asInstanceOf[Long])
          .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
      }
      graft.operators.TextAnalysis.appendToShingleIndex(s, corpusDir, batch, marker)
    }
  }

  /** Streaming near-dup decontamination end-to-end: compose the shingle
    * store's incremental appends with q74's new-batch-vs-corpus near-dup
    * check as ONE continuous pipeline over a `(doc_id, text, …)` document
    * stream. Each micro-batch emits its verified near-dup pairs (the
    * documents to quarantine/drop before training) into
    * `pairsDir/batch_id=N` and then joins the corpus index — so the union
    * of all batch outputs over an append-only id stream equals the q74
    * batch answer on the same data (each pair lands in exactly the batch
    * carrying its higher id; spec-pinned batch parity). Exactly-once
    * across crashes via the marker + per-batch-overwrite argument on
    * [[decontaminateBatch]].
    */
  def maintainDecontaminatingIndex(docs: DataFrame, corpusDir: String,
      pairsDir: String, checkpoint: String,
      stream: String = "neardup_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(decontaminateBatch(_, corpusDir, pairsDir, stream, _, _))

  /** The durable chunk-fingerprint store behind [[maintainChunkDedup]]. */
  private[graft] val ChunkStoreName = "chunk_fps"

  /** Sidecar `layout` value asserting the chunk store holds exactly one
    * row per fingerprint. Pre-upgrade stores (no marker) held every chunk
    * occurrence; consumers must not assume uniqueness for those.
    */
  private[graft] val FpUniqueLayout = "fp-unique"

  /** A named chunking strategy for the chunk store. The NAME travels in
    * the store's metadata sidecar and the maintainer resolves its chunker
    * FROM the store — mixing strategies across bootstrap and maintenance
    * would compare fingerprints from different chunk grids (wrong dups,
    * no error), the same family-mixing hazard the SRP store solves by
    * recording its plane family.
    */
  private[graft] final case class Chunker(name: String,
      rows: DataFrame => DataFrame)

  /** Fixed-stride chunking (q96) — the default, and what metadata-less
    * pre-upgrade stores are assumed to hold.
    */
  private[graft] val StrideChunker =
    Chunker("stride", graft.operators.CorpusOps.chunkRows)

  /** Content-defined chunking (q133) — shift-robust fingerprints: edited
    * re-ingested documents re-share every chunk after the next content
    * boundary instead of invalidating their whole grid.
    */
  private[graft] val CdcChunker =
    Chunker("cdc", graft.operators.CorpusOps.cdcChunkRows)

  private val Chunkers: Map[String, Chunker] =
    Seq(StrideChunker, CdcChunker).map(c => c.name -> c).toMap

  /** The chunker a store was built with, from its sidecar `meta` (stride
    * for pre-upgrade sidecars without the key). Unknown names fail loudly
    * — guessing a chunker silently mis-dedups.
    */
  private def storedChunker(meta: Map[String, String], corpusDir: String): Chunker = {
    val name = meta.getOrElse("chunker", StrideChunker.name)
    Chunkers.getOrElse(name, throw new IllegalStateException(
      s"chunk store for $corpusDir was built with unknown chunker '$name' — " +
        s"this build knows ${Chunkers.keys.mkString(", ")}"))
  }

  /** Bootstrap the chunk store from an existing corpus frame (possibly
    * empty). The chunking strategy is recorded in the sidecar and every
    * later maintenance batch resolves it from there.
    */
  private[graft] def bootstrapChunkStore(s: SparkSession, corpusDir: String,
      docs: DataFrame, chunker: Chunker = StrideChunker): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // ONE row per fingerprint (its first occurrence in (doc_id, chunk_id)
    // order): the store answers "is this fp already indexed, and where
    // was it first seen" — keeping every occurrence would grow it with
    // the corpus's duplication factor for no additional answer.
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    // "layout" records that this store holds ONE row per fingerprint —
    // readers assert it instead of assuming (chunkDedupBatch keeps a
    // distinct() for stores whose sidecar predates the marker).
    graft.IndexStore.servedFrom(s, corpusDir, ChunkStoreName,
      params = Map("chunker" -> chunker.name, "layout" -> FpUniqueLayout))(
      chunker.rows(docs)
        .select("chunk_fp", "doc_id", "chunk_id")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn"))
    ()
  }

  /** One micro-batch of the streaming chunk-dedup pipeline
    * ([[maintainChunkDedup]]). The batch is chunked under the STORE's
    * recorded strategy ([[storedChunker]] — stride q96 or CDC q133),
    * never a caller-chosen one.
    *
    * Crash-safety order as in [[decontaminateBatch]]: (1) the batch's
    * duplicate chunks — batch occurrences whose fingerprint already
    * exists in the store, plus within-batch repeats beyond the first in
    * (doc_id, chunk_id) order — land in `dupDir/batch_id=N` with
    * mode=overwrite (idempotent: a replay recomputes against the same
    * store state); (2) only the batch's NEW fingerprints (first
    * occurrence each) append to the store behind the batch marker, so the
    * store stays one row per fingerprint. Over an append-only doc-id
    * stream the union of batch outputs is exactly "every chunk occurrence
    * except the globally first per fingerprint" — the removable multiset
    * of the q123 batch report (spec-pinned parity).
    *
    * Cost per batch: O(batch) chunking/window work plus ONE scan of the
    * fp-unique store for the membership probe joins — O(distinct corpus
    * fingerprints), not O(corpus occurrences). At production scale the
    * store would be bucketed by chunk_fp so the probe is a co-located
    * join; the scan itself is irreducible for an exact answer (the
    * approximate path is a bloom filter over stored fps, which this
    * operator deliberately does not take — a false positive would drop a
    * chunk that was never indexed).
    */
  private[graft] def chunkDedupBatch(s: SparkSession, corpusDir: String,
      dupDir: String, stream: String, batchId: Long, batch: DataFrame): Boolean = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    applyOnce(s, corpusDir, ChunkStoreName, stream, batchId) { marker =>
      val path = graft.IndexStore.requireCommitted(s, corpusDir, ChunkStoreName,
        "maintainChunkDedup")
      val meta = graft.IndexStore.readMeta(s, path).getOrElse(Map.empty)
      // the batch MUST chunk under the store's own strategy (sidecar-
      // recorded at bootstrap) — stride and CDC grids are incomparable
      val chunks = storedChunker(meta, corpusDir).rows(batch)
        .select("chunk_fp", "doc_id", "chunk_id")
      // fp-uniqueness is ASSERTED by the sidecar's layout marker, not
      // assumed: stores bootstrapped by this build dedupe (and appends
      // are rn==1 only), but explicitly-supported pre-marker stores hold
      // every chunk occurrence — those keep a cheap distinct so future
      // non-semi-join consumers of this frame stay correct too.
      val fpUnique = meta.get("layout").contains(FpUniqueLayout)
      val storedFpsRaw = graft.IndexStore.read(s, path).select("chunk_fp")
      val storedFps = if (fpUnique) storedFpsRaw else storedFpsRaw.distinct()
      val vsStore = chunks.join(storedFps, Seq("chunk_fp"), "left_semi")
      val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
      // localCheckpoint, not just reuse: TWO consumers read the ranked
      // new-fp frame, and the append below writes INTO the store path its
      // lineage reads — materializing severs that read-own-write cycle
      val newFps = chunks.join(storedFps, Seq("chunk_fp"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .localCheckpoint()
      val withinBatch = newFps.filter(col("rn") > 1).drop("rn")
      vsStore.unionByName(withinBatch)
        .write.mode("overwrite").parquet(s"$dupDir/batch_id=$batchId")
      // grow the store by the batch's first-occurrence rows only: the
      // store stays one row per fingerprint instead of accumulating
      // every occurrence ever streamed
      graft.IndexStore.append(s, corpusDir, ChunkStoreName,
        newFps.filter(col("rn") === 1).drop("rn"), extraMeta = marker)
      graft.Materialize.free(newFps) // per-batch scratch, not an index frame
    }
  }

  /** Streaming chunk-level dedup end-to-end: q123's report as a continuous
    * pipeline over a `(doc_id, text, …)` document stream — each
    * micro-batch emits the chunk occurrences a RAG index build should
    * SKIP (already embedded under the same fingerprint) and then grows
    * the durable fingerprint store at O(batch) cost. Exactly-once across
    * crashes via the marker + per-batch-overwrite argument on
    * [[chunkDedupBatch]].
    */
  def maintainChunkDedup(docs: DataFrame, corpusDir: String,
      dupDir: String, checkpoint: String,
      stream: String = "chunk_dedup"): StreamingQuery =
    attach(docs, checkpoint, stream)(chunkDedupBatch(_, corpusDir, dupDir, stream, _, _))

  // ------------------------------------------- additive document stores --

  /** The row shape of an additive store: `keys` name a row, `values` are
    * counts, and the store's answer is the per-key sum over every row
    * appended (bootstrap, batches, and a purge's negated rows).
    */
  private final case class Additive(keys: Seq[String], values: Seq[String]) {
    /** The served rows: values summed per key as `Long`, and a key whose
      * first value nets to ≤ 0 dropped — all its mass was purged, so it
      * vanishes exactly as in a fresh build over the surviving corpus.
      */
    def summed(store: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{col, sum}
      val sums = values.map(v => sum(col(v)).cast(org.apache.spark.sql.types.LongType).as(v))
      store.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
        .filter(col(values.head) > 0)
    }

    /** A purge's decrement: `rows` with every value negated. */
    def negated(rows: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.col
      rows.select(keys.map(col) ++
        values.map(v => (-col(v)).cast(org.apache.spark.sql.types.LongType).as(v)): _*)
    }
  }

  /** One store maintained from a `(doc_id, text, …)` stream by plain
    * appends — tf, anchor, LM bigrams, DSIR profiles, BPE words. The
    * declaration is the store's rules; bootstrap ([[bootstrapDocStore]]),
    * append ([[applyDocStore]]), serve ([[servedStore]]) and
    * [[purgeAll]]'s model leg derive every guard from it:
    *
    * @param user      the maintainer a refusal names
    * @param rows      a document frame's store rows (bootstrap and append)
    * @param params    the store's geometry: recorded in the sidecar at
    *                  bootstrap, and proven against it on every append,
    *                  serve and purge ([[requireGeometry]] — a drift is an
    *                  `IllegalStateException`). Empty = no geometry.
    * @param additive  the store's rows sum per key. Its serving read is
    *                  [[Additive.summed]] and a purge appends
    *                  [[Additive.negated]] rows; a purge that cannot be
    *                  exact marks it [[ModelStaleKey]], which serving
    *                  refuses and only a bootstrap clears. None = rows are
    *                  doc-keyed and a purge deletes them.
    * @param digest    the sidecar carries the corpus content digest
    *                  ([[graft.IndexStore.CorpusHashKey]]), stamped at
    *                  bootstrap and XOR-advanced per batch
    * @param check     a further precondition every append re-checks
    *                  (BPE: its committed model store)
    * @param incMeta   family ledger entries advanced in the marker's
    *                  sidecar write, from (session, corpusDir, the batch's
    *                  store rows, the current sidecar)
    */
  private final case class DocStore(name: String, user: String,
      rows: DataFrame => DataFrame,
      params: Map[String, String] = Map.empty,
      additive: Option[Additive] = None,
      digest: Boolean = true,
      check: (SparkSession, String) => Unit = (_, _) => (),
      incMeta: (SparkSession, String, DataFrame, Map[String, String]) => Map[String, String] =
        (_, _, _, _) => Map.empty)

  /** Refuse `st` at `path` unless its sidecar records `st.params`. A
    * store whose geometry differs — or cannot be proven: no sidecar —
    * holds rows hashed or bucketed under other constants, which an
    * append or a serve would silently mix with the current ones.
    */
  private def requireGeometry(st: DocStore, path: String,
      sidecar: Option[Map[String, String]]): Unit = {
    val meta = sidecar.getOrElse(Map.empty)
    val drift = st.params.collect {
      case (k, v) if !meta.get(k).contains(v) => s"$k: store=${meta.getOrElse(k, "?")} current=$v"
    }
    if (drift.nonEmpty) throw new IllegalStateException(
      s"${st.name} store at $path: geometry drift (${drift.mkString("; ")}) — it " +
        "was built under other constants; re-bootstrap it instead of mixing them")
  }

  /** Bootstrap `st` from an existing corpus frame (possibly empty).
    * corpusCount tracks DOCUMENT rows, not store rows: a doc can yield
    * zero rows (NULL text, shorter than an anchor) and still counts. The
    * digest stamp is sound whether servedFrom rebuilt (store = exactly
    * these docs) or served fresh (the count tripwire just proved the
    * store covers the corpus the digest was computed over). An additive
    * store's bootstrap covers the surviving corpus exactly, so it drops
    * [[ModelStaleKey]].
    */
  private def bootstrapDocStore(s: SparkSession, corpusDir: String,
      st: DocStore, docs: DataFrame): Unit = {
    val (n, dig) = if (st.digest) countAndDigest(docs) else (docs.count(), 0L)
    graft.IndexStore.servedFrom(s, corpusDir, st.name, st.params,
      corpusCount = n)(st.rows(docs))
    for {
      path <- graft.IndexStore.committedPath(s, corpusDir, st.name)
      meta <- graft.IndexStore.readMeta(s, path)
      digested = if (st.digest) meta + (graft.IndexStore.CorpusHashKey -> dig.toString) else meta
      stamped = if (st.additive.isDefined) digested - ModelStaleKey else digested
      if stamped != meta
    } graft.IndexStore.writeMeta(s, path, stamped)
  }

  /** Apply one micro-batch of documents to `st`. No store probe: rows are
    * doc-keyed or additive and the stream's doc ids are append-only, so
    * per-batch cost is exactly the batch's own row work.
    */
  private def applyDocStore(s: SparkSession, corpusDir: String, st: DocStore,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyOnce(s, corpusDir, st.name, stream, batchId) { marker =>
      val path = graft.IndexStore.requireCommitted(s, corpusDir, st.name, st.user)
      val meta = graft.IndexStore.readMeta(s, path)
      requireGeometry(st, path, meta)
      st.check(s, corpusDir)
      val (n, dig) = if (st.digest) countAndDigest(docs) else (docs.count(), 0L)
      val rows = st.rows(docs)
      graft.IndexStore.append(s, corpusDir, st.name, rows, incrementCount = n,
        extraMeta = marker ++ st.incMeta(s, corpusDir, rows, meta.getOrElse(Map.empty)) ++
          (if (st.digest) advancedDigest(meta, dig) else Map.empty))
    }

  /** The serve prelude of a store-served read of `st`, for `user`: one
    * verified snapshot of the committed store ([[graft.IndexStore
    * .verifiedSnapshot]] — a torn store answers
    * [[graft.IndexStore.TornStoreException]]), its geometry proven and,
    * for an additive store, its purge-staleness checked against the
    * sidecar that snapshot verified. Returns the served rows — the
    * snapshot's, or for an additive store their [[Additive.summed]] —
    * and that sidecar.
    */
  private def servedStore(s: SparkSession, corpusDir: String, st: DocStore,
      user: String): (DataFrame, Map[String, String]) = {
    val path = graft.IndexStore.requireCommitted(s, corpusDir, st.name, user)
    val (store, id) = graft.IndexStore.verifiedSnapshot(s, path)
    requireGeometry(st, path, id.sidecar)
    val meta = id.sidecar.getOrElse(Map.empty)
    if (st.additive.isDefined && meta.contains(ModelStaleKey))
      throw new IllegalStateException(
        s"${st.name} for $corpusDir is stale from a document purge whose ids' " +
          "content was unavailable — the additive counts still carry the " +
          "purged docs' mass. Re-bootstrap it over the surviving corpus before serving")
    (st.additive.fold(store)(_.summed(store)), meta)
  }

  /** The durable `(doc_id, term, tf)` store behind [[maintainTfIndex]] —
    * the retrieval-side counterpart of the shingle store: the BM25 leg
    * (q130) and the tf-derived text profiles serve off it instead of
    * re-tokenizing the corpus. Its corpus count is BM25's N, so
    * [[bm25FromStore]] serves the same N as the batch operator's count(*)
    * over documents.
    */
  private[graft] val TfStoreName = "tf_index"

  private val TfStore = DocStore(TfStoreName, "maintainTfIndex",
    graft.operators.CorpusOps.tfRows)

  /** Bootstrap the tf store from an existing corpus frame (possibly empty). */
  private[graft] def bootstrapTfStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): Unit = bootstrapDocStore(s, corpusDir, TfStore, docs)

  /** Apply one micro-batch of `(doc_id, text, …)` documents to the tf store. */
  private[graft] def applyTfBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyDocStore(s, corpusDir, TfStore, stream, batchId, docs)

  /** Attach a tf-index maintainer to a `(doc_id, text, …)` stream: each
    * micro-batch's `(doc_id, term, tf)` rows land in the durable store at
    * O(batch) cost, so BM25 retrieval ([[bm25FromStore]]) always serves
    * the corpus as of the last committed batch instead of re-tokenizing
    * everything ingested today.
    */
  def maintainTfIndex(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "tf_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyTfBatch(_, corpusDir, stream, _, _))

  /** BM25 top-k served off the durable tf store — the identical scoring
    * body as batch q130 ([[graft.operators.CorpusOps.bm25TopKOverTf]]):
    * same rational-cleared integer arithmetic, same pruning and salted
    * top-k, with tf provenance swapped to the maintained store. The doc
    * count N is the sidecar's corpus count (bootstrap-recorded, advanced
    * by every append) — NOT distinct store doc_ids, which would
    * undercount a NULL-text document (zero tf rows, but the batch
    * operator's count(*) still counts it, and idf/dl·N shift with N).
    * Spec-pinned equal to the batch answer over the same corpus.
    */
  def bm25FromStore(s: SparkSession, corpusDir: String,
      nq: Long, qt: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = tfSnapshot(s, corpusDir)
    def literal(v: Long, name: String) = s.range(1).select(lit(v).as(name))
    graft.operators.CorpusOps.bm25TopKOverTf(snap.tf, literal(snap.n, "n"), nq, qt, k,
      statsOpt = Some((snap.df, snap.postings.select(col("doc_id"), col("dl")).distinct(),
        literal(snap.tot, "t"))))
  }

  /** The committed tf store's serving set, as of one snapshot: all that
    * depends only on the commit. Persisted: the verified postings
    * `(doc_id, term, tf, df, dl)` ([[graft.IndexStore.verifiedSnapshot]] —
    * a concurrent maintainer's torn append can never serve), each row
    * carrying its term's document frequency `df` and its doc's length
    * `dl`, the rows hash-partitioned by `doc_id`, so a per-doc sum over
    * them needs no shuffle; and `df` per term as its own frame, for the
    * stages that join it ([[graft.operators.CorpusOps.rm3ExpandBag]],
    * [[graft.operators.CorpusOps.maxSimRerank]], [[bm25FromStore]]).
    * Held as values: the tf total `tot` and the sidecar corpus count `n`
    * (BM25's N: bootstrap-recorded, advanced by every append,
    * decremented by every purge).
    */
  private[graft] final case class TfSnapshot(postings: DataFrame, df: DataFrame, tot: Long, n: Long) {
    /** The `(doc_id, term, tf)` rows: a projection of the persisted postings. */
    def tf: DataFrame = postings.select("doc_id", "term", "tf")
  }

  private val tfSnapshotCache = new graft.SessionCache[TfSnapshot]("tfSnapshot",
    stores = Set(TfStoreName))(snap =>
    Seq(snap.postings, snap.df).foreach(graft.SessionCache.unpersist))

  /** The tf store's serving set, built once per committed snapshot — the
    * shared provenance of every store-served lexical leg
    * ([[bm25FromStore]], [[maxSimFromStore]], [[searchFromStore]]). Each
    * call reads the sidecar and lists the store (the session cache's
    * identity check); while the identity is unchanged, the call reuses
    * the snapshot and runs no Spark job. Any commit changes the identity
    * — this session's maintainer or another session's, a purge's or a
    * compaction's swap, a sidecar-only append of NULL-text documents that
    * moves only N — and the next call builds a new snapshot through
    * [[graft.IndexStore.verifiedSnapshot]], which still refuses a torn
    * store, then releases the old one.
    */
  private[graft] def tfSnapshot(s: SparkSession, corpusDir: String): TfSnapshot = {
    val path = graft.IndexStore.requireCommitted(s, corpusDir, TfStoreName,
      "tf-store serving")
    tfSnapshotCache.getOrElseUpdate(s, corpusDir)(buildTfSnapshot(s, path))
  }

  /** One [[TfSnapshot]], materialized. Its cache entry records the
    * identity the verification read ([[graft.IndexStore.tracked]]), so
    * entry and frames describe one snapshot. A build that throws (a torn
    * store, a cancelled job) unpersists what it persisted.
    */
  private def buildTfSnapshot(s: SparkSession, path: String): TfSnapshot = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import org.apache.spark.sql.types.LongType
    val (store, identity) = graft.IndexStore.verifiedSnapshot(s, path)
    val n = identity.sidecar
      .flatMap(_.get(graft.IndexStore.CorpusCountKey)).flatMap(_.toLongOption)
      .getOrElse(throw new IllegalStateException(
        s"tf store at $path has no corpus count in its sidecar — " +
          "re-bootstrap with bootstrapTfStore before serving retrieval"))
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // df per term, then dl per doc: the last window's exchange leaves the
    // rows hash-partitioned by doc_id
    val postings = store.select("doc_id", "term", "tf")
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))).cast(LongType))
      .persist(ser)
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df")).persist(ser)
    try {
      val t = postings.agg(sum(col("tf")).cast(LongType)).head() // also fills the postings' blocks
      df.count()
      TfSnapshot(postings, df, if (t.isNullAt(0)) 0L else t.getLong(0), n)
    } catch {
      case e: Throwable =>
        Seq(postings, df).foreach(graft.SessionCache.unpersist)
        throw e
    }
  }

  /** q160's late-interaction MaxSim served off the durable tf store —
    * the identical operator body as batch
    * ([[graft.operators.CorpusOps.maxSimTopK]]) with the tf provenance
    * swapped to the maintained store: token budgets, df ranks,
    * shared-token candidates and the deterministic token vectors all
    * derive from the stored rows, so the rerank rung serves the corpus
    * as of the last committed batch (appends AND takedown purges —
    * a purged doc contributes no budget, no candidates, no tokens).
    * Spec-pinned equal to batch across a crash replay.
    */
  def maxSimFromStore(s: SparkSession, corpusDir: String,
      nq: Long = graft.operators.CorpusOps.Bm25NumQueries,
      k: Int = graft.operators.CorpusOps.Bm25K): DataFrame = {
    graft.operators.CorpusOps.maxSimTopK(s, corpusDir, nq, k,
      tfOpt = Some(tfSnapshot(s, corpusDir).tf))
  }

  /** Interactive lexical retrieval off the maintained tf store — the
    * `/search` gateway's engine (the text-side counterpart of the
    * `/ann` route's ivfAnnFromStore). A request is EITHER a raw token
    * bag (`qTerms`, normalized through the same [[graft.functions
    * .TextFunctions.tokens]] rule the index side tokenizes with, scored
    * under the synthetic q_id = −1 — outside every corpus id domain, so
    * the self-pair guard can never suppress a real hit) OR a
    * more-like-this doc id (`docId` — its rarest-`qt` stored terms form
    * the bag exactly as batch q130 prunes its queries; a PURGED doc has
    * no stored rows, so its bag is empty and the request serves 0 rows).
    *
    * Knobs compose the maintained retrieval ladder: `expand` runs q163's
    * RM3 loop (stage-1 feedback docs from the store-served BM25 leg,
    * tf·idf_micro expansion votes, integer 2/1 interpolation);
    * `rerank = Some("maxsim")` reranks the BM25 top-[[graft.operators
    * .CorpusOps.MaxSimCand]] candidates with q160's budgeted-token
    * MaxSim off the same stored tf evidence.
    *
    * Everything reads the store's [[tfSnapshot]], built once per
    * committed snapshot; a request does only the work of its own query.
    * Its bag is a list of terms with multipliers `mw`, held on the
    * driver. A `qTerms` bag is the distinct normalized tokens with
    * `mw = 1`, folded from a one-row local frame by the optimizer (no
    * job); a term the stored corpus has never seen has no postings and
    * so matches nothing. A `docId` bag is the doc's rarest `qt` stored
    * terms by (df ASC, term ASC): one bounded collect of its postings,
    * which carry `df`. An empty bag scores nothing. Every BM25 stage
    * then scores its bag in one bounded plan ([[graft.operators
    * .CorpusOps.bm25OverBag]]: `df` and `dl` from the postings, N and
    * tot as literals, no join, no broadcast, no shuffle of the bag) and
    * returns its top k as a local frame. A warm plain `qTerms` request
    * runs 1 Spark job here, described `<caller>: score`
    * ([[graft.JobStep]]); a plain `docId` request runs 2, `<caller>: bag`
    * and `<caller>: score`. The `expand` stage's jobs are described
    * `<caller>: expand`, and the `rerank` stage's `<caller>: rerank`; the
    * rerank returns its top k as a local frame too. Those stages join the
    * bag with the snapshot's `df`, which drops a term the stored corpus
    * has never seen, so an unknown token cannot vote in RM3 or take a
    * MaxSim token vector. Returns `(q_id, rk, doc_id, score)`.
    */
  def searchFromStore(s: SparkSession, corpusDir: String,
      qTerms: Seq[String] = Nil, docId: Option[Long] = None,
      k: Int = graft.operators.CorpusOps.Bm25K,
      qt: Int = graft.operators.CorpusOps.Bm25QTerms,
      expand: Boolean = false,
      rerank: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(qTerms.nonEmpty != docId.isDefined,
      "provide exactly one of qTerms / docId")
    require(rerank.forall(_ == "maxsim"), s"unknown rerank '${rerank.get}' (maxsim)")
    val ops = graft.operators.CorpusOps
    val snap = tfSnapshot(s, corpusDir)
    val qId = docId.getOrElse(-1L)
    import s.implicits._
    val bag = graft.JobStep(s, "bag")(docId match {
      case Some(id) =>
        snap.postings.filter(col("doc_id") === id)
          .orderBy(col("df").asc, col("term").asc).limit(qt)
          .select("term").as[String].collect().toSeq
      case None =>
        qTerms.toDF("raw").select(graft.functions.TextFunctions.tokens(col("raw")))
          .as[Seq[String]].collect().toSeq.flatten.filter(_.nonEmpty).distinct
    }).map(ops.BagTerm(_, 1L))
    def frame(b: Seq[ops.BagTerm]) = b.map(t => (qId, t.term)).toDF("q_id", "term")
    def score(b: Seq[ops.BagTerm], depth: Int, name: String) = graft.JobStep(s, "score")(
      ops.bm25OverBag(snap.postings, snap.n, snap.tot, qId, b, depth, name))
    val scoredBag =
      if (!expand || bag.isEmpty) bag
      else {
        val fb = score(bag, ops.PrfDocs, "fb_micro").select(col("q_id"), col("doc_id"))
        graft.JobStep(s, "expand")(
          ops.rm3ExpandBag(snap.tf, lit(snap.n), snap.df, frame(bag), fb, ops.PrfTerms)
            .select(col("term"), col("mw")).collect()
            .map(r => ops.BagTerm(r.getString(0), r.getLong(1))).toSeq)
      }
    if (rerank.contains("maxsim")) {
      val cand = score(scoredBag, ops.MaxSimCand, "score").select(col("q_id"), col("doc_id"))
      val reranked = ops.maxSimRerank(snap.tf, snap.df, frame(scoredBag), cand, k)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(graft.JobStep(s, "rerank")(reranked.collect()).toSeq.asJava, reranked.schema)
    } else
      score(scoredBag, k, "score").select(col("q_id"), col("rk"), col("doc_id"), col("score"))
  }

  // ------------------------------------------- substring anchor store --

  /** The durable `(doc_id, i, s)` positional K-gram anchor store behind
    * [[maintainAnchorIndex]] — the substring-dedup (q153) counterpart of
    * the tf store: the O(corpus chars) explode+md5 anchor stream is the
    * query's dominant cost, and every other dedup signal
    * (shingle/chunk/tf/media/SRP/IVF) already has a durable maintained
    * tier; this closes the batch-only gap.
    */
  private[graft] val AnchorStoreName = "anchor_index"

  /** The anchor width is sidecar geometry: anchors hashed under a
    * different K are incomparable grams, so a constant change across
    * builds must trip the store instead of silently mixing widths.
    */
  private val AnchorStore = DocStore(AnchorStoreName, "maintainAnchorIndex",
    graft.operators.Fuzzy.anchorRows(_),
    Map("k" -> graft.operators.Fuzzy.SubstringK.toString, "hash" -> "md5-60"))

  /** Bootstrap the anchor store from an existing corpus frame (possibly
    * empty); the serve-side staleness check compares its corpus count
    * against the corpus it is asked to profile.
    */
  private[graft] def bootstrapAnchorStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): Unit = bootstrapDocStore(s, corpusDir, AnchorStore, docs)

  /** Apply one micro-batch of `(doc_id, text, …)` documents to the anchor
    * store — O(batch chars) explode+hash work.
    */
  private[graft] def applyAnchorBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyDocStore(s, corpusDir, AnchorStore, stream, batchId, docs)

  /** The anchor store's serve prelude ([[servedStore]]) for
    * [[graft.operators.Fuzzy.substringDedupFromStore]]: its verified
    * `(doc_id, i, s)` rows and sidecar.
    */
  private[graft] def servedAnchors(s: SparkSession,
      corpusDir: String): (DataFrame, Map[String, String]) =
    servedStore(s, corpusDir, AnchorStore, "substringDedupFromStore")

  /** Attach an anchor-index maintainer to a `(doc_id, text, …)` stream:
    * each micro-batch's positional K-gram anchors land in the durable
    * store at O(batch chars) cost, so substring-level dedup
    * ([[graft.operators.Fuzzy.substringDedupFromStore]]) profiles the
    * corpus as of the last committed batch without re-hashing every char
    * position ingested today.
    */
  def maintainAnchorIndex(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "anchor_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyAnchorBatch(_, corpusDir, stream, _, _))

  // ------------------------------------------------ DSIR profile store --

  private[graft] val DsirStoreName = "dsir_profiles"

  /** One row per touched hash bucket with raw/target token counts — an
    * increment is ≤ [[graft.operators.CorpusOps.DsirBuckets]] rows no
    * matter the batch size, and profiles are additive (serving sums per
    * bucket). The DsirBuckets/DsirTargetLang constants are its geometry:
    * a change across versions would mix bucket spaces / target languages
    * in one store.
    */
  private val DsirStore = DocStore(DsirStoreName, "maintainDsirProfiles",
    graft.operators.CorpusOps.dsirProfileRows(_),
    Map("buckets" -> graft.operators.CorpusOps.DsirBuckets.toString,
      "targetLang" -> graft.operators.CorpusOps.DsirTargetLang),
    additive = Some(Additive(Seq("b"), Seq("c_raw", "c_tgt"))), digest = false)

  /** Bootstrap the durable DSIR profile store from an existing
    * `(doc_id, text, lang, …)` corpus (possibly empty).
    */
  private[graft] def bootstrapDsirStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): Unit = bootstrapDocStore(s, corpusDir, DsirStore, docs)

  /** Apply one micro-batch to the DSIR profile store. */
  private[graft] def applyDsirBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyDocStore(s, corpusDir, DsirStore, stream, batchId, docs)

  /** Attach a DSIR profile maintainer to a `(doc_id, text, lang, …)`
    * stream: the importance MODEL stays current as the corpus grows —
    * each micro-batch lands one O(buckets)-sized profile increment, so
    * selection ([[dsirSelectFromStore]]) always scores against the corpus
    * as of the last committed batch without re-tokenizing history.
    */
  def maintainDsirProfiles(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "dsir_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyDsirBatch(_, corpusDir, stream, _, _))

  /** The smoothed ratio-weight table off the grown profile store — the
    * identical integer arithmetic as batch q144's weights: the store's
    * increments sum per bucket (bucket-sized aggregate), then one
    * DECIMAL(38,0) division per bucket. Spec-pinned equal to the batch
    * weight table over the same corpus.
    */
  def dsirWeightsFromStore(s: SparkSession, corpusDir: String): DataFrame =
    graft.operators.CorpusOps.dsirWeights(
      servedStore(s, corpusDir, DsirStore, "dsirWeightsFromStore")._1)

  /** q144's length-normalized importance shortlist of `docs`, scored
    * against the STORED profiles — the serving path of continuous data
    * selection: score any candidate frame (e.g. today's crawl) against
    * the model the maintainer keeps current.
    */
  def dsirSelectFromStore(s: SparkSession, corpusDir: String,
      docs: DataFrame, k: Int = graft.operators.CorpusOps.DsirK): DataFrame =
    graft.operators.CorpusOps.dsirShortlist(
      graft.operators.CorpusOps.dsirDb(graft.operators.CorpusOps.tfRows(docs)),
      dsirWeightsFromStore(s, corpusDir), k)

  // ------------------------------------------------- bigram LM store ----

  private[graft] val LmStoreName = "lm_bigrams"

  /** `(a, b, c)` bigram counts, ADDITIVE like the DSIR profiles (serving
    * sums per bigram type), so maintenance needs no store probe. Unigram
    * totals for the smoothing denominators ride the EXISTING tf store —
    * attach BOTH maintainers to the same stream.
    */
  private def lmRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.CorpusOps.bigramBags(docs)
      .groupBy(col("a"), col("b"))
      .agg(sum(col("c")).cast(org.apache.spark.sql.types.LongType).as("c"))
  }

  private val LmStore = DocStore(LmStoreName, "maintainLmBigrams", lmRows(_),
    additive = Some(Additive(Seq("a", "b"), Seq("c"))))

  /** Bootstrap the durable bigram-count store from an existing corpus. */
  private[graft] def bootstrapLmStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): Unit = bootstrapDocStore(s, corpusDir, LmStore, docs)

  /** Apply one micro-batch of documents to the bigram store — O(batch)
    * rows per append (the batch's bigram TYPES).
    */
  private[graft] def applyLmBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyDocStore(s, corpusDir, LmStore, stream, batchId, docs)

  /** Attach a bigram-count maintainer to a `(doc_id, text, …)` stream —
    * the quality-filter LM (q146) stays current as the corpus grows,
    * like the DSIR importance model.
    */
  def maintainLmBigrams(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "lm_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyLmBatch(_, corpusDir, stream, _, _))

  /** The smoothed transition-probability model off the grown stores —
    * bigram counts summed from the LM store, unigram totals from the tf
    * store (both exactly-once maintained). Spec-pinned equal to the
    * batch q146 model over the same corpus.
    */
  def lmModelFromStore(s: SparkSession, corpusDir: String): DataFrame = {
    val (bigrams, lmMeta) = servedStore(s, corpusDir, LmStore, "lmModelFromStore")
    val (tf, tfMeta) = servedStore(s, corpusDir, TfStore, "lmModelFromStore")
    // The model mixes two stores — bigram numerators from lm_bigrams,
    // unigram smoothing denominators from tf_index — which is only sound
    // when both cover the SAME corpus snapshot. If only one maintainer is
    // attached, or one lags a batch, the smoothed probabilities would be
    // computed from mismatched snapshots with no symptom; compare the
    // verified sidecars' corpus counts and refuse to serve on disagreement.
    val lmN = lmMeta.get(graft.IndexStore.CorpusCountKey)
    val tfN = tfMeta.get(graft.IndexStore.CorpusCountKey)
    if (lmN.isEmpty || tfN.isEmpty || lmN != tfN)
      throw new IllegalStateException(
        s"lm_bigrams and tf_index cover different corpus snapshots " +
          s"(lm corpusCount=${lmN.getOrElse("?")}, tf corpusCount=${tfN.getOrElse("?")}) — " +
          "attach BOTH maintainers to the same stream and let them catch up. " +
          "If the divergence came from a document purge (purgeKeys decrements " +
          "tf_index's corpusCount but lm_bigrams, keyed by (a,b), cannot be " +
          "doc-purged), catching up can never re-agree: re-bootstrap the LM " +
          "store from the post-purge corpus (bootstrapLmStore) instead")
    // Equal counts are necessary but not sufficient — two maintainers that
    // each ingested N docs from DIFFERENT batches pass the count check.
    // The content digest (bit_xor of per-doc xxhash64, bootstrap-stamped
    // and XOR-advanced per batch) distinguishes them. Either side missing
    // it (pre-digest store, or post-purge: purgeKeys drops the key) falls
    // back to count-only with a warning — the digest re-appears at the
    // next re-bootstrap.
    val lmH = lmMeta.get(graft.IndexStore.CorpusHashKey)
    val tfH = tfMeta.get(graft.IndexStore.CorpusHashKey)
    (lmH, tfH) match {
      case (Some(a), Some(b)) if a != b =>
        throw new IllegalStateException(
          s"lm_bigrams and tf_index ingested the same corpus COUNT ($lmN docs) " +
            s"but different corpus CONTENT (digests $a vs $b) — the maintainers " +
            "consumed different batches. Attach both to the same stream, or " +
            "re-bootstrap both stores from the same corpus snapshot")
      case (Some(_), Some(_)) => ()
      case _ =>
        log.warn("lmModelFromStore: corpus content digest missing on " +
          s"${if (lmH.isEmpty) LmStoreName else TfStoreName} — serving on " +
          "count equality alone; re-bootstrap to restore the digest tripwire")
    }
    import org.apache.spark.sql.functions._
    graft.operators.CorpusOps.lmModelOverBigrams(bigrams.withColumnRenamed("c", "c12"),
      tf.groupBy(col("term")).agg(sum(col("tf")).as("n")))
  }

  /** q146's per-doc LM quality report for `docs`, scored against the
    * STORED model — the continuous quality-filter serving path.
    */
  def lmScoreFromStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): DataFrame =
    graft.operators.CorpusOps.lmScoreOverModel(
      graft.operators.CorpusOps.bigramBags(docs),
      lmModelFromStore(s, corpusDir))

  // ------------------------------------------------ BPE model store -----

  /** Durable `(term, freq)` word-frequency store behind
    * [[maintainBpeModel]] — ADDITIVE like the DSIR profiles and LM
    * bigrams (serving sums per term), so appends are O(batch) and a
    * purge decrements exactly ([[purgeAll]]'s negated increments).
    */
  private[graft] val BpeWordStoreName = "bpe_words"

  /** Durable learned merge sequence (round, left_sym, right_sym,
    * pair_count) — the fit artifact, overwritten wholesale by a refit
    * (bounded: [[graft.operators.Bpe.Rounds]] rows).
    */
  private[graft] val BpeModelStoreName = "bpe_merges"

  /** Compression-ratio ledger (on the WORD store's sidecar, where the
    * batch markers live): Fit* = frequency-weighted (Σ freq·|syms|,
    * Σ freq·|chars|) of the vocabulary encoded under the merges at fit
    * time; Inc* = the same sums over batches appended SINCE, each batch
    * encoded under the STORED merges at ingest. The trigger is the
    * statistic an operator would watch: new text that the learned merges
    * compress ≥ [[BpeDriftPct]]% worse than the fit corpus (symbols per
    * character, cross-multiplied BigInt compare — exact), armed once the
    * appended char mass reaches [[BpeDriftMinIncPct]]% of the fit's.
    */
  private[graft] val BpeFitSymsKey = "bpeFitSyms"
  private[graft] val BpeFitCharsKey = "bpeFitChars"
  private[graft] val BpeIncSymsKey = "bpeIncSyms"
  private[graft] val BpeIncCharsKey = "bpeIncChars"
  private[graft] val BpeLastRefitTriggerKey = "bpeLastRefitTrigger"
  private[graft] val BpeDriftMinIncPct = 5L
  private[graft] val BpeDriftPct = 10L

  /** Decoded BPE compression sidecar — the single place the refit
    * predicate is written, shared by [[maybeRefitBpe]] and the
    * `bpe_drift` gateway view (the ledger the trigger can never disagree
    * with).
    */
  private[graft] final case class BpeDriftSnapshot(fitSyms: BigInt,
      fitChars: BigInt, incSyms: BigInt, incChars: BigInt,
      lastTrigger: Option[String]) {
    def compression: Boolean =
      fitChars > 0 && incChars * 100 >= fitChars * BpeDriftMinIncPct &&
        fitSyms > 0 && incSyms * fitChars * 100 > fitSyms * incChars * (100 + BpeDriftPct)
  }

  /** Decode the compression sidecar; None without a fit baseline. */
  private[graft] def bpeDriftSnapshot(meta: Map[String, String]): Option[BpeDriftSnapshot] =
    for {
      fitSy <- meta.get(BpeFitSymsKey).map(BigInt(_))
      fitCh <- meta.get(BpeFitCharsKey).map(BigInt(_))
    } yield BpeDriftSnapshot(fitSy, fitCh,
      meta.get(BpeIncSymsKey).map(BigInt(_)).getOrElse(BigInt(0)),
      meta.get(BpeIncCharsKey).map(BigInt(_)).getOrElse(BigInt(0)),
      meta.get(BpeLastRefitTriggerKey))

  private def bpeWordRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.CorpusOps.tfRows(docs)
      .groupBy(col("term"))
      .agg(sum(col("tf")).cast(org.apache.spark.sql.types.LongType).as("freq"))
  }

  /** The word store's family data: appends also need the committed model
    * store, and each batch, encoded under the STORED merges (O(batch ·
    * Rounds)), advances the compression increments in the marker's
    * sidecar write.
    */
  private val BpeWordStore = DocStore(BpeWordStoreName, "maintainBpeModel",
    bpeWordRows(_), additive = Some(Additive(Seq("term"), Seq("freq"))),
    check = (s, corpusDir) => {
      graft.IndexStore.requireCommitted(s, corpusDir, BpeModelStoreName, "maintainBpeModel")
      ()
    },
    incMeta = (s, corpusDir, words, meta) => {
      val (sy, ch) = graft.operators.Bpe.compressionStats(
        graft.operators.Bpe.applyMerges(words, storedBpeMerges(s, corpusDir, "maintainBpeModel")))
      def adv(key: String, d: BigInt) =
        key -> (meta.get(key).map(BigInt(_)).getOrElse(BigInt(0)) + d).toString
      Map(adv(BpeIncSymsKey, sy), adv(BpeIncCharsKey, ch))
    })

  /** The stored merge sequence (bounded: ≤ Rounds rows), read verified
    * from the committed model store that `user` needs.
    */
  private def storedBpeMerges(s: SparkSession, corpusDir: String,
      user: String): Seq[(Long, String, String, Long)] =
    graft.IndexStore.verifiedRead(s,
        graft.IndexStore.requireCommitted(s, corpusDir, BpeModelStoreName, user))
      .orderBy(org.apache.spark.sql.functions.col("round"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** Learn the merge sequence over the word store's summed counts,
    * overwrite the model entry, and return the fresh compression baseline
    * (zeroed increments) for the word store's sidecar.
    */
  private def fitBpeMerges(s: SparkSession, corpusDir: String): Map[String, String] = {
    val words = BpeWordStore.additive.get.summed(graft.IndexStore.verifiedRead(s,
      graft.IndexStore.requireCommitted(s, corpusDir, BpeWordStoreName, "BPE model fit")))
    val merges = graft.operators.Bpe.learn(words)
    val path = graft.IndexStore.storePath(
      graft.IndexStore.requireRoot(s, "BPE model write"), corpusDir, BpeModelStoreName)
    import s.implicits._
    merges.toDF("round", "left_sym", "right_sym", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
    graft.IndexStore.writeMeta(s, path, Map(
      graft.IndexStore.StoreRowsKey -> merges.length.toString,
      "rounds" -> graft.operators.Bpe.Rounds.toString))
    val (sy, ch) = graft.operators.Bpe.compressionStats(
      graft.operators.Bpe.applyMerges(words, merges))
    Map(BpeFitSymsKey -> sy.toString, BpeFitCharsKey -> ch.toString,
      BpeIncSymsKey -> "0", BpeIncCharsKey -> "0")
  }

  /** Bootstrap the durable BPE tier from an existing corpus: word counts
    * (additive store), the learned merge sequence, and the compression
    * baseline.
    */
  private[graft] def bootstrapBpeStore(s: SparkSession, corpusDir: String,
      docs: DataFrame): Unit = {
    bootstrapDocStore(s, corpusDir, BpeWordStore, docs)
    val baseline = fitBpeMerges(s, corpusDir)
    val wordPath = graft.IndexStore.requireCommitted(s, corpusDir,
      BpeWordStoreName, "bootstrapBpeStore")
    graft.IndexStore.readMeta(s, wordPath).foreach { meta =>
      graft.IndexStore.writeMeta(s, wordPath, meta ++ baseline)
    }
  }

  /** Apply one micro-batch of `(doc_id, text, …)` documents to the BPE
    * tier, then refit the merges if the compression trigger fired.
    */
  private[graft] def applyBpeBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, docs: DataFrame): Boolean =
    applyDocStore(s, corpusDir, BpeWordStore, stream, batchId, docs) && {
      maybeRefitBpe(s, corpusDir)
      true
    }

  /** Evaluate the compression-drift trigger and refit the merge sequence
    * in place when it fires: re-learn over the store's own summed word
    * counts, overwrite the model entry, re-stamp the baseline with zeroed
    * increments and trigger provenance. A crash between the model write
    * and the sidecar restamp leaves the old baseline against the new
    * merges — the next batch re-evaluates and re-fires; the refit is
    * deterministic, so the retry converges (the PQ-refit argument).
    */
  private def maybeRefitBpe(s: SparkSession, corpusDir: String): Unit = {
    val wordPath = graft.IndexStore.committedPath(s, corpusDir, BpeWordStoreName)
      .getOrElse(return)
    val meta = graft.IndexStore.readMeta(s, wordPath).getOrElse(return)
    val snap = bpeDriftSnapshot(meta).getOrElse(return)
    val stats = s"fit=${snap.fitSyms}/${snap.fitChars}, " +
      s"appended=${snap.incSyms}/${snap.incChars}"
    if (!snap.compression) {
      if (snap.incChars > 0)
        log.info(s"BPE model for $corpusDir: $stats — below the refit trigger")
      return
    }
    log.warn(s"BPE refit for $corpusDir: trigger=compression ($stats)")
    graft.IndexStore.writeMeta(s, wordPath, meta ++ fitBpeMerges(s, corpusDir) +
      (BpeLastRefitTriggerKey -> "compression"))
  }

  /** Attach a BPE-model maintainer to a `(doc_id, text, …)` stream: word
    * counts land behind the batch marker, the compression statistic
    * advances in the same sidecar write, and a fired trigger re-learns
    * the merge sequence — so the tokenizer artifact (q138) and the
    * encoding report (q140) follow the corpus instead of silently staling
    * as it grows (the PQ-codebook failure mode, closed for the tokenizer).
    */
  def maintainBpeModel(docs: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "bpe_maintenance"): StreamingQuery =
    attach(docs, checkpoint, stream)(applyBpeBatch(_, corpusDir, stream, _, _))

  /** q138 served off the durable tier: the stored merge table as a frame
    * (round, left_sym, right_sym, pair_count).
    */
  def bpeMergesFromStore(s: SparkSession, corpusDir: String): DataFrame = {
    servedStore(s, corpusDir, BpeWordStore, "bpeMergesFromStore")
    import s.implicits._
    storedBpeMerges(s, corpusDir, "bpeMergesFromStore")
      .toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** q140's vocabulary encoding served off the durable tier: the summed
    * word store encoded under the stored merges — `(term, syms, freq)`.
    */
  def bpeEncodedFromStore(s: SparkSession, corpusDir: String): DataFrame = {
    val words = servedStore(s, corpusDir, BpeWordStore, "bpeEncodedFromStore")._1
    graft.operators.Bpe.applyMerges(words, storedBpeMerges(s, corpusDir, "bpeEncodedFromStore"))
  }

  // ------------------------------------------ IVF assignment store ------

  /** Durable `(vec_id, embedding, eq, cid, idot)` assignments of every
    * corpus vector to its nearest stored centroid — the INVERTED FILE
    * itself, maintained continuously: each micro-batch assigns its
    * vectors against the stored model at O(batch · k) cost and appends,
    * so ANN serving ([[graft.operators.Similarity.ivfAnnFromStore]])
    * never recomputes the corpus-wide argmax. Unlike the additive stores
    * (tf/DSIR/LM), centroids LEARN nothing from appends — so the
    * maintainer tracks a drift statistic and refits past threshold (see
    * [[applyIvfBatch]]), closing the gap the wholesale ≥2× growth policy
    * ([[graft.operators.Ivf.RefitGrowthFactor]]) left: a distribution
    * shift the corpus-size trigger cannot see.
    */
  private[graft] val IvfAssignStoreName = "ivf_assign"

  /** The maintained IVF/PQ index families, each with the offset of its
    * id domain: "" is the text-side family (`ivf_assign` + `ivf_model` +
    * `pq_model_<m>`); "_xm" the cross-modal image-side one
    * (`ivf_assign_xm` + `xm_ivf_model` + `pq_model_<m>_xm` — q155's
    * serving artifacts), whose ids are the documents' plus
    * [[graft.operators.Similarity.XmOffset]]. One maintenance stack,
    * parameterized, so the image-side index follows ITS corpus exactly as
    * the text-side one does; every per-family surface (ledger views,
    * store names, the takedown purge) iterates this one declaration, so a
    * new family extends them all.
    */
  private[graft] val IndexFamilies: scala.collection.immutable.ListMap[String, Long] =
    scala.collection.immutable.ListMap("" -> 0L, "_xm" -> graft.operators.Similarity.XmOffset)

  /** Sidecar keys of the drift statistic. Fit* = assignment-quality
    * baseline recorded when the current model was fit (Σ idot and row
    * count over the fit corpus, exact — the sum rides DECIMAL(38,0) and
    * the sidecar stores decimal strings, so no Long overflow at any
    * corpus size). Inc* = the same sums accumulated over batches appended
    * SINCE that fit. ivfK = the cell-count request the store was
    * bootstrapped with (0 = derive from corpus size), reused by refits.
    */
  private[graft] val IvfKKey = "ivfK"
  private[graft] val IvfFitIdotSumKey = "ivfFitIdotSum"
  private[graft] val IvfFitNKey = "ivfFitN"
  private[graft] val IvfIncIdotSumKey = "ivfIncIdotSum"
  private[graft] val IvfIncNKey = "ivfIncN"

  /** Fit-epoch counters, the exact fit/appended attribution for purges.
    * Each assignment row carries the epoch CURRENT when it was appended
    * (`ivf_epoch` / `pq_epoch` columns; fit-corpus rows carry 0, below
    * every sidecar epoch). A row contributes to an Inc ledger iff its
    * epoch equals the sidecar's current fit epoch — bootstrap stamps 1,
    * each refit bumps (re-baselining everything already in the store
    * without a row rewrite on the PQ side), so a purge can decrement the
    * Inc sums by EXACTLY the purged rows still counted there instead of
    * by all purged-present rows (which understated appended mass and
    * could defer the refit triggers unboundedly — round-15 advice).
    */
  private[graft] val IvfFitEpochKey = "ivfFitEpoch"
  private[graft] val PqFitEpochKey = "pqFitEpoch"

  /** Refit when the appended batches' MEAN assignment similarity falls
    * below this percentage of the fit baseline's mean — new data landing
    * far from every existing centroid is exactly the drift that keeps
    * corpus size flat-ish while destroying cell quality (probe recall
    * rots with no growth symptom). 50% is deliberately conservative: the
    * cross-multiplied integer comparison makes any threshold exact.
    */
  private[graft] val IvfDriftMeanPct = 50L

  /** Drift is only judged once the appended mass is ≥ this percentage of
    * the fit corpus — a handful of outlier vectors must not refit a
    * billion-row index.
    */
  private[graft] val IvfDriftMinIncPct = 5L

  /** Per-cell counts of the mass appended since the last fit, as a
    * compact `cid:count,…` sidecar string — the occupancy-skew statistic
    * the mean-dot trigger cannot see: a NEW HOT MODE (one cell absorbing
    * most appends) degrades that cell's probe cost long before the global
    * mean assignment dot halves (the hot vectors can sit CLOSE to their
    * centroid — high dot, no drift signal — while the cell outgrows every
    * other). O(k) sidecar bytes; k is clamped at [[graft.operators
    * .Sizing.MaxCells]] (65536 → ≤ ~1 MB in one sidecar file, the same
    * order as the centroid store itself). Advanced with the batch marker;
    * cleared on every refit (tracking restarts against the new cells).
    */
  private[graft] val IvfIncCellCountsKey = "ivfIncCellCounts"

  /** The last fired refit trigger (`growth` / `drift` / `skew`) — serving
    * surfaces (the `ivf_drift` gateway view) report WHY the index last
    * refit, not just that it did.
    */
  private[graft] val IvfLastRefitTriggerKey = "ivfLastRefitTrigger"

  /** Skew refit fires when the appended mass is armed (≥
    * [[IvfDriftMinIncPct]]% of the fit corpus, same floor as the mean-dot
    * trigger) AND the hottest cell holds ≥ this multiple of its balanced
    * share of the appends (maxCellCount · k ≥ factor · trackedIncN — an
    * exact integer cross-multiply). 8× balanced share is far outside
    * k-means' natural occupancy spread on stationary data but reached
    * immediately by a new concentrated mode.
    */
  private[graft] val IvfSkewFactor = 8L

  // ---- PQ codebook drift (the fine quantizer's staleness statistic) ----
  // The coarse IVF model has growth/drift/skew maintenance; without these
  // keys the PQ families only refresh under the wholesale ≥2× policy, and
  // ADC quantization error drifts SILENTLY between refreshes (round-14
  // gap #4). The statistic: exact integer Σ|selfdot − bestcode-dot| over
  // a deterministic hash probe sample ([[graft.operators.Similarity
  // .pqResidualStats]]) — the reconstruction loss ADC scoring pays —
  // with a fit baseline stamped at bootstrap/refit and per-batch
  // increments advanced with the batch marker.

  private[graft] val PqFitResSumKey = "pqFitResSum"
  private[graft] val PqFitResNKey = "pqFitResN"
  private[graft] val PqIncResSumKey = "pqIncResSum"
  private[graft] val PqIncResNKey = "pqIncResN"
  /** The probe-sample modulus the baseline was computed under — batches
    * must sample under the SAME modulus for the means to be comparable.
    */
  private[graft] val PqResModKey = "pqResMod"
  private[graft] val PqLastRefitTriggerKey = "pqLastRefitTrigger"

  /** Refit when the appended sample's MEAN residual exceeds this multiple
    * of the fit baseline's mean (cross-multiplied BigInt compare, exact):
    * new data the codebooks reconstruct 2× worse than their training
    * distribution is drifted enough that ADC ordering degrades. Armed
    * under the same ≥ [[IvfDriftMinIncPct]]% appended-mass floor as the
    * coarse triggers — a handful of outliers must not refit the family.
    */
  private[graft] val PqResidFactor = 2L

  /** Residual probe-sample target: the statistic needs a stable mean, not
    * the corpus — 64k sampled rows bound the per-refresh scoring pass at
    * any corpus size (the sums are distributed; only two scalars ever
    * reach the driver).
    */
  private[graft] val PqResSampleTarget = 65536L

  /** Decoded PQ drift sidecar — the single place the residual predicate
    * is written, shared by [[maybeRefitPq]] and the `pq_drift` gateway
    * view (the ledger the trigger can never disagree with).
    */
  private[graft] final case class PqDriftSnapshot(fitN: Long, fitSum: BigInt,
      incN: Long, incSum: BigInt, mod: Int, lastTrigger: Option[String]) {
    def residual: Boolean = fitN > 0 && fitSum > 0 &&
      incN * 100 >= fitN * IvfDriftMinIncPct &&
      incSum * BigInt(fitN) > BigInt(PqResidFactor) * fitSum * BigInt(incN)
  }

  private[graft] def pqDriftSnapshot(meta: Map[String, String]): Option[PqDriftSnapshot] =
    for {
      fitN <- meta.get(PqFitResNKey).flatMap(_.toLongOption)
      fitSum <- meta.get(PqFitResSumKey).map(BigInt(_))
      mod <- meta.get(PqResModKey).flatMap(_.toIntOption)
    } yield PqDriftSnapshot(fitN, fitSum,
      meta.get(PqIncResNKey).flatMap(_.toLongOption).getOrElse(0L),
      meta.get(PqIncResSumKey).map(BigInt(_)).getOrElse(BigInt(0)),
      mod, meta.get(PqLastRefitTriggerKey))

  /** The committed text-side PQ codebook family, or None when any entry
    * is absent/torn (PQ maintenance not bootstrapped — the batch path
    * then advances nothing).
    */
  private def storedPqModels(s: SparkSession, corpusDir: String,
      family: String = ""): Option[Seq[graft.operators.Ivf.Model]] =
    graft.IndexStore.configuredDir(s).flatMap { root =>
      val loaded = (0 until graft.operators.Similarity.pqSubvectors).map { m =>
        graft.operators.Ivf.load(s, graft.IndexStore.storePath(root, corpusDir,
          graft.operators.Similarity.pqModelStoreName(m, family)))
      }
      if (loaded.forall(_.isDefined)) Some(loaded.map(_.get)) else None
    }

  /** One decoded view of the assignment store's drift sidecar — the
    * SINGLE place the three refit predicates are written, shared by
    * [[maybeRefitIvf]] (the trigger) and the `ivf_drift` gateway view
    * (the ledger), so the surface an analyst reads can never disagree
    * with the policy the maintainer runs.
    */
  private[graft] final case class IvfDriftSnapshot(fitN: Long, fitSum: BigInt,
      incN: Long, incSum: BigInt, rows: Long, k: Int,
      cellCounts: Map[Int, Long], lastTrigger: Option[String]) {
    def trackedIncN: Long = cellCounts.valuesIterator.sum
    def hotCell: Option[(Int, Long)] =
      if (cellCounts.isEmpty) None
      else Some(cellCounts.minBy { case (c, n) => (-n, c) }) // deterministic: max count, min cid
    def growth: Boolean = fitN > 0 &&
      rows.toDouble >= graft.operators.Ivf.RefitGrowthFactor * fitN
    def drift: Boolean = fitN > 0 && fitSum > 0 &&
      incN * 100 >= fitN * IvfDriftMinIncPct &&
      incSum * 100 * BigInt(fitN) < fitSum * BigInt(incN) * IvfDriftMeanPct
    def skew: Boolean = fitN > 0 && k >= 2 &&
      trackedIncN * 100 >= fitN * IvfDriftMinIncPct &&
      hotCell.exists(_._2 * k >= IvfSkewFactor * trackedIncN)
  }

  /** Decode the drift sidecar; None when the store has no fit baseline
    * (pre-bootstrap or pre-drift-era sidecar).
    */
  private[graft] def driftSnapshot(meta: Map[String, String]): Option[IvfDriftSnapshot] =
    for {
      fitN <- meta.get(IvfFitNKey).flatMap(_.toLongOption)
      fitSum <- meta.get(IvfFitIdotSumKey).map(BigInt(_))
      rows <- meta.get(graft.IndexStore.StoreRowsKey).flatMap(_.toLongOption)
    } yield IvfDriftSnapshot(fitN, fitSum,
      meta.get(IvfIncNKey).flatMap(_.toLongOption).getOrElse(0L),
      meta.get(IvfIncIdotSumKey).map(BigInt(_)).getOrElse(BigInt(0)),
      rows,
      meta.get(IvfKKey).flatMap(_.toIntOption).getOrElse(0),
      parseCellCounts(meta.getOrElse(IvfIncCellCountsKey, "")),
      meta.get(IvfLastRefitTriggerKey))

  private def parseCellCounts(enc: String): Map[Int, Long] =
    if (enc == null || enc.isEmpty) Map.empty
    else enc.split(',').iterator.map { kv =>
      val Array(c, n) = kv.split(':')
      c.toInt -> n.toLong
    }.toMap

  private def encodeCellCounts(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1).map { case (c, n) => s"$c:$n" }.mkString(",")

  /** The Inc ledgers after adding (`sign` = 1, an append) or removing
    * (−1, a purge) the assignment rows `asg` of `family`, from the
    * sidecar `meta`: the rows the coarse ledger counted, and the five
    * Inc-ledger entries ([[IvfIncNKey]], [[IvfIncIdotSumKey]],
    * [[IvfIncCellCountsKey]], [[PqIncResNKey]], [[PqIncResSumKey]]). A row counts toward a ledger iff its epoch
    * tag (`ivf_epoch` / `pq_epoch`) is the current fit epoch
    * ([[IvfFitEpochKey]]) — purged fit-corpus rows were never counted and
    * remove nothing; a store without epoch columns counts every row. The
    * sums clamp at zero and a cell whose count falls to ≤ 0 drops. The
    * PQ entries move only when the store carries a residual baseline AND
    * the family's codebooks are committed, re-scored under the current
    * codebooks. An append's rows all carry the current epochs and only
    * grow the sums, so there the filter and the clamps change nothing.
    * Jobs: one for the sums, one k-bounded collect of the cell counts,
    * and the PQ residual pass.
    */
  private def incLedger(s: SparkSession, corpusDir: String, family: String,
      meta: Map[String, String], asg: DataFrame, sign: Int): (Long, Map[String, String]) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    def current(epochCol: String, epochKey: String) =
      if (!asg.columns.contains(epochCol)) asg
      else asg.filter(col(epochCol) === meta.get(epochKey).flatMap(_.toIntOption).getOrElse(1))
    def long(key: String) = meta.get(key).flatMap(_.toLongOption).getOrElse(0L)
    def big(key: String) = meta.get(key).map(BigInt(_)).getOrElse(BigInt(0))
    val ivf = current("ivf_epoch", IvfFitEpochKey)
    val (n, sum) = assignStats(ivf)
    val cells = ivf.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prevCells = parseCellCounts(meta.getOrElse(IvfIncCellCountsKey, ""))
    val newCells = (prevCells.keySet ++ cells.keySet)
      .map(c => c -> (prevCells.getOrElse(c, 0L) + sign * cells.getOrElse(c, 0L)))
      .filter(_._2 > 0).toMap
    val pq = for {
      mod <- meta.get(PqResModKey).flatMap(_.toIntOption)
      models <- storedPqModels(s, corpusDir, family)
    } yield {
      val (rn, rsum) = graft.operators.Similarity.pqResidualStats(models,
        current("pq_epoch", PqFitEpochKey).select(col("vec_id"), col("eq"))
          .filter(graft.operators.Similarity.pqResSampleFilter(mod)))
      Map(PqIncResNKey -> math.max(0L, long(PqIncResNKey) + sign * rn).toString,
        PqIncResSumKey -> (big(PqIncResSumKey) + rsum * sign).max(BigInt(0)).toString)
    }
    (n, Map(IvfIncNKey -> math.max(0L, long(IvfIncNKey) + sign * n).toString,
      IvfIncIdotSumKey -> (big(IvfIncIdotSumKey) + sum * sign).max(BigInt(0)).toString,
      IvfIncCellCountsKey -> encodeCellCounts(newCells)) ++ pq.getOrElse(Map.empty))
  }

  /** `(vec_id, embedding, eq, cid, idot)` rows of `e` under model `m`:
    * each vector's argmax-integer-dot cell (deterministic cid tiebreak —
    * the identical assignment rule as [[graft.operators.Ivf.ranked]])
    * plus the winning dot, the drift statistic's raw material. One
    * broadcast of k × dim longs, one doc-keyed window; O(batch · k).
    */
  private def ivfAssignRows(emb: DataFrame, m: graft.operators.Ivf.Model): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = emb.sparkSession
    graft.plans.GraftExtensions.register(s)
    // fit-epoch tags ride along when the caller attached them (bootstrap
    // and appends always do; see [[IvfFitEpochKey]])
    val extras = Seq("ivf_epoch", "pq_epoch").filter(emb.columns.contains)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("idot").desc, col("cid").asc)
    graft.operators.Ivf.quantize(emb)
      .select((Seq("vec_id", "embedding", "eq") ++ extras).map(col): _*)
      .crossJoin(broadcast(graft.operators.Ivf.centsDF(s, m.cents)))
      .withColumn("idot", call_function("vec_dot_long", col("eq"), col("ceq")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select((Seq("vec_id", "embedding", "eq", "cid", "idot") ++ extras).map(col): _*)
  }

  /** Target rows per file for the vec_id-clustered assignment-store
    * layout (~130k rows ≈ tens of MB with raw + quantized embeddings).
    */
  private val AssignRowsPerFile = 1L << 17

  /** Range-partition + sort an assignment frame by `vec_id` before it
    * lands in the store: files become id-range-disjoint and row groups
    * monotone, so a point lookup (`/ann?doc_id=`) prunes to O(1) row
    * groups from parquet min/max stats instead of scanning a corpus-sized
    * store — the same sorted-write discipline as the warehouse fact
    * layout, applied to the inverted file. Appends are already id-ranged
    * (append-only streams), so each batch's files stay disjoint from the
    * bootstrap's.
    */
  private def sortedByVecId(df: DataFrame, rows: Long): DataFrame = {
    val parts = math.max(1L, (rows + AssignRowsPerFile - 1) / AssignRowsPerFile).toInt
    df.repartitionByRange(parts, org.apache.spark.sql.functions.col("vec_id"))
      .sortWithinPartitions("vec_id")
  }

  /** `(rows, Σ idot)` of an assignment frame — the drift statistic's
    * per-batch increment, summed in DECIMAL(38,0) (idot ≤ ~6.4e9 per row;
    * a Long sum would overflow near 1.4e9 rows).
    */
  private def assignStats(asg: DataFrame): (Long, BigInt) = {
    import org.apache.spark.sql.functions._
    val r = asg.agg(count(lit(1)), coalesce(
      sum(col("idot").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))),
      lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
  }

  /** `(assignment store, model store)` names of index family `family`. */
  private def ivfStoreNames(family: String): (String, String) = {
    require(IndexFamilies.contains(family), s"unknown index family '$family'")
    (IvfAssignStoreName + family,
      if (family.isEmpty) graft.operators.Similarity.IvfModelStoreName
      else graft.operators.Similarity.XmIvfModelStoreName)
  }

  private def ivfPaths(s: SparkSession, corpusDir: String,
      family: String = ""): (String, String) = {
    val (assignName, modelName) = ivfStoreNames(family)
    val root = graft.IndexStore.requireRoot(s, "the IVF assignment maintainer")
    (graft.IndexStore.storePath(root, corpusDir, assignName),
      graft.IndexStore.storePath(root, corpusDir, modelName))
  }

  /** Bootstrap the assignment store from an existing embeddings corpus
    * `(vec_id, embedding, …)`: fit-or-load the centroid model (the same
    * durable entry batch q53/q68 serve from), assign every vector, and
    * stamp the drift baseline. Required before attaching
    * [[maintainIvfAssignments]] — appends refuse a store with no
    * recorded fit baseline.
    */
  private[graft] def bootstrapIvfAssignments(s: SparkSession, corpusDir: String,
      e: DataFrame, k: Int = graft.operators.Similarity.ivfFixtureCells,
      maintainPq: Boolean = true, family: String = ""): Unit = {
    val (assignPath, modelPath) = ivfPaths(s, corpusDir, family)
    val eqf = graft.operators.Ivf.quantize(e)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("eq"))
    val model = graft.operators.Ivf.servedModel(s, modelPath, eqf, k)
    val nCorpus = e.count()
    graft.IndexStore.servedFrom(s, corpusDir, IvfAssignStoreName + family,
      corpusCount = nCorpus)(sortedByVecId(ivfAssignRows(
      e.withColumn("ivf_epoch", org.apache.spark.sql.functions.lit(0))
        .withColumn("pq_epoch", org.apache.spark.sql.functions.lit(0)), model), nCorpus))
    // Baseline stats over the COMMITTED rows (idempotent whether
    // servedFrom rebuilt or served fresh — either way the store is the
    // current corpus's assignments under the current model).
    val (n, sum) = assignStats(graft.IndexStore.read(s, assignPath))
    // PQ tier (on by default): fit-or-load the shared text-side codebook
    // family and stamp its residual baseline over the deterministic probe
    // sample, so appends can watch ADC quantization drift from batch one.
    val pqBaseline: Map[String, String] =
      if (!maintainPq) Map.empty
      else {
        val models = graft.operators.Similarity.pqModels(s, corpusDir, eqf, tag = family)
        val mod = math.max(1L, n / PqResSampleTarget).toInt
        val (rn, rsum) = graft.operators.Similarity.pqResidualStats(models,
          eqf.filter(graft.operators.Similarity.pqResSampleFilter(mod)))
        Map(PqResModKey -> mod.toString,
          PqFitResNKey -> rn.toString, PqFitResSumKey -> rsum.toString,
          PqIncResNKey -> "0", PqIncResSumKey -> "0")
      }
    graft.IndexStore.readMeta(s, assignPath).foreach { meta =>
      graft.IndexStore.writeMeta(s, assignPath, meta ++ Map(
        IvfKKey -> k.toString,
        IvfFitIdotSumKey -> sum.toString, IvfFitNKey -> n.toString,
        IvfIncIdotSumKey -> "0", IvfIncNKey -> "0",
        IvfIncCellCountsKey -> "",
        IvfFitEpochKey -> "1", PqFitEpochKey -> "1") ++ pqBaseline)
    }
  }

  /** Apply one micro-batch of `(vec_id, embedding, …)` rows: assign
    * against the STORED model (O(batch · k)), append, advance the drift
    * sums with the batch marker, then refit if either trigger fires:
    *
    *  - GROWTH: store rows ≥ [[graft.operators.Ivf.RefitGrowthFactor]] ×
    *    the fit baseline's rows (the existing wholesale policy, now
    *    evaluated continuously at ingest instead of lazily at serve);
    *  - DRIFT: appended mass ≥ [[IvfDriftMinIncPct]]% of the fit corpus
    *    AND its mean assignment dot < [[IvfDriftMeanPct]]% of the fit
    *    mean (cross-multiplied BigInt compare, exact; only armed while
    *    the baseline mean is positive — a corpus whose best-cell dots
    *    aren't positive has no meaningful "degradation" direction).
    */
  private[graft] def applyIvfBatch(s: SparkSession, corpusDir: String,
      stream: String, batchId: Long, batch: DataFrame,
      family: String = ""): Boolean = {
    val (assignName, modelName) = ivfStoreNames(family)
    applyOnce(s, corpusDir, assignName, stream, batchId) { marker =>
      val assignPath = graft.IndexStore.requireCommitted(s, corpusDir, assignName,
        "maintainIvfAssignments")
      val modelPath = graft.IndexStore.requireCommitted(s, corpusDir, modelName,
        "maintainIvfAssignments")
      val meta0 = graft.IndexStore.readMeta(s, assignPath).getOrElse(Map.empty)
      require(meta0.contains(IvfFitNKey),
        s"IVF assignment store at $assignPath has no fit baseline — " +
          "re-bootstrap (bootstrapIvfAssignments) before appending")
      val model = graft.operators.Ivf.load(s, modelPath).getOrElse(throw
        new IllegalStateException(s"torn IVF model store at $modelPath — re-bootstrap"))
      // appended rows carry the CURRENT fit epochs: they count toward the
      // Inc ledgers until the next matching refit re-baselines them, and
      // a purge decrements exactly the rows whose epoch still matches
      val ivfEpoch = meta0.get(IvfFitEpochKey).flatMap(_.toIntOption).getOrElse(1)
      val pqEpoch = meta0.get(PqFitEpochKey).flatMap(_.toIntOption).getOrElse(1)
      val asg = ivfAssignRows(batch
          .withColumn("ivf_epoch", org.apache.spark.sql.functions.lit(ivfEpoch))
          .withColumn("pq_epoch", org.apache.spark.sql.functions.lit(pqEpoch)), model)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        val (bn, inc) = incLedger(s, corpusDir, family, meta0, asg, 1)
        graft.IndexStore.append(s, corpusDir, assignName, sortedByVecId(asg, bn),
          incrementCount = bn, extraMeta = marker ++ inc)
      } finally asg.unpersist()
      maybeRefitIvf(s, corpusDir, family)
      maybeRefitPq(s, corpusDir, family)
    }
  }

  /** Evaluate both refit triggers against the sidecar and refit in place
    * when one fires: re-fit the centroids over the STORE's own vectors
    * (the store carries raw + quantized embeddings precisely so a refit
    * needs no external corpus), overwrite the durable model entry,
    * re-assign everything, and publish crash-cleanly — the reassigned
    * copy is fully written and row-verified at a `.refitting` sibling
    * before the delete+rename swap ([[graft.IndexStore.swapIn]], as
    * compaction and purges publish; a crash never publishes a
    * half-reassigned store). The
    * fresh sidecar carries the new fit baseline, zeroed Inc sums, and the
    * surviving batch markers.
    */
  private def maybeRefitIvf(s: SparkSession, corpusDir: String,
      family: String = ""): Unit = {
    val (assignPath, modelPath) = ivfPaths(s, corpusDir, family)
    val meta = graft.IndexStore.readMeta(s, assignPath).getOrElse(return)
    // Occupancy skew is judged over the TRACKED appends (the cell-count
    // map may have started later than the Inc sums on a pre-skew store,
    // so its own total — not IvfIncN — is the share's denominator).
    val snap = driftSnapshot(meta).getOrElse(return)
    if (!snap.growth && !snap.drift && !snap.skew) {
      if (snap.incN > 0)
        log.info(s"IVF assignments for $corpusDir: ${snap.incN} appended since " +
          s"fit (${snap.fitN} rows) — below all three refit triggers")
      return
    }
    val trigger = if (snap.growth) "growth" else if (snap.drift) "drift" else "skew"
    val (fitN, incN, rows, k) = (snap.fitN, snap.incN, snap.rows, snap.k)
    log.warn(s"IVF refit for $corpusDir: trigger=$trigger " +
      s"(fitN=$fitN, rows=$rows, incN=$incN, hotCell=${snap.hotCell}/${snap.trackedIncN})")
    val store0 = graft.IndexStore.read(s, assignPath)
    // the rewrite re-baselines every row for the COARSE ledger
    // (ivf_epoch 0 < the bumped fit epoch) but must NOT touch the PQ
    // attribution — the codebooks were not refit, so each row's pq_epoch
    // rides through the reassignment untouched
    val store = (if (store0.columns.contains("pq_epoch"))
        store0.select(
          org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("pq_epoch"))
      else store0.select(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")))
      .withColumn("ivf_epoch", org.apache.spark.sql.functions.lit(0))
    val eqf = graft.operators.Ivf.quantize(store)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("eq"))
    val model = graft.operators.Ivf.fit(eqf, k)
    graft.operators.Ivf.save(s, modelPath, model)
    // crash-clean reassign swap; Σidot comes from the same staged read
    // that verifies the row count
    graft.IndexStore.swapIn(s, assignPath, ".refitting", "IVF refit",
      sortedByVecId(ivfAssignRows(store, model), rows), rows,
      Some(meta ++ Map(
        graft.IndexStore.StoreRowsKey -> rows.toString,
        graft.IndexStore.CorpusCountKey -> rows.toString,
        IvfFitNKey -> rows.toString,
        IvfIncIdotSumKey -> "0", IvfIncNKey -> "0",
        IvfIncCellCountsKey -> "", IvfLastRefitTriggerKey -> trigger,
        IvfFitEpochKey -> (meta.get(IvfFitEpochKey).flatMap(_.toIntOption)
          .getOrElse(1) + 1).toString)),
      staged = { f =>
        val (n, sum) = assignStats(f)
        (n, Map(IvfFitIdotSumKey -> sum.toString))
      })
  }

  /** Evaluate the PQ residual trigger and refit the codebook family in
    * place when it fires: re-fit the four subvector codebooks over the
    * STORE's own quantized vectors (the store carries `eq` precisely so
    * refits need no external corpus), overwrite the durable
    * `pq_model_<m>` entries (dropping this session's cached family), and
    * stamp a fresh residual baseline (recomputed under the NEW codebooks
    * over the full store's probe sample) with zeroed increments and
    * trigger provenance.
    * Unlike the coarse refit, NO store rewrite happens — PQ codes are
    * derived at serve time from the codebooks, so the assignment rows are
    * untouched and the swap is just model entries + one sidecar write
    * (crash between them: the sidecar still holds the old baseline, the
    * next batch re-evaluates against the new codebooks' residuals and
    * re-fires — idempotent, refit is deterministic).
    */
  private def maybeRefitPq(s: SparkSession, corpusDir: String,
      family: String = ""): Unit = {
    val (assignPath, _) = ivfPaths(s, corpusDir, family)
    val meta = graft.IndexStore.readMeta(s, assignPath).getOrElse(return)
    val snap = pqDriftSnapshot(meta).getOrElse(return)
    if (!snap.residual) {
      if (snap.incN > 0)
        log.info(s"PQ codebooks for $corpusDir: ${snap.incN} sampled rows appended " +
          s"since fit (${snap.fitN} baseline) — below the residual trigger")
      return
    }
    log.warn(s"PQ refit for $corpusDir: trigger=residual " +
      s"(fit mean=${snap.fitSum}/${snap.fitN}, appended mean=${snap.incSum}/${snap.incN})")
    val eqf = graft.IndexStore.read(s, assignPath).select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("eq"))
    val models = graft.operators.Similarity.refitPqModels(s, corpusDir, eqf, tag = family)
    val storeRows = meta.get(graft.IndexStore.StoreRowsKey).flatMap(_.toLongOption)
      .getOrElse(eqf.count())
    val mod = math.max(1L, storeRows / PqResSampleTarget).toInt
    val (rn, rsum) = graft.operators.Similarity.pqResidualStats(models,
      eqf.filter(graft.operators.Similarity.pqResSampleFilter(mod)))
    graft.IndexStore.writeMeta(s, assignPath, meta ++ Map(
      PqResModKey -> mod.toString,
      PqFitResNKey -> rn.toString, PqFitResSumKey -> rsum.toString,
      PqIncResNKey -> "0", PqIncResSumKey -> "0",
      PqLastRefitTriggerKey -> "residual",
      // re-baseline WITHOUT a row rewrite: bumping the epoch moves every
      // stored row (epoch ≤ old) out of the Inc attribution in one
      // sidecar write — exactly mirroring the zeroed increments above
      PqFitEpochKey -> (meta.get(PqFitEpochKey).flatMap(_.toIntOption)
        .getOrElse(1) + 1).toString))
  }

  /** Right-to-be-forgotten across the EMBEDDING tier — the deletion leg
    * [[graft.IndexStore.purgeKeys]] started for the text/BM25 stores,
    * extended to every vector-derived artifact (round-14 gap #5: a purged
    * document must stop being SERVABLE AS A NEIGHBOR, not just stop being
    * retrievable as text). `ids` is the takedown request's identity set —
    * the shared id domain ties documents to their vectors (`vec_id`) and
    * media (`media_id`), so one request purges every tier it touches.
    *
    * Per committed store (absent tiers skip — nothing was built there):
    *
    *  - **IVF assignment store**: the purged rows' contribution to the
    *    maintenance ledgers is decremented IN THE SAME staged sidecar
    *    write as the row rewrite (purgeKeys' crash-clean swap — a crash
    *    can never publish purged rows with un-decremented ledgers):
    *    appended-mass sums (IncN/IncSum), the per-cell occupancy ledger
    *    (clamped at zero per cell), and the PQ residual increments
    *    (re-scored under the CURRENT codebooks over the purged sampled
    *    rows). Decrements clamp at zero — purged FIT-corpus rows have no
    *    increment to remove, and the fit baseline deliberately stays: it
    *    describes the model's training set, which deletion does not
    *    rewrite; triggers only get more conservative after a purge.
    *  - **SRP bucket store**: all 16 tables' bucket rows for the purged
    *    vec_ids; corpus count decremented by the DISTINCT purged vectors
    *    present, so the next tracked load/append agrees with the
    *    surviving corpus instead of rebuilding.
    *  - **media-fp store**: the purged media_ids' fingerprints.
    *
    * Each store's purge changes its identity, so every session cache
    * that reads it, in any session, refills from the purged store at its
    * next get.
    *
    * Returns removed STORE-ROW counts per store name. Idempotent: a
    * replayed purge removes 0 rows and decrements nothing (the clamps
    * and the already-rewritten rows make the second pass a no-op), so an
    * at-least-once deletion pipeline is safe. Scale: each leg is one
    * store scan + a request-sized broadcast `isin` — purge requests are
    * human-scale, never corpus-scale.
    */
  def purgeEmbeddingTier(s: SparkSession, corpusDir: String,
      ids: Seq[Long]): Map[String, Long] = {
    require(ids.nonEmpty, "purgeEmbeddingTier: empty id list")
    import org.apache.spark.sql.functions._
    val root = graft.IndexStore.requireRoot(s, "purgeEmbeddingTier")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    def purgeIvfFamily(family: String, famIds: Seq[Long]): Unit = {
      val storeName = IvfAssignStoreName + family
      val assignPath = graft.IndexStore.committedPath(s, corpusDir, storeName)
        .getOrElse(return)
      val meta = graft.IndexStore.readMeta(s, assignPath).getOrElse(Map.empty)
      val purged = graft.IndexStore.read(s, assignPath).filter(col("vec_id").isin(famIds: _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // no purged rows, no ledger keys written: a replayed purge leaves
        // the sidecar as it was
        val n = purged.count()
        val decMeta = if (n == 0) Map.empty[String, String]
          else incLedger(s, corpusDir, family, meta, purged, -1)._2
        results += storeName -> graft.IndexStore.purgeKeys(s, corpusDir,
          storeName, "vec_id", famIds, countDecrement = n, extraMeta = decMeta)
      } finally purged.unpersist()
    }
    for ((family, offset) <- IndexFamilies) purgeIvfFamily(family, ids.map(_ + offset))

    // SRP bucket rows and media fingerprints: the corpus count drops by
    // the distinct purged keys present
    def purgePresent(name: String, keyCol: String): Unit =
      graft.IndexStore.committedPath(s, corpusDir, name).foreach { path =>
        val present = graft.IndexStore.read(s, path).filter(col(keyCol).isin(ids: _*))
          .select(col(keyCol)).distinct().count()
        results += name -> graft.IndexStore.purgeKeys(s, corpusDir, name,
          keyCol, ids, countDecrement = present)
      }
    purgePresent(graft.operators.Similarity.SrpStoreName, "vec_id")
    purgePresent(graft.operators.MultimodalOps.MediaFpStoreName, "media_id")

    if (results.isEmpty)
      IndexMaintenance.log.warn(s"purgeEmbeddingTier: no committed " +
        s"embedding-tier store for $corpusDir under $root — nothing purged")
    results.toMap
  }

  // ------------------------------------------------ unified takedown ----

  /** Doc-keyed tombstone registry [[purgeAll]] maintains: an id recorded
    * here already had its model-tier contribution removed (or its store
    * tripped stale), so a later request containing it decrements nothing
    * twice — the additive stores (LM bigrams, DSIR profiles) have no
    * per-doc rows whose absence could make a replay a natural no-op the
    * way the doc-keyed tiers do.
    */
  private[graft] val PurgeTombstoneStoreName = "purge_tombstones"

  /** Sidecar marker set on an additive model store when a purge could
    * NOT decrement it exactly (a purged id was provably ingested — rows
    * in the doc-keyed tf store — but its content was available neither
    * in the corpus frame nor in the caller's `docsOpt`). Serving refuses
    * until a re-bootstrap rebuilds the counts from the surviving corpus.
    */
  private[graft] val ModelStaleKey = "modelStaleFromPurge"

  /** Per-store crash-replay guard for [[purgeAll]]'s non-row legs: each
    * leg stamps the request digest in the same sidecar write as its
    * decrement, so a purge replayed after a mid-sequence crash skips the
    * legs that already landed and completes the rest exactly once.
    */
  private[graft] val LastPurgeReqKey = "lastPurgeReq"

  /** Every [[DocStore]]; [[purgeAll]] decrements the additive ones. */
  private val DocStores = Seq(TfStore, AnchorStore, LmStore, DsirStore, BpeWordStore)

  private def purgeReqDigest(corpusDir: String, ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(corpusDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ids.sorted.foreach(id => md.update(java.nio.ByteBuffer.allocate(8).putLong(id).array()))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Right-to-be-forgotten across EVERY maintained tier — ONE entry point
    * composing the doc-keyed text stores (tf/BM25, shingle sets, anchor
    * index, chunk fingerprints), the embedding tier
    * ([[purgeEmbeddingTier]]: IVF both families, SRP, media
    * fingerprints), and — the round-15 gap — the ADDITIVE model tier (LM
    * bigram counts, DSIR bucket profiles), whose per-doc contributions
    * have no rows to delete.
    *
    * Model-tier semantics: both models are sums of per-doc counts, so
    * the decrement is EXACT whenever the purged docs' content is known —
    * the purged contributions are recomputed (`bigramBags` /
    * `dsirProfileRows` over exactly those docs) and appended NEGATED;
    * serving sums, so the surviving totals equal a fresh build over the
    * surviving corpus. The corpus count decrements and the XOR content
    * digest un-advances (`h ^ d` removes what `h ^ d` added) in the same
    * sidecar write, so [[lmModelFromStore]]'s cross-store snapshot check
    * keeps holding post-purge instead of forcing a re-bootstrap. Content
    * comes from `docsOpt` (pass the takedown request's own documents —
    * required for ids ingested by streaming that are not in the corpus
    * parquet) or the corpus `documents` table. If a requested id was
    * provably ingested (tf-store rows) but its content is in neither,
    * exactness is impossible: the model stores trip [[ModelStaleKey]]
    * and serving refuses until re-bootstrap — never a silently divergent
    * model.
    *
    * Idempotency: completed requests are fully absorbed by the tombstone
    * registry (replay purges nothing and decrements nothing); a replay
    * after a mid-sequence crash skips completed legs via
    * [[LastPurgeReqKey]] (stamped in the same staged sidecar write as
    * each leg's effect) and runs only the remainder. Scale: every leg is
    * one store scan + a request-sized broadcast `isin`; the model-tier
    * decrement is O(purged docs' tokens).
    *
    * Returns removed row counts per store (model-tier entries report the
    * count of docs whose contribution was decremented).
    */
  def purgeAll(s: SparkSession, corpusDir: String, ids: Seq[Long],
      docsOpt: Option[DataFrame] = None): Map[String, Long] = {
    require(ids.nonEmpty, "purgeAll: empty id list")
    import org.apache.spark.sql.functions._
    val root = graft.IndexStore.requireRoot(s, "purgeAll")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val req = purgeReqDigest(corpusDir, ids)
    def path(name: String) = graft.IndexStore.storePath(root, corpusDir, name)

    // ids a previous COMPLETED purge already absorbed (request-bounded)
    val tombstoned: Set[Long] =
      if (!graft.IndexStore.committed(s, path(PurgeTombstoneStoreName))) Set.empty
      else graft.IndexStore.read(s, path(PurgeTombstoneStoreName))
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val fresh = ids.filterNot(tombstoned)
    if (fresh.isEmpty) return Map.empty

    val decDocs = docsOpt.getOrElse(graft.Tables.load(s, corpusDir, "documents"))
      .filter(col("doc_id").isin(fresh: _*))
      .select(col("doc_id"), col("text"), col("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val (nDec, digDec) = countAndDigest(decDocs)
      val decIds: Set[Long] =
        decDocs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      // requested, not yet absorbed, content unknown — were any actually
      // ingested? The doc-keyed tf store is the witness (it and the
      // additive models ride the same stream).
      val unknown = fresh.filterNot(decIds)
      val tfCommitted = graft.IndexStore.committed(s, path(TfStoreName))
      val unknownIngested = unknown.nonEmpty && tfCommitted &&
        !graft.IndexStore.read(s, path(TfStoreName))
          .filter(col("doc_id").isin(unknown: _*)).isEmpty

      // --- additive model tier: exact negated-increment decrement, or
      //     the staleness trip when exactness is impossible ---
      def modelLeg(st: DocStore): Unit = {
        val name = st.name
        if (!graft.IndexStore.committed(s, path(name))) return
        val meta = graft.IndexStore.readMeta(s, path(name))
        val m = meta.getOrElse(Map.empty)
        if (m.get(LastPurgeReqKey).contains(req)) { results += name -> 0L; return }
        if (unknownIngested) {
          graft.IndexStore.writeMeta(s, path(name),
            m + (ModelStaleKey -> "purge") + (LastPurgeReqKey -> req))
          results += name -> 0L
          return
        }
        if (nDec == 0) { results += name -> 0L; return }
        requireGeometry(st, path(name), meta)
        val decCount = m.get(graft.IndexStore.CorpusCountKey)
          .flatMap(_.toLongOption)
          .map(c => Map(graft.IndexStore.CorpusCountKey ->
            math.max(0L, c - nDec).toString)).getOrElse(Map.empty)
        val decDigest = m.get(graft.IndexStore.CorpusHashKey)
          .flatMap(_.toLongOption)
          .map(h => Map(graft.IndexStore.CorpusHashKey -> (h ^ digDec).toString))
          .getOrElse(Map.empty)
        graft.IndexStore.append(s, corpusDir, name, st.additive.get.negated(st.rows(decDocs)),
          extraMeta = decCount ++ decDigest ++ Map(LastPurgeReqKey -> req))
        results += name -> nDec
      }
      DocStores.filter(_.additive.isDefined).foreach(modelLeg)

      // --- doc-keyed text tier: staged-rewrite row purges. The document
      //     count decrements by the known purged docs plus the witnessed
      //     unknown ones (distinct present — the best available bound for
      //     ids whose content is gone); the XOR digest un-advances only
      //     when the decrement is exact, else purgeKeys drops it. ---
      def textLeg(name: String, keyCol: String, trackDocs: Boolean): Unit = {
        if (!graft.IndexStore.committed(s, path(name))) return
        val meta = graft.IndexStore.readMeta(s, path(name)).getOrElse(Map.empty)
        if (meta.get(LastPurgeReqKey).contains(req)) { results += name -> 0L; return }
        val decCount =
          if (!trackDocs) -1L
          else {
            val unknownPresent =
              if (unknown.isEmpty) 0L
              else graft.IndexStore.read(s, path(name))
                .filter(col(keyCol).isin(unknown: _*))
                .select(col(keyCol)).distinct().count()
            nDec + unknownPresent
          }
        val digMeta =
          if (!trackDocs || unknownIngested) Map.empty[String, String]
          else meta.get(graft.IndexStore.CorpusHashKey).flatMap(_.toLongOption)
            .map(h => Map(graft.IndexStore.CorpusHashKey -> (h ^ digDec).toString))
            .getOrElse(Map.empty)
        results += name -> graft.IndexStore.purgeKeys(s, corpusDir, name,
          keyCol, ids, countDecrement = decCount,
          extraMeta = digMeta ++ Map(LastPurgeReqKey -> req))
      }
      textLeg(TfStoreName, "doc_id", trackDocs = true)
      textLeg(graft.operators.TextAnalysis.ShingleStoreName, "doc_id", trackDocs = true)
      textLeg(AnchorStoreName, "doc_id", trackDocs = true)
      textLeg(ChunkStoreName, "doc_id", trackDocs = false)

      // --- embedding tier (idempotent by row absence) + media leg ---
      results ++= purgeEmbeddingTier(s, corpusDir, ids)

      // --- absorb the request: tombstones land LAST, so their presence
      //     proves every leg above completed ---
      import s.implicits._
      val tombRows = fresh.toDF("doc_id")
      if (graft.IndexStore.committed(s, path(PurgeTombstoneStoreName)))
        graft.IndexStore.append(s, corpusDir, PurgeTombstoneStoreName, tombRows)
      else
        graft.IndexStore.servedFrom(s, corpusDir, PurgeTombstoneStoreName)(tombRows)
      results.toMap
    } finally decDocs.unpersist()
  }

  /** The maintained inverted file as a queryable frame — the gateway's
    * `ivf_assignments` view ("which cell does vector v live in / how big
    * is cell c"): `(vec_id, cid, idot)` from the durable assignment store
    * when one is configured and bootstrapped, otherwise computed
    * in-session under the shared q53/q68 model (same assignment rule, so
    * the two provenances agree row-for-row on the same corpus). The raw
    * embedding columns stay OUT of the view: the gateway is an
    * interactive surface and cell membership/occupancy is the analyst
    * question; vectors are served by the ANN operators.
    */
  def ivfAssignmentsView(s: SparkSession, corpusDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.IndexStore.committedPath(s, corpusDir, IvfAssignStoreName) match {
      case Some(path) =>
        graft.IndexStore.read(s, path).select(col("vec_id"), col("cid"), col("idot"))
      case None =>
        val e = graft.Tables.load(s, corpusDir, "embeddings")
        val eqf = graft.operators.Ivf.quantize(e)
        val model = graft.operators.Similarity.ivfModel(s, corpusDir, eqf)
        graft.operators.Ivf.ranked(eqf,
            graft.operators.Ivf.centsDF(s, model.cents))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("cid"), col("idot"))
    }
  }

  /** The substring-dedup anchor stream as a queryable frame — the
    * gateway's `anchor_index` view ("which positional K-grams does doc d
    * contribute / how duplicated is gram s"): `(doc_id, i, s)` from the
    * durable anchor store when one is configured and bootstrapped,
    * otherwise computed in-session from the corpus (the same
    * [[graft.operators.Fuzzy.anchorRows]] the maintainer appends with, so
    * the two provenances agree row-for-row on the same corpus).
    */
  def anchorIndexView(s: SparkSession, corpusDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.IndexStore.committedPath(s, corpusDir, AnchorStoreName) match {
      case Some(path) =>
        graft.IndexStore.read(s, path).select(col("doc_id"), col("i"), col("s"))
      case None =>
        graft.operators.Fuzzy.anchorRows(
          graft.Tables.load(s, corpusDir, "documents"))
    }
  }

  private val driftViewSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("family", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("fit_n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("inc_n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("store_rows", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("fit_idot_sum", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("inc_idot_sum", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("tracked_inc_n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("hot_cell", org.apache.spark.sql.types.IntegerType, nullable = true),
    org.apache.spark.sql.types.StructField("hot_cell_count", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("growth_pending", org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("drift_pending", org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("skew_pending", org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("last_refit_trigger", org.apache.spark.sql.types.StringType, nullable = true)))

  /** The drift ledger as a queryable 1-row frame — the gateway's
    * `ivf_drift` view ("how stale is the ANN index / is a refit
    * pending / why did it last refit"). Decoded through the SAME
    * [[driftSnapshot]] the maintainer's triggers run on, so what the
    * analyst reads IS the policy. Schema-stable empty when no store is
    * configured, the store is un-bootstrapped, or its sidecar predates
    * the drift statistic.
    */
  def ivfDriftView(s: SparkSession, corpusDir: String): DataFrame = {
    // One row per COMMITTED index family (like [[pqDriftView]]): the
    // image-side (_xm) store's growth/drift/skew ledger is maintained by
    // the same triggers and must be just as queryable.
    val rows = for {
      family <- IndexFamilies.keys.toSeq
      meta <- graft.IndexStore.storedMeta(s, corpusDir, IvfAssignStoreName + family).toSeq
      sn <- driftSnapshot(meta).toSeq
    } yield org.apache.spark.sql.Row(family, sn.fitN, sn.incN, sn.rows, sn.k,
      new java.math.BigDecimal(sn.fitSum.bigInteger),
      new java.math.BigDecimal(sn.incSum.bigInteger),
      sn.trackedIncN,
      sn.hotCell.map(c => Int.box(c._1)).orNull,
      sn.hotCell.map(_._2).getOrElse(0L),
      sn.growth, sn.drift, sn.skew,
      sn.lastTrigger.orNull)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), driftViewSchema)
  }

  private val pqDriftViewSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("family", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("fit_res_n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("inc_res_n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("res_mod", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("fit_res_sum", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("inc_res_sum", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("residual_pending", org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("last_refit_trigger", org.apache.spark.sql.types.StringType, nullable = true)))

  /** The PQ residual ledger as a queryable 1-row frame — the gateway's
    * `pq_drift` view ("how stale are the ADC codebooks / is a refit
    * pending / did one fire"), decoded through the SAME
    * [[pqDriftSnapshot]] the trigger runs on. Schema-stable empty when no
    * store is configured/bootstrapped or the sidecar predates the PQ
    * statistic.
    */
  def pqDriftView(s: SparkSession, corpusDir: String): DataFrame = {
    // One row per COMMITTED index family — the image-side (_xm) codebooks
    // are maintained by the same applyIvfBatch/maybeRefitPq stack, so
    // their residual ledger must be just as visible to operators as the
    // text-side one ("a ledger the trigger can never disagree with" has
    // to hold for every family the trigger runs on).
    val rows = for {
      family <- IndexFamilies.keys.toSeq
      meta <- graft.IndexStore.storedMeta(s, corpusDir, IvfAssignStoreName + family).toSeq
      sn <- pqDriftSnapshot(meta).toSeq
    } yield org.apache.spark.sql.Row(family, sn.fitN, sn.incN, sn.mod,
      new java.math.BigDecimal(sn.fitSum.bigInteger),
      new java.math.BigDecimal(sn.incSum.bigInteger),
      sn.residual, sn.lastTrigger.orNull)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), pqDriftViewSchema)
  }

  private val bpeDriftViewSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fit_syms", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("fit_chars", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("inc_syms", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("inc_chars", org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0), nullable = false),
    org.apache.spark.sql.types.StructField("drift_pending", org.apache.spark.sql.types.BooleanType, nullable = false),
    org.apache.spark.sql.types.StructField("last_refit_trigger", org.apache.spark.sql.types.StringType, nullable = true)))

  /** The BPE compression ledger as a queryable 1-row frame — the
    * gateway's `bpe_drift` view ("how stale is the tokenizer / is a
    * refit pending / did one fire"), decoded through the SAME
    * [[bpeDriftSnapshot]] [[maybeRefitBpe]] triggers on. Schema-stable
    * empty when no store is configured/bootstrapped.
    */
  def bpeDriftView(s: SparkSession, corpusDir: String): DataFrame = {
    val rows = for {
      meta <- graft.IndexStore.storedMeta(s, corpusDir, BpeWordStoreName).toSeq
      sn <- bpeDriftSnapshot(meta).toSeq
    } yield Row(
      new java.math.BigDecimal(sn.fitSyms.bigInteger),
      new java.math.BigDecimal(sn.fitChars.bigInteger),
      new java.math.BigDecimal(sn.incSyms.bigInteger),
      new java.math.BigDecimal(sn.incChars.bigInteger),
      sn.compression, sn.lastTrigger.orNull)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), bpeDriftViewSchema)
  }

  /** Attach an IVF assignment maintainer to a `(vec_id, embedding, …)`
    * stream: each micro-batch lands its cell assignments behind the batch
    * marker, the drift statistic advances in the same sidecar write, and
    * a fired trigger refits centroids + reassigns in
    * place — so [[graft.operators.Similarity.ivfAnnFromStore]] (and the
    * batch q53/q68 paths, which share the durable model entry) serve an
    * index that followed the corpus all day.
    */
  def maintainIvfAssignments(embeddings: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "ivf_maintenance",
      family: String = ""): StreamingQuery =
    attach(embeddings, checkpoint, stream)(applyIvfBatch(_, corpusDir, stream, _, _, family))

  /** Bootstrap the durable media-fingerprint store from an existing image
    * frame (possibly empty) — decode + hash once per image, geometry and
    * corpus count recorded in the sidecar. Required before attaching
    * [[maintainMediaFpIndex]].
    */
  private[graft] def bootstrapMediaFpStore(s: SparkSession, corpusDir: String,
      images: Dataset[graft.multimodal.Multimodal.ImageRow]): Unit = {
    require(graft.IndexStore.configuredDir(s).isDefined,
      s"bootstrapMediaFpStore requires a configured index store (${graft.IndexStore.DirConf})")
    graft.operators.MultimodalOps.buildMediaFpIndex(s, corpusDir, images)
    ()
  }

  /** One micro-batch of the streaming media near-dup pipeline
    * ([[maintainMediaFpIndex]]).
    *
    * Same two-effect crash argument as [[decontaminateBatch]]: (1) the
    * batch's near-dup pairs against store ∪ batch land idempotently in
    * `pairsDir/batch_id=N` (a replay recomputes against the same store
    * state and overwrites byte-identical content), then (2) the batch's
    * fingerprints append behind the batch marker. The
    * DECODE runs once per batch — the checkpointed fingerprint frame
    * feeds both the probe and the append; the stored side is never
    * re-decoded (that is the point of the store).
    */
  private[graft] def mediaFpBatch(s: SparkSession, corpusDir: String,
      pairsDir: String, stream: String, batchId: Long,
      batch: Dataset[graft.multimodal.Multimodal.ImageRow]): Boolean = {
    import org.apache.spark.sql.functions.{col, min}
    val ops = graft.operators.MultimodalOps
    applyOnce(s, corpusDir, ops.MediaFpStoreName, stream, batchId) { marker =>
      val storePath = graft.IndexStore.requireCommitted(s, corpusDir,
        ops.MediaFpStoreName, "maintainMediaFpIndex")
      val batchFps = ops.imageFps(batch).localCheckpoint() // ONE decode per batch
      try {
        val minId = batchFps.agg(min(col("media_id"))).head().get(0) // bounded: 1 row
        if (minId != null) {
          val stored = graft.IndexStore.read(s, storePath).select("media_id", "fp")
          ops.bandedHammingNewPairs(stored, batchFps,
              ops.ImgBandDefs, ops.ImgHammingMax)
            .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
        }
        graft.IndexStore.append(s, corpusDir, ops.MediaFpStoreName, batchFps,
          batchFps.count(), marker)
      } finally graft.Materialize.free(batchFps)
    }
  }

  /** Streaming media near-dup end-to-end: q136's image near-dup as a
    * continuous pipeline over a `(media_id, payload, width, height)`
    * image stream. Each micro-batch decodes ONCE, emits the near-dup
    * pairs it introduces (vs the fingerprint store ∪ itself — the q74
    * new×corpus probe, media leg) into `pairsDir/batch_id=N`, and appends
    * its fingerprints to the durable store — so the union of all batch
    * outputs over an append-only id stream equals the batch q136 answer
    * on the same images (spec-pinned), and the store always holds one
    * decode-derived fingerprint per ingested image. Exactly-once across
    * crashes via the marker + per-batch-overwrite argument on
    * [[mediaFpBatch]].
    */
  def maintainMediaFpIndex(images: DataFrame, corpusDir: String,
      pairsDir: String, checkpoint: String,
      stream: String = "media_fp_maintenance"): StreamingQuery =
    attach(images, checkpoint, stream)((s, batchId, batch) =>
      mediaFpBatch(s, corpusDir, pairsDir, stream, batchId,
        batch.as(Encoders.product[graft.multimodal.Multimodal.ImageRow])))

  /** Attach an SRP-index maintainer to a `(vec_id, embedding)` stream. */
  def maintainSrpIndex(embeddings: DataFrame, corpusDir: String,
      checkpoint: String, stream: String = "srp_maintenance"): StreamingQuery =
    attach(embeddings, checkpoint, stream)(applyEmbeddingsBatch(_, corpusDir, stream, _, _))
}
