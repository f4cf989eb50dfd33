package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.IndexMaintenance

/** The store-served retrieval family behind the `/search` gateway route:
  * BM25, RM3 expansion, and the MaxSim rerank served off the DURABLE tf
  * store ([[streaming.IndexMaintenance.searchFromStore]] /
  * [[streaming.IndexMaintenance.maxSimFromStore]]) must equal the batch
  * operators over the same corpus — across appends, a crash replay, and
  * takedown purges (a purged doc neither serves as a query nor appears
  * in any result). Each test uses a fresh session + store root, the
  * IndexStoreSpec discipline, except the tf-snapshot cases, which share
  * one store and run in order ([[snap]]).
  */
class RetrievalServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def freshStore(prefix: String): SparkSession = session(tmp(prefix))

  private def session(root: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(IndexStore.DirConf, root)
    s
  }

  private def searchKey(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(r.fieldIndex("q_id")), r.getInt(r.fieldIndex("rk")),
      r.getLong(r.fieldIndex("doc_id")))).toSeq

  test("maxSimFromStore equals batch q160 across streamed appends and a crash replay") {
    val sA = freshStore("graft_rsv_maxsim")
    val docs = Tables.load(sA, dir, "documents")
    val t = docs.selectExpr("(max(doc_id) * 6) div 10 AS t").collect()(0).getLong(0)
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir,
      docs.filter(col("doc_id") < t))
    // two appended increments with an exactly-once replay probe between
    val inc = docs.filter(col("doc_id") >= t).select("doc_id", "text")
    val mid = docs.selectExpr("(max(doc_id) * 8) div 10 AS m").collect()(0).getLong(0)
    assert(streaming.IndexMaintenance.applyTfBatch(sA, dir, "rsv_ms", 0L,
      inc.filter(col("doc_id") < mid)))
    assert(!streaming.IndexMaintenance.applyTfBatch(sA, dir, "rsv_ms", 0L,
      inc.filter(col("doc_id") < mid)), "replayed batch id must be skipped")
    assert(streaming.IndexMaintenance.applyTfBatch(sA, dir, "rsv_ms", 1L,
      inc.filter(col("doc_id") >= mid)))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val served = key(streaming.IndexMaintenance.maxSimFromStore(sA, dir))
    val batch = key(operators.CorpusOps.maxSimTopK(sA, dir))
    assert(served.nonEmpty && served == batch,
      "store-served MaxSim must equal the batch q160 operator")
  }

  test("searchFromStore more-like-this equals the batch BM25 slice; expand=rm3 equals q163") {
    val sA = freshStore("graft_rsv_search")
    val docs = Tables.load(sA, dir, "documents")
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir, docs)
    // plain BM25, one query doc: the served rows are the batch q130 rank
    // list restricted to that q_id (same bag pruning, same integer
    // scores — "score" is q130's bm25_micro)
    val served = streaming.IndexMaintenance.searchFromStore(sA, dir, docId = Some(3L))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = operators.CorpusOps.bm25TopK(sA, dir)
      .filter(col("q_id") === 3L)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(4))).toSeq
    assert(served.nonEmpty && served == batch,
      "served more-like-this must equal the batch q130 slice")
    // RM3 expansion: equals the batch q163 slice for the same query
    val servedX = streaming.IndexMaintenance.searchFromStore(sA, dir,
        docId = Some(3L), expand = true)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val batchX = SparkEntry.queries("q163_prf_expansion")(sA, dir)
      .filter(col("q_id") === 3L)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(4))).toSeq
    assert(servedX.nonEmpty && servedX == batchX,
      "served expand=rm3 must equal the batch q163 slice")
    // a doc id the corpus never held answers 0 rows, not an error
    assert(streaming.IndexMaintenance.searchFromStore(sA, dir,
      docId = Some(999999L)).isEmpty)
  }

  test("searchFromStore term-bag query equals the bag scorer over batch tf; unknown terms drop") {
    val sA = freshStore("graft_rsv_terms")
    val docs = Tables.load(sA, dir, "documents")
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir, docs)
    // a real phrase from the corpus (doc 3's first three tokens)
    val phrase = docs.filter(col("doc_id") === 3L)
      .select(concat_ws(" ", slice(functions.TextFunctions.tokens(col("text")), 1, 3)))
      .collect()(0).getString(0)
    assert(phrase.split(" ").length == 3)
    val served = searchKey(streaming.IndexMaintenance.searchFromStore(sA, dir,
      qTerms = Seq(phrase)))
    assert(served.nonEmpty && served.forall(_._1 == -1L),
      "term queries carry the synthetic q_id = -1")
    // expected: the shared bag scorer over the BATCH tf rows with the
    // identically normalized distinct bag
    val tf = operators.CorpusOps.tfRows(docs)
    val (dfF, dl, tot) = operators.CorpusOps.tfStats(tf)
    val nT = sA.range(1).select(lit(docs.count()).cast("long").as("n"))
    import sA.implicits._
    val bag = Seq(phrase).toDF("raw")
      .select(explode(functions.TextFunctions.tokens(col("raw"))).as("term"))
      .distinct().join(dfF, "term")
      .select(lit(-1L).as("q_id"), col("term"), lit(1L).as("mw"), col("df"))
    val expect = searchKey(operators.CorpusOps.bm25OverBags(tf, nT, bag, dl, tot,
      operators.CorpusOps.Bm25K, "score"))
    assert(served == expect, "served term query must equal the batch bag scorer")
    // an all-unknown bag has no posting lists: 0 rows, not an error
    assert(streaming.IndexMaintenance.searchFromStore(sA, dir,
      qTerms = Seq("zzz_never_a_token qqq_nor_this")).isEmpty)
  }

  test("searchFromStore rerank=maxsim equals the library rerank over the BM25 candidates") {
    val sA = freshStore("graft_rsv_rerank")
    val docs = Tables.load(sA, dir, "documents")
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir, docs)
    val served = streaming.IndexMaintenance.searchFromStore(sA, dir,
        docId = Some(3L), rerank = Some("maxsim"))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // expected: the same two-stage computation over batch tf — BM25
    // candidates at MaxSimCand depth, MaxSim rerank over the same bag
    val tf = operators.CorpusOps.tfRows(docs)
    val (dfF, dl, tot) = operators.CorpusOps.tfStats(tf)
    val nT = sA.range(1).select(lit(docs.count()).cast("long").as("n"))
    val bag = operators.CorpusOps.rarestBags(tf.filter(col("doc_id") === 3L), dfF,
      operators.CorpusOps.Bm25QTerms)
    val cand = operators.CorpusOps.bm25OverBags(tf, nT, bag, dl, tot,
        operators.CorpusOps.MaxSimCand, "score")
      .select(col("q_id"), col("doc_id"))
    val expect = operators.CorpusOps.maxSimRerank(tf, dfF,
        bag.select(col("q_id"), col("term")), cand, operators.CorpusOps.Bm25K)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served.nonEmpty && served == expect,
      "served rerank=maxsim must equal the library two-stage computation")
  }

  test("searchFromStore: an unknown token moves neither rerank=maxsim nor expand=rm3") {
    val sA = freshStore("graft_rsv_unknown")
    val docs = Tables.load(sA, dir, "documents")
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir, docs)
    val phrase = docs.filter(col("doc_id") === 3L)
      .select(concat_ws(" ", slice(functions.TextFunctions.tokens(col("text")), 1, 3)))
      .collect()(0).getString(0)
    def rows(q: String, expand: Boolean, rerank: Option[String]) =
      streaming.IndexMaintenance.searchFromStore(sA, dir, qTerms = Seq(q),
          expand = expand, rerank = rerank)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    for ((expand, rerank) <- Seq((false, Some("maxsim")), (true, None))) {
      val plain = rows(phrase, expand, rerank)
      assert(plain.nonEmpty, s"expand=$expand rerank=$rerank")
      assert(rows(phrase + " zzz_never_a_token", expand, rerank) == plain,
        s"an unknown token must not move expand=$expand rerank=$rerank")
    }
  }

  test("takedown: a purged doc neither serves as a query nor appears in any retrieval result") {
    val sA = freshStore("graft_rsv_purge")
    val docs = Tables.load(sA, dir, "documents")
    streaming.IndexMaintenance.bootstrapTfStore(sA, dir, docs)
    val nDocs = docs.count()
    // purge the current top-1 answer of query doc 3 plus one more doc
    val top1 = streaming.IndexMaintenance.searchFromStore(sA, dir, docId = Some(3L))
      .collect().head.getLong(2)
    val victims = Seq(top1, nDocs - 1)
    IndexStore.purgeKeys(sA, dir, streaming.IndexMaintenance.TfStoreName,
      "doc_id", victims, countDecrement = victims.size)
    // as a query: empty, not an error
    assert(streaming.IndexMaintenance.searchFromStore(sA, dir,
      docId = Some(top1)).isEmpty, "a purged doc must not serve as a query")
    // as results: excluded from BM25, RM3, and MaxSim serves — and the
    // post-purge answers equal batch over the surviving corpus
    val surv = docs.filter(!col("doc_id").isin(victims: _*))
    val tf = operators.CorpusOps.tfRows(surv)
    val (dfF, dl, tot) = operators.CorpusOps.tfStats(tf)
    val nT = sA.range(1).select(lit(nDocs - victims.size).cast("long").as("n"))
    val served = streaming.IndexMaintenance.searchFromStore(sA, dir, docId = Some(3L))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served.nonEmpty && !served.exists(r => victims.contains(r._2)),
      "purged docs must not appear in served BM25 results")
    val bag = operators.CorpusOps.rarestBags(tf.filter(col("doc_id") === 3L), dfF,
      operators.CorpusOps.Bm25QTerms)
    val expect = operators.CorpusOps.bm25OverBags(tf, nT, bag, dl, tot,
        operators.CorpusOps.Bm25K, "score")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(4))).toSeq
    assert(served == expect,
      "post-purge served BM25 must equal batch over the surviving corpus")
    val ms = streaming.IndexMaintenance.maxSimFromStore(sA, dir)
      .collect().map(_.getLong(2)).toSet
    assert(ms.nonEmpty && ms.intersect(victims.toSet).isEmpty,
      "purged docs must not appear in served MaxSim results")
  }

  // ------------------------------------------------ tf serving snapshot --

  /** The call sites of the Spark jobs `body` runs on this thread (each
    * job's last stage is named after its call site). A marker job closes
    * the window: the listener bus delivers in order, so once the marker
    * arrives every job of `body` has too.
    */
  private def jobSites(s: SparkSession)(body: => Unit): Seq[String] = jobs(s)(body).map(_._1)

  /** [[jobSites]] with each job's description (`spark.job.description`). */
  private def jobs(s: SparkSession)(body: => Unit): Seq[(String, String)] = {
    val sc = s.sparkContext
    val group = "rsv-" + java.util.UUID.randomUUID()
    val sites = new ConcurrentLinkedQueue[(String, String)]()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "marker") marked.countDown()
          else sites.add((e.stageInfos.maxBy(_.stageId).name,
            e.properties.getProperty("spark.job.description")))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "rsv")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      sites.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** One tf store shared by the snapshot cases below, which run in
    * declaration order: bootstrapped with the first 400 of the 500
    * documents, then appended to, purged and compacted case by case.
    * `sA` serves; `sB` is a second session on the same store root.
    * `corpus` is what the store holds — NULL-text documents included.
    */
  private object snap {
    val root = tmp("graft_rsv_snapshot")
    val sA = session(root)
    val sB = session(root)
    val docs = Tables.load(sA, dir, "documents").select("doc_id", "text")
    var corpus: DataFrame = docs.filter(col("doc_id") < 400L)
    IndexMaintenance.bootstrapTfStore(sA, dir, corpus)
    val path = IndexStore.storePath(root, dir, IndexMaintenance.TfStoreName)
    // doc 3's first three tokens: a bag with postings across the corpus
    val phrase = docs.filter(col("doc_id") === 3L)
      .select(concat_ws(" ", slice(functions.TextFunctions.tokens(col("text")), 1, 3)))
      .collect()(0).getString(0)
  }

  private def served(s: SparkSession, terms: String = snap.phrase) =
    IndexMaintenance.searchFromStore(s, dir, qTerms = Seq(terms)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq

  /** The bag scorer over batch tf rows of `corpus`, N = its row count. */
  private def batch(corpus: DataFrame, terms: String = snap.phrase) = {
    val s = corpus.sparkSession
    val tf = operators.CorpusOps.tfRows(corpus)
    val (dfF, dl, tot) = operators.CorpusOps.tfStats(tf)
    val nT = s.range(1).select(lit(corpus.count()).cast("long").as("n"))
    import s.implicits._
    val bag = Seq(terms).toDF("raw")
      .select(explode(functions.TextFunctions.tokens(col("raw"))).as("term"))
      .filter(col("term") =!= "").distinct().join(dfF, "term")
      .select(lit(-1L).as("q_id"), col("term"), lit(1L).as("mw"), col("df"))
    operators.CorpusOps.bm25OverBags(tf, nT, bag, dl, tot, operators.CorpusOps.Bm25K, "score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(4))).toSeq
  }

  private def storeJobs(sites: Seq[String]) = sites.filter(_.contains("at IndexStore.scala"))

  test("verifiedRead counts the frame it returns: one schema-inference job per read") {
    val (sA, path) = (snap.sA, snap.path)
    val scans = IndexStore.fullStoreScans.get()
    val sites = jobSites(sA)(IndexStore.verifiedRead(sA, path))
    assert(storeJobs(sites).count(_.startsWith("parquet at ")) == 1, sites)
    assert(IndexStore.fullStoreScans.get() == scans + 1)
  }

  test("tf snapshot: a second search on an unchanged store runs no store scan and no store job") {
    val first = served(snap.sA)
    assert(first.nonEmpty && first == batch(snap.corpus))
    val scans = IndexStore.fullStoreScans.get()
    var second = Seq.empty[(Long, Int, Long, Long)]
    val sites = jobSites(snap.sA) { second = served(snap.sA) }
    assert(second == first)
    assert(IndexStore.fullStoreScans.get() == scans, "a cache hit must not count the store")
    assert(storeJobs(sites).isEmpty, sites)
  }

  test("tf snapshot: a warm term-bag search runs exactly 1 job, named score, none on the store") {
    val first = served(snap.sA)
    var again = Seq.empty[(Long, Int, Long, Long)]
    val js = jobs(snap.sA) { again = served(snap.sA) }
    assert(again == first && first.nonEmpty)
    // the caller's description stays the prefix of the step's job
    assert(js.map(_._2) == Seq("rsv: score"), js)
    assert(storeJobs(js.map(_._1)).isEmpty, js)
    assert(snap.sA.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("tf snapshot: a warm more-like-this search runs at most 2 jobs, named bag and score") {
    def mlt() = IndexMaintenance.searchFromStore(snap.sA, dir, docId = Some(3L)).collect().toSeq
    val first = mlt()
    var again = Seq.empty[org.apache.spark.sql.Row]
    val js = jobs(snap.sA) { again = mlt() }
    assert(again == first && first.nonEmpty)
    assert(js.size <= 2, js)
    assert(js.map(_._2).toSet == Set("rsv: bag", "rsv: score"), js)
    assert(storeJobs(js.map(_._1)).isEmpty, js)
  }

  test("tf snapshot: the postings carry each term's df, and a per-doc sum plans no exchange") {
    val t = IndexMaintenance.tfSnapshot(snap.sA, dir)
    assert(t.postings.columns.toSeq == Seq("doc_id", "term", "tf", "df", "dl"))
    val pairs = t.postings.select("term", "df").distinct()
    val df = t.df.select("term", "df")
    assert(pairs.count() == df.count() && pairs.exceptAll(df).isEmpty,
      "the postings' (term, df) pairs must equal the snapshot's df")
    // the plan above the cached scan, with the exchanges planning added
    val perDoc = t.postings.groupBy("doc_id").agg(sum("tf")).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(perDoc.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, perDoc)
  }

  test("tf snapshot: more-like-this equals batch rarestBags + bm25OverBags, ties in df included") {
    val sA = snap.sA
    val qt = 4
    val tf = operators.CorpusOps.tfRows(snap.corpus)
    val (dfF, dl, tot) = operators.CorpusOps.tfStats(tf)
    val nT = sA.range(1).select(lit(snap.corpus.count()).cast("long").as("n"))
    // docs whose qt-th and (qt+1)-th rarest terms share a df: the bag's
    // cut is decided by the term ASC tie-break
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("df").asc, col("term").asc)
    val ranked = tf.join(dfF, "term").withColumn("r", row_number().over(w))
    val tied = ranked.filter(col("r") === qt).select(col("doc_id"), col("df"))
      .join(ranked.filter(col("r") === qt + 1).select(col("doc_id"), col("df")),
        Seq("doc_id", "df"))
      .orderBy("doc_id").limit(3).collect().map(_.getLong(0)).toSeq
    assert(tied.nonEmpty, "the corpus must hold a doc with a df tie at the bag's cut")
    for (id <- 3L +: tied) {
      val got = IndexMaintenance.searchFromStore(sA, dir, docId = Some(id), qt = qt)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      val bag = operators.CorpusOps.rarestBags(tf.filter(col("doc_id") === id), dfF, qt)
      val want = operators.CorpusOps.bm25OverBags(tf, nT, bag, dl, tot,
          operators.CorpusOps.Bm25K, "score")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(4))).toSeq
      assert(got.nonEmpty && got == want, s"doc $id")
    }
  }

  test("tf snapshot: a bag of repeated, mixed-case tokens equals the batch bag scorer") {
    val words = snap.phrase.split(" ")
    val noisy = (words.map(_.toUpperCase) ++ words ++ words.take(1).map(_.capitalize))
      .mkString("  ")
    val got = served(snap.sA, noisy)
    assert(got.nonEmpty && got == batch(snap.corpus, noisy))
    assert(got == served(snap.sA), "case and repeats must not change the bag")
  }

  test("tf snapshot: an all-unknown bag answers 0 rows and runs at most one job") {
    served(snap.sA)
    var got = Seq.empty[(Long, Int, Long, Long)]
    val js = jobs(snap.sA) { got = served(snap.sA, "zzz_never_a_token QQQ_nor_this") }
    assert(got.isEmpty)
    // the bag is not resolved against df: its score job matches no postings
    assert(js.size <= 1, js)
  }

  test("tf snapshot: an append through a second session is served by both sessions' next search") {
    val before = served(snap.sA)
    val inc = snap.docs.filter(col("doc_id") >= 400L)
    assert(IndexMaintenance.applyTfBatch(snap.sB, dir, "rsv_snapshot", 0L, inc))
    snap.corpus = snap.corpus.unionByName(inc)
    val expect = batch(snap.corpus)
    assert(expect != before, "the append must move the answer for this check to bite")
    // sB builds its snapshot while sA still holds the pre-append one
    assert(served(snap.sB) == expect)
    assert(served(snap.sA) == expect)
  }

  test("tf snapshot: an append of NULL-text documents moves only N; the next search equals batch") {
    val before = served(snap.sA)
    val sB = snap.sB
    import sB.implicits._
    val nulls = Seq((500L, null: String), (501L, null: String)).toDF("doc_id", "text")
    assert(IndexMaintenance.applyTfBatch(sB, dir, "rsv_snapshot", 1L, nulls))
    snap.corpus = snap.corpus.unionByName(nulls)
    val expect = batch(snap.corpus)
    assert(expect != before, "N must move the scores for this check to bite")
    assert(served(snap.sA) == expect)
  }

  test("tf snapshot: after a purge the purged doc neither serves as a query nor appears in results") {
    val victim = served(snap.sA).head._3
    IndexStore.purgeKeys(snap.sA, dir, IndexMaintenance.TfStoreName, "doc_id", Seq(victim),
      countDecrement = 1L)
    snap.corpus = snap.corpus.filter(col("doc_id") =!= victim)
    val after = served(snap.sA)
    assert(after.nonEmpty && !after.exists(_._3 == victim))
    assert(after == batch(snap.corpus))
    assert(IndexMaintenance.searchFromStore(snap.sA, dir, docId = Some(victim)).isEmpty,
      "a purged doc must not serve as a query")
  }

  test("tf snapshot: a compaction is served from a rebuilt snapshot with the identical answer") {
    val before = served(snap.sA)
    IndexStore.compact(snap.sB, dir, IndexMaintenance.TfStoreName, targetRowsPerFile = 2000L)
    val scans = IndexStore.fullStoreScans.get()
    assert(served(snap.sA) == before)
    assert(IndexStore.fullStoreScans.get() == scans + 1, "the compacted store must be re-verified")
  }

  test("tf snapshot: after an append and a search only the new snapshot's frames stay persisted") {
    val sA = snap.sA
    val old = IndexMaintenance.tfSnapshot(sA, dir)
    def frames(t: IndexMaintenance.TfSnapshot) = Seq(t.postings, t.df)
    assert(frames(old).forall(_.storageLevel.useMemory))
    val persisted0 = sA.sparkContext.getPersistentRDDs.keySet
    import sA.implicits._
    val more = Seq((600L, snap.phrase + " appended")).toDF("doc_id", "text")
    assert(IndexMaintenance.applyTfBatch(sA, dir, "rsv_snapshot", 2L, more))
    snap.corpus = snap.corpus.unionByName(more)
    assert(served(sA) == batch(snap.corpus))
    val persisted1 = sA.sparkContext.getPersistentRDDs.keySet
    assert(frames(old).forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "the append must release the old snapshot")
    assert(frames(IndexMaintenance.tfSnapshot(sA, dir)).forall(_.storageLevel.useMemory))
    assert((persisted1 -- persisted0).size == 2, persisted1 -- persisted0)
  }

  test("tf snapshot: a torn store throws TornStoreException, caches nothing and persists nothing") {
    val sC = session(snap.root)
    val store = new java.io.File(snap.path)
    val part = store.listFiles().filter(_.getName.endsWith(".parquet")).head
    val extra = new java.io.File(store, "part-torn-extra.parquet")
    java.nio.file.Files.copy(part.toPath, extra.toPath)
    try {
      val persisted = sC.sparkContext.getPersistentRDDs.keySet
      intercept[IndexStore.TornStoreException](served(sC))
      assert(!SessionCache.live(sC).exists(_._1 == "tfSnapshot"))
      assert(sC.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
    } finally extra.delete()
    assert(served(sC) == batch(snap.corpus), "the healed store must serve again")
  }

  test("tf snapshot: a build that fails after persisting its frames releases them") {
    val sD = session(tmp("graft_rsv_snapshot_fail"))
    IndexMaintenance.bootstrapTfStore(sD, dir,
      Tables.load(sD, dir, "documents").filter(col("doc_id") < 100L))
    // garbage over a part file's first bytes: its footer (and so the
    // verification count) stays intact, reading its rows fails
    val store = new java.io.File(IndexStore.storePath(
      sD.conf.get(IndexStore.DirConf), dir, IndexMaintenance.TfStoreName))
    val part = store.listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val f = new java.io.RandomAccessFile(part, "rw")
    try { f.seek(4); f.write(Array.fill[Byte](64)(-1)) } finally f.close()
    val persisted = sD.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](served(sD))
    assert(!e.isInstanceOf[IndexStore.TornStoreException], e)
    assert(!SessionCache.live(sD).exists(_._1 == "tfSnapshot"))
    assert(sD.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted))
  }
}
