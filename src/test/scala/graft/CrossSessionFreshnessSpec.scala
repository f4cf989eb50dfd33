package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{Dedup, Ivf, MultimodalOps, Similarity, TextAnalysis}
import graft.streaming.IndexMaintenance

/** One freshness rule across sessions ([[SessionCache]]): session `sA`
  * serves store-backed cache entries while session `sB`, on the same
  * store root, compacts, purges, appends to and overwrites the stores.
  * Every next get in `sA` serves the store as `sB` left it, and never
  * writes it: a get during `sB`'s unfinished append refuses, and a get
  * after a maintainer append that did not grow the corpus table serves
  * the append. A get on an unchanged store reuses its entry, and so does
  * the get after a build that wrote its own store. The cases share one
  * corpus and run in declaration order.
  */
class CrossSessionFreshnessSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def session(root: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(IndexStore.DirConf, root)
    s
  }

  private def docs(s: SparkSession, from: Long, until: Long): DataFrame =
    s.range(from, until).select(col("id").as("doc_id"),
      concat_ws(" ", lit("doc"), (col("id") % 17).cast("string"), lit("shares"),
        (col("id") % 5).cast("string"), lit("words with others")).as("text"))

  private def embeddings(s: SparkSession, from: Long, until: Long): DataFrame =
    s.range(from, until).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${Ivf.Dim - 1}), i -> " +
        "CAST(((id * 7919 + i * 104729) % 1000) / 1000.0 AS FLOAT))").as("embedding"))

  /** The shared corpus: 200 documents and 200 embeddings. */
  private object corpus {
    val root = tmp("graft_fresh_store")
    val dir = tmp("graft_fresh_corpus")
    val sA = session(root)
    val sB = session(root)
    docs(sA, 0L, 200L).write.parquet(s"$dir/documents.parquet")
    embeddings(sA, 0L, 200L).write.parquet(s"$dir/embeddings.parquet")
    val eqf = Ivf.quantize(embeddings(sA, 0L, 200L))
  }
  import corpus.{dir, sA, sB}

  /** `sB` grows the corpus table `name` by `rows`. */
  private def grow(name: String, rows: DataFrame): Unit =
    rows.write.mode("append").parquet(s"$dir/$name.parquet")

  private def storePath(name: String): String = IndexStore.storePath(corpus.root, dir, name)

  /** `sB` appends `rows` (for `added` corpus rows) to store `name` up to
    * the point where its data files have landed and its sidecar has not;
    * returns the sidecar write that finishes the append.
    */
  private def tornAppend(name: String, rows: DataFrame, added: Long): () => Unit = {
    val meta = IndexStore.readMeta(sB, storePath(name)).get
    def advanced(k: String, by: Long) = k -> (meta(k).toLong + by).toString
    val n = rows.count()
    rows.write.mode("append").parquet(storePath(name))
    () => IndexStore.writeMeta(sB, storePath(name), meta ++ Seq(
      advanced(IndexStore.StoreRowsKey, n), advanced(IndexStore.CorpusCountKey, added)))
  }

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(c).distinct().collect().map(_.getLong(0)).toSet

  /** The stage names of the Spark jobs `body` starts. */
  private def jobStages(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "fresh-" + java.util.UUID.randomUUID()
    val seen = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "marker") marked.countDown()
          else e.stageInfos.foreach(st => seen.add(st.name))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fresh")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      seen.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("another session compacts the shingle store under an unmaterialized frame: the next get counts 200") {
    TextAnalysis.shingleIndex(sA, dir) // persisted, not yet materialized
    IndexStore.compact(sB, dir, TextAnalysis.ShingleStoreName, targetRowsPerFile = 64)
    assert(TextAnalysis.shingleIndex(sA, dir).count() == 200L)
  }

  test("another session purges a document: the next shingleIndex no longer holds it") {
    assert(TextAnalysis.shingleIndex(sA, dir).filter(col("doc_id") === 7L).count() == 1L)
    assert(IndexStore.purgeKeys(sB, dir, TextAnalysis.ShingleStoreName, "doc_id", Seq(7L)) == 1L)
    val served = TextAnalysis.shingleIndex(sA, dir)
    assert(served.filter(col("doc_id") === 7L).isEmpty)
    assert(served.count() == 199L)
  }

  test("a cache that reads the shingle store only through another cache rebuilds after its append") {
    val before = Dedup.corpusPostings(sA, dir)
    def posted(post: DataFrame) = ids(post.select(explode(col("ds.doc_id")).as("doc_id")), "doc_id")
    assert(posted(before).forall(_ < 200L))
    val more = docs(sB, 200L, 210L)
    grow("documents", more)
    TextAnalysis.appendToShingleIndex(sB, dir, more)
    val after = Dedup.corpusPostings(sA, dir)
    assert(posted(after).filter(_ >= 200L) == (200L until 210L).toSet)
  }

  test("another session's media-fingerprint append is served by imageFpIndex") {
    val before = ids(MultimodalOps.imageFpIndex(sA, dir), "media_id")
    assert(ids(MultimodalOps.imageFpIndex(sA, dir), "media_id") == before)
    val more = docs(sB, 210L, 220L)
    grow("documents", more)
    val images = Multimodal.synthesizeImages(more)
    val added = ids(MultimodalOps.imageFps(images), "media_id")
    assert(added.nonEmpty && (added & before).isEmpty)
    IndexStore.append(sB, dir, MultimodalOps.MediaFpStoreName, MultimodalOps.imageFps(images),
      images.count())
    assert(ids(MultimodalOps.imageFpIndex(sA, dir), "media_id") == before ++ added)
  }

  test("another session's SRP append is served by srpIndex") {
    assert(ids(Similarity.srpIndex(sA, dir), "vec_id") == (0L until 200L).toSet)
    val more = embeddings(sB, 200L, 210L)
    grow("embeddings", more)
    Similarity.appendToSrpIndex(sB, dir, more)
    assert(ids(Similarity.srpIndex(sA, dir), "vec_id") == (0L until 210L).toSet)
  }

  test("a get between another session's append data and its sidecar refuses and writes nothing") {
    val stores = Seq(TextAnalysis.ShingleStoreName, Similarity.SrpStoreName)
    val before = TextAnalysis.shingleIndex(sA, dir).count()
    assert(Similarity.srpIndex(sA, dir).count() > 0L)
    val moreDocs = docs(sB, 220L, 230L)
    val moreVecs = embeddings(sB, 210L, 220L)
    grow("documents", moreDocs)
    grow("embeddings", moreVecs)
    val planes = IndexStore.readMeta(sB, storePath(Similarity.SrpStoreName)).get("planes").toInt
    val land = Seq(tornAppend(TextAnalysis.ShingleStoreName, TextAnalysis.docShingleSets(moreDocs), 10L),
      tornAppend(Similarity.SrpStoreName, Similarity.srpRows(moreVecs, planes), 10L))
    val torn = stores.map(n => IndexStore.storeIdentity(sA, storePath(n)))
    for (_ <- 1 to 2) { // a reload that refused is a reload again, never a first build
      intercept[IndexStore.TornStoreException](TextAnalysis.shingleIndex(sA, dir))
      intercept[IndexStore.TornStoreException](Similarity.srpIndex(sA, dir))
    }
    assert(stores.map(n => IndexStore.storeIdentity(sA, storePath(n))) == torn, "a reader wrote the store")
    land.foreach(_())
    assert(TextAnalysis.shingleIndex(sA, dir).count() == before + 10L)
    assert(ids(Similarity.srpIndex(sA, dir), "vec_id") == (0L until 220L).toSet)
  }

  test("a maintainer append that does not grow the corpus table is served, not rebuilt away") {
    val before = TextAnalysis.shingleIndex(sA, dir).count()
    val stream = "fresh_maintainer"
    assert(IndexMaintenance.applyDocsBatch(sB, dir, stream, 0L, docs(sB, 230L, 240L)))
    val committed = IndexStore.storeIdentity(sA, storePath(TextAnalysis.ShingleStoreName))
    val served = TextAnalysis.shingleIndex(sA, dir)
    assert(served.count() == before + 10L)
    assert(ids(served, "doc_id").count(_ >= 230L) == 10)
    assert(IndexStore.storeIdentity(sA, storePath(TextAnalysis.ShingleStoreName)) == committed,
      "a reader rebuilt the store")
    assert(committed.sidecar.flatMap(_.get(IndexMaintenance.markerKey(stream))).contains("0"))
  }

  test("another session's IVF model overwrite is served by ivfModel") {
    def served() = {
      val m = Similarity.ivfModel(sA, dir, corpus.eqf)
      (m.cents.map { case (c, q) => (c, q.toSeq) }, m.iters, m.n)
    }
    val fitted = Similarity.ivfModel(sA, dir, corpus.eqf)
    assert(served() == (fitted.cents.map { case (c, q) => (c, q.toSeq) }, fitted.iters, 200L))
    val path = IndexStore.storePath(corpus.root, dir, Similarity.IvfModelStoreName)
    Ivf.save(sB, path, fitted.copy(iters = fitted.iters + 100))
    assert(served()._2 == fitted.iters + 100)
  }

  test("a repeated get on unchanged stores reuses every entry: no IndexStore job, no store scan") {
    def getAll(): Seq[AnyRef] = Seq(TextAnalysis.shingleIndex(sA, dir), Dedup.corpusPostings(sA, dir),
      MultimodalOps.imageFpIndex(sA, dir), Similarity.srpIndex(sA, dir),
      Similarity.ivfModel(sA, dir, corpus.eqf))
    val settled = getAll()
    val scans = IndexStore.fullStoreScans.get()
    var again = Seq.empty[AnyRef]
    val stages = jobStages { again = getAll() }
    assert(again.zip(settled).forall { case (a, b) => a eq b })
    assert(!stages.exists(_.contains("IndexStore.scala")), stages)
    assert(IndexStore.fullStoreScans.get() == scans)
  }

  test("a build that writes its own store reuses its entry on the next get") {
    val sC = session(tmp("graft_fresh_store_c"))
    // postings first: its build runs the shingle store's first build
    def getAll(): Seq[AnyRef] = Seq(Dedup.corpusPostings(sC, dir), TextAnalysis.shingleIndex(sC, dir),
      Similarity.srpIndex(sC, dir), Similarity.ivfModel(sC, dir, corpus.eqf))
    val built = getAll()
    assert(Seq(TextAnalysis.ShingleStoreName, Similarity.SrpStoreName, Similarity.IvfModelStoreName)
      .forall(n => IndexStore.committedPath(sC, dir, n).isDefined))
    val scans = IndexStore.fullStoreScans.get()
    assert(getAll().zip(built).forall { case (a, b) => a eq b })
    assert(IndexStore.fullStoreScans.get() == scans)
  }
}
