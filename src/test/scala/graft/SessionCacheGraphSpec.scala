package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity, TextAnalysis}
import graft.streaming.IndexMaintenance

/** The derived-artifact graph ([[SessionCache]]): which cache entries a
  * store write makes stale. Each row populates every operator cache with
  * a one-row frame (or an empty model) under two corpus dirs in one
  * session and under the first dir in a second session on the same store
  * root, writes one store, and re-gets every entry with a build that
  * records its name: exactly the declared readers of that store rebuild,
  * under that dir only, in both sessions.
  */
class SessionCacheGraphSpec extends SparkSpec {

  private val dirA = "/session/cache/graph/a"
  private val dirB = "/session/cache/graph/b"

  private val operatorCaches = Set(
    "qualityIndex", "shingleIndex", "verifiedPairs", "decontPairs", "postings",
    "components", "cleaned", "tfIndex", "tfidfWeight", "tfidfVector",
    "bm25Stats", "bm25Leg", "vecLeg", "srpIndex", "ivfModel", "xmIvfModel",
    "pqModel", "xmPqModel", "cellCand", "exactRef", "imageFp", "clipFp",
    "blockingKeys", "dupFlags", "bpeLearned", "gatewayAttrs", "tfSnapshot")

  private val shingleReaders = Set("shingleIndex", "verifiedPairs",
    "decontPairs", "postings", "components", "cleaned")
  private val srpReaders = Set("srpIndex", "ivfModel", "xmIvfModel",
    "pqModel", "xmPqModel", "cellCand")

  /** Touching each operator object constructs (and registers) its caches. */
  private def loadOperators(): Unit = {
    Seq(operators.TextAnalysis, operators.Dedup, operators.CorpusClean,
      operators.CorpusOps, operators.Similarity, operators.MultimodalOps,
      operators.Fuzzy, operators.Bpe, SqlGateway, IndexMaintenance)
    ()
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Get every operator cache's entry for (`s`, `dir`) with a one-row
    * value; returns the names whose build ran.
    */
  private def getAll(s: SparkSession, dir: String): Set[String] = {
    loadOperators()
    val frame = s.range(1).toDF("id")
    val model = Ivf.Model(IndexedSeq.empty, iters = 0, converged = true)
    val built = Set.newBuilder[String]
    SessionCache.registered.filter(c => operatorCaches(c.name)).foreach { c =>
      def value: Any = {
        built += c.name
        c.name match {
          case "ivfModel" | "xmIvfModel" => model
          case "pqModel" | "xmPqModel" => Seq(model)
          case "bm25Stats" => (frame, frame, frame, frame)
          case "bpeLearned" => (Seq.empty, frame)
          case "tfSnapshot" => IndexMaintenance.TfSnapshot(frame, frame, 0L, 0L)
          case _ => frame
        }
      }
      c.asInstanceOf[SessionCache[Any]].getOrElseUpdate(s, dir)(value)
    }
    built.result()
  }

  private def live(s: SparkSession, dir: String): Set[String] =
    SessionCache.live(s).collect { case (name, `dir`) if operatorCaches(name) => name }

  private def docRows(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, Seq(7L)), (2L, Seq(8L))).toDF("doc_id", "ss")
  }

  private def idRows(s: SparkSession, key: String): DataFrame =
    s.range(1, 3).toDF(key)

  /** Run `change` against populated caches; return what rebuilds on the
    * next get under (session, dirA), after checking that nothing under
    * dirB rebuilds, that a second session on the same store root rebuilds
    * the same set, and that a rebuilt entry is fresh again.
    */
  private def dropped(prepare: SparkSession => Unit)(change: SparkSession => Unit): Set[String] = {
    val root = tmp("graft_cache_graph")
    val Seq(s, other) = Seq.fill(2) {
      val x = spark.newSession()
      x.conf.set(IndexStore.DirConf, root)
      x
    }
    prepare(s)
    assert(getAll(s, dirA) == operatorCaches)
    getAll(s, dirB)
    getAll(other, dirA)
    assert(live(s, dirA) == operatorCaches)
    change(s)
    assert(getAll(s, dirB).isEmpty, "entries under a second dir must stay fresh")
    val rebuilt = getAll(s, dirA)
    assert(getAll(other, dirA) == rebuilt, "another session must rebuild the same set")
    assert(getAll(s, dirA).isEmpty, "a rebuilt entry must be fresh")
    rebuilt
  }

  private def append(store: String, rows: SparkSession => DataFrame)(s: SparkSession): Unit =
    IndexStore.append(s, dirA, store, rows(s))

  private def purge(store: String, key: String)(s: SparkSession): Unit = {
    IndexStore.purgeKeys(s, dirA, store, key, Seq(1L))
    ()
  }

  /** A sidecar write: the smallest real change to a store's identity. */
  private def touch(store: String)(s: SparkSession): Unit =
    IndexStore.writeMeta(s, IndexStore.storePath(s.conf.get(IndexStore.DirConf), dirA, store),
      Map("touched" -> "1"))

  test("every operator cache is registered once and its declared upstream caches exist") {
    loadOperators()
    val names = SessionCache.registered.map(_.name).toSeq
    assert(operatorCaches.subsetOf(names.toSet), operatorCaches -- names)
    assert(names.distinct.size == names.size)
    SessionCache.registered.foreach { c =>
      assert(c.upstreamCaches.forall(u => SessionCache.registered.exists(_ eq u)),
        s"${c.name} reads an unregistered cache")
    }
  }

  test("shingle append drops the shingle index and the five frames derived from it") {
    assert(dropped(_ => ())(append(TextAnalysis.ShingleStoreName, docRows)) == shingleReaders)
  }

  test("shingle purge drops the same six frames as a shingle append") {
    val store = TextAnalysis.ShingleStoreName
    assert(dropped(append(store, docRows))(purge(store, "doc_id")) == shingleReaders)
  }

  test("SRP append drops the SRP frame, both IVF and both PQ families, and the cell candidates") {
    val store = Similarity.SrpStoreName
    assert(dropped(_ => ())(append(store, idRows(_, "vec_id"))) == srpReaders)
  }

  test("SRP purge drops the same set as an SRP append") {
    val store = Similarity.SrpStoreName
    assert(dropped(append(store, idRows(_, "vec_id")))(purge(store, "vec_id")) == srpReaders)
  }

  test("a text-family IVF model overwrite drops that model and the cell candidates cut from it") {
    assert(dropped(_ => ())(touch(Similarity.IvfModelStoreName)) ==
      Set("ivfModel", "cellCand"))
  }

  test("an image-side IVF model overwrite drops only the image-side model") {
    assert(dropped(_ => ())(touch(Similarity.XmIvfModelStoreName)) ==
      Set("xmIvfModel"))
  }

  test("a PQ codebook overwrite drops only that family's codebooks") {
    for ((tag, cache) <- Seq("" -> "pqModel", "_xm" -> "xmPqModel"); m <- 0 until Similarity.pqSubvectors)
      assert(dropped(_ => ())(touch(Similarity.pqModelStoreName(m, tag))) == Set(cache),
        s"pq_model_$m$tag")
  }

  test("media-fingerprint append and purge drop the image fingerprint frame") {
    val store = operators.MultimodalOps.MediaFpStoreName
    assert(dropped(_ => ())(append(store, idRows(_, "media_id"))) == Set("imageFp"))
    assert(dropped(append(store, idRows(_, "media_id")))(purge(store, "media_id")) == Set("imageFp"))
  }

  test("a tf-store append drops only the tf serving snapshot") {
    assert(dropped(_ => ())(append(IndexMaintenance.TfStoreName, docRows)) == Set("tfSnapshot"))
  }

  test("anchor, chunk, DSIR, LM, BPE and IVF-assignment store changes drop nothing") {
    val stores = Seq(IndexMaintenance.AnchorStoreName, IndexMaintenance.ChunkStoreName,
      IndexMaintenance.DsirStoreName, IndexMaintenance.LmStoreName,
      IndexMaintenance.BpeWordStoreName, IndexMaintenance.BpeModelStoreName,
      IndexMaintenance.IvfAssignStoreName, IndexMaintenance.IvfAssignStoreName + "_xm")
    for (store <- stores)
      assert(dropped(_ => ())(touch(store)).isEmpty, store)
  }

  test("a build that loses a first-access race frees its checkpoint blocks; the winner's stay") {
    val s = spark.newSession()
    val dir = "/session/cache/graph/race"
    val started = new CountDownLatch(2)
    val built = new ConcurrentLinkedQueue[DataFrame]()
    def build(): DataFrame = {
      val df = s.range(50).toDF("id").localCheckpoint()
      built.add(df)
      started.countDown()
      assert(started.await(60, TimeUnit.SECONDS), "the second build never started")
      df
    }
    val pool = Executors.newFixedThreadPool(2)
    val results =
      try Seq.fill(2)(pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = operators.CorpusClean.cleanedCache.getOrElseUpdate(s, dir)(build())
        })).map(_.get(120, TimeUnit.SECONDS))
      finally pool.shutdown()
    val winner = results.head
    assert(results.forall(_ eq winner))
    def checkpointIds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
    val Seq(loser) = built.asScala.toSeq.filterNot(_ eq winner)
    val persistent = s.sparkContext.getPersistentRDDs.keySet
    assert(checkpointIds(winner).nonEmpty && checkpointIds(winner).subsetOf(persistent),
      "the winner's checkpoint blocks must stay")
    assert(checkpointIds(loser).nonEmpty && checkpointIds(loser).intersect(persistent).isEmpty,
      s"the loser's checkpoint blocks leaked: ${checkpointIds(loser)}")
    assert(winner.count() == 50)
  }

  test("an IVF drift refit drops the cached cell candidates: the next call cuts them from the new centroids") {
    val root = tmp("graft_cache_graph_refit")
    val s = spark.newSession()
    s.conf.set(IndexStore.DirConf, root)
    // 500 deterministic positive vectors as the corpus
    val e = s.range(500).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${Ivf.Dim - 1}), i -> " +
        "CAST(((id * 7919 + i * 104729) % 1000) / 1000.0 AS FLOAT))").as("embedding"))
    IndexMaintenance.bootstrapIvfAssignments(s, dirA, e, maintainPq = false)
    val eqf = Ivf.quantize(e)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs(Similarity.fixtureCellCandidates(s, dirA, eqf))
    // 50 zero vectors: over the drift trigger's arming floor, far under
    // the growth threshold — the maintainer refits in place
    val drifted = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 500).as("vec_id"),
        expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding"))
    assert(IndexMaintenance.applyIvfBatch(s, dirA, "cache_graph_spec", 0L, drifted))
    val modelPath = IndexStore.storePath(root, dirA, Similarity.IvfModelStoreName)
    assert(Ivf.load(s, modelPath).exists(_.n == 550), "the drift refit must overwrite the model")
    val after = pairs(Similarity.fixtureCellCandidates(s, dirA, eqf))
    // a fresh session builds its candidates off the refit store
    val fresh = spark.newSession()
    fresh.conf.set(IndexStore.DirConf, root)
    val expected = pairs(Similarity.fixtureCellCandidates(fresh, dirA, eqf))
    assert(expected != before, "the refit must move the candidate set for this check to bite")
    assert(after == expected, "cell candidates still cut from the pre-refit centroids")
  }

  test("compacting a store under a cached, unmaterialized frame: the next read serves the compacted store") {
    val s = spark.newSession()
    s.conf.set(IndexStore.DirConf, tmp("graft_cache_graph_compact"))
    val corpus = tmp("graft_cache_graph_corpus")
    s.range(200).select(col("id").as("doc_id"),
        concat_ws(" ", lit("doc"), (col("id") % 17).cast("string"), lit("shares"),
          (col("id") % 5).cast("string"), lit("words with others")).as("text"))
      .write.parquet(s"$corpus/documents.parquet")
    TextAnalysis.shingleIndex(s, corpus) // persisted, not yet materialized
    IndexStore.compact(s, corpus, TextAnalysis.ShingleStoreName, targetRowsPerFile = 64)
    assert(TextAnalysis.shingleIndex(s, corpus).count() == 200)
  }
}
