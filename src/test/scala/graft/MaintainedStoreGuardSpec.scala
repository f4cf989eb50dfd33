package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.streaming.IndexMaintenance

/** The maintained-store protocol's shared guards, checked once per
  * batch-apply entry point that has a bootstrap precondition: an
  * un-bootstrapped store refuses before writing anything, a session with
  * no store root refuses, and a batch id at or below the recorded marker
  * is skipped. Every store that declares geometry refuses a sidecar
  * recording other geometry on both its append and its serve. A handful
  * of rows per case; no bootstrap builds — the replay and geometry cases
  * stand up a committed store holding only a sidecar.
  */
class MaintainedStoreGuardSpec extends SparkSpec {

  private val corpus = "/maintained/store/guard/corpus"
  private val stream = "guard_spec"

  /** An entry point: the store its marker lives on, and one batch call. */
  private final case class Entry(name: String, store: String,
      apply: (SparkSession, String, Long) => Boolean)

  private def docs(s: SparkSession) = {
    import s.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta", "en"),
      (2L, "iota kappa lambda mu nu xi omicron pi", "de"))
      .toDF("doc_id", "text", "lang")
  }

  private def embeddings(s: SparkSession) = {
    import s.implicits._
    Seq((1L, Seq.tabulate(operators.Ivf.Dim)(i => (i % 7) / 7.0)))
      .toDF("vec_id", "embedding")
  }

  private def images(s: SparkSession) = {
    import s.implicits._
    Seq(multimodal.Multimodal.ImageRow(1L, Array[Byte](1, 2, 3, 4), 2, 2)).toDS()
  }

  private val entries = Seq(
    Entry("tf", IndexMaintenance.TfStoreName, (s, _, id) =>
      IndexMaintenance.applyTfBatch(s, corpus, stream, id, docs(s))),
    Entry("anchor", IndexMaintenance.AnchorStoreName, (s, _, id) =>
      IndexMaintenance.applyAnchorBatch(s, corpus, stream, id, docs(s))),
    Entry("DSIR", IndexMaintenance.DsirStoreName, (s, _, id) =>
      IndexMaintenance.applyDsirBatch(s, corpus, stream, id, docs(s))),
    Entry("LM", IndexMaintenance.LmStoreName, (s, _, id) =>
      IndexMaintenance.applyLmBatch(s, corpus, stream, id, docs(s))),
    Entry("BPE", IndexMaintenance.BpeWordStoreName, (s, _, id) =>
      IndexMaintenance.applyBpeBatch(s, corpus, stream, id, docs(s))),
    Entry("IVF", IndexMaintenance.IvfAssignStoreName, (s, _, id) =>
      IndexMaintenance.applyIvfBatch(s, corpus, stream, id, embeddings(s))),
    Entry("chunk", IndexMaintenance.ChunkStoreName, (s, out, id) =>
      IndexMaintenance.chunkDedupBatch(s, corpus, out, stream, id, docs(s))),
    Entry("decontaminate", operators.TextAnalysis.ShingleStoreName, (s, out, id) =>
      IndexMaintenance.decontaminateBatch(s, corpus, out, stream, id, docs(s))),
    Entry("media", operators.MultimodalOps.MediaFpStoreName, (s, out, id) =>
      IndexMaintenance.mediaFpBatch(s, corpus, out, stream, id, images(s))))

  private def tempDir(tag: String): File =
    Files.createTempDirectory(s"graft_guard_$tag").toFile

  private def files(root: File): Seq[String] =
    if (!root.exists()) Nil
    else Files.walk(root.toPath).toArray.toSeq.map(_.toString)
      .filterNot(_ == root.toPath.toString).sorted

  private def session(root: Option[File]): SparkSession = {
    val s = spark.newSession()
    root match {
      case Some(r) => s.conf.set(IndexStore.DirConf, r.getAbsolutePath)
      case None => s.conf.unset(IndexStore.DirConf)
    }
    s
  }

  for (e <- entries) {
    test(s"${e.name}: an un-bootstrapped store refuses with IllegalArgumentException and writes nothing") {
      val root = tempDir("root")
      val out = tempDir("out")
      intercept[IllegalArgumentException](
        e.apply(session(Some(root)), out.getAbsolutePath + "/batches", 0L))
      assert(files(root).isEmpty, s"store root gained ${files(root)}")
      assert(files(out).isEmpty, s"batch output gained ${files(out)}")
    }

    test(s"${e.name}: a session with no store root refuses with IllegalStateException") {
      val out = tempDir("out")
      intercept[IllegalStateException](
        e.apply(session(None), out.getAbsolutePath + "/batches", 0L))
      assert(files(out).isEmpty, s"batch output gained ${files(out)}")
    }

    test(s"${e.name}: a batch id at or below the recorded marker is skipped") {
      val root = tempDir("root")
      val out = tempDir("out")
      val s = session(Some(root))
      val path = IndexStore.storePath(root.getAbsolutePath, corpus, e.store)
      s.range(0).write.parquet(path)
      IndexStore.writeMeta(s, path, Map(IndexMaintenance.markerKey(stream) -> "5"))
      val before = files(root)
      for (id <- Seq(5L, 3L, 0L))
        assert(!e.apply(s, out.getAbsolutePath + "/batches", id), s"batch $id applied")
      assert(files(root) == before, "a skipped batch must not touch the store")
      assert(files(out).isEmpty, s"batch output gained ${files(out)}")
    }
  }

  /** A store that declares geometry: a sidecar recording other geometry,
    * its batch apply, and its serve.
    */
  private final case class Geometry(name: String, store: String, other: Map[String, String],
      apply: (SparkSession, Long) => Boolean, serve: SparkSession => Any)

  private val geometries = Seq(
    Geometry("anchor", IndexMaintenance.AnchorStoreName,
      Map("k" -> (operators.Fuzzy.SubstringK - 1).toString, "hash" -> "md5-60"),
      (s, id) => IndexMaintenance.applyAnchorBatch(s, corpus, stream, id, docs(s)),
      s => operators.Fuzzy.substringDedupFromStore(s, corpus, docs(s))),
    Geometry("DSIR", IndexMaintenance.DsirStoreName,
      Map("buckets" -> (operators.CorpusOps.DsirBuckets * 2).toString,
        "targetLang" -> operators.CorpusOps.DsirTargetLang),
      (s, id) => IndexMaintenance.applyDsirBatch(s, corpus, stream, id, docs(s)),
      s => IndexMaintenance.dsirWeightsFromStore(s, corpus)))

  for (g <- geometries)
    test(s"${g.name}: a sidecar recording other geometry refuses the batch before writing and the serve, with geometry drift") {
      val root = tempDir("root")
      val s = session(Some(root))
      val path = IndexStore.storePath(root.getAbsolutePath, corpus, g.store)
      s.range(0).write.parquet(path)
      IndexStore.writeMeta(s, path, g.other)
      val before = files(root)
      for (refusal <- Seq(() => g.apply(s, 0L), () => g.serve(s))) {
        val e = intercept[IllegalStateException](refusal())
        assert(e.getMessage.contains("geometry drift"), e.getMessage)
      }
      assert(files(root) == before, "a refused batch must not touch the store")
    }
}
