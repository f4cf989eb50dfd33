package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** One store read ([[IndexStore.read]]) and one torn-store check
  * ([[IndexStore.verifiedSnapshot]]), across sessions. Session `sA` holds
  * a materialized, persisted store frame ([[TextAnalysis.shingleIndex]]);
  * session `sB` writes the same store. Spark's cache matches a plain read
  * of a store to any persisted frame of it by root path, so a check that
  * counted a plain read would see `sA`'s rows instead of the files: it
  * would pass a store torn outside Spark and refuse a healthy one after a
  * rename swap. The shingle cases share one store ([[shingles]]) and run
  * in declaration order: torn, refused, rebuilt, purged, appended to. A
  * store-served model read of a torn additive store refuses too. The
  * last case is the source rule: no main source reads parquet outside
  * the files that own the store, fixture and staging reads, and no code
  * line of the store tier names the session caches.
  */
class StoreReadSpec extends SparkSpec {

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

  /** A 200-document corpus whose shingle store `sA` has served and
    * materialized; `sB` is a second session on the same store root.
    */
  private object shingles {
    val root = tmp("graft_store_read")
    val corpus = tmp("graft_store_read_corpus")
    val sA = session(root)
    val sB = session(root)
    docs(sA, 0L, 200L).write.parquet(s"$corpus/documents.parquet")
    assert(TextAnalysis.shingleIndex(sA, corpus).count() == 200L)
    val path = IndexStore.storePath(root, corpus, TextAnalysis.ShingleStoreName)
    val store = new File(path)
  }

  /** Every file under the store directory, by relative name, with its bytes. */
  private def storeBytes(): Map[String, Seq[Byte]] = {
    def walk(f: File, prefix: String): Seq[(String, Seq[Byte])] =
      f.listFiles().toSeq.flatMap { c =>
        if (c.isDirectory) walk(c, prefix + c.getName + "/")
        else Seq(prefix + c.getName -> Files.readAllBytes(c.toPath).toSeq)
      }
    walk(shingles.store, "").toMap
  }

  private def assertTorn(e: IndexStore.TornStoreException): Unit =
    assert(e.getMessage.contains("torn") && e.getMessage.contains("tore"), e.getMessage)

  test("a part file landed outside Spark: the other session's append refuses as torn") {
    val part = shingles.store.listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    Files.copy(part.toPath, new File(shingles.store, "part-torn-extra.parquet").toPath)
    val before = storeBytes()
    assertTorn(intercept[IndexStore.TornStoreException] {
      TextAnalysis.appendToShingleIndex(shingles.sB, shingles.corpus, docs(shingles.sB, 200L, 210L))
    })
    assert(storeBytes() == before, "a refused append must not touch the store")
  }

  test("on the torn store, compact and purgeKeys refuse: live store byte-identical, no staged sibling") {
    val before = storeBytes()
    assertTorn(intercept[IndexStore.TornStoreException] {
      IndexStore.compact(shingles.sB, shingles.corpus, TextAnalysis.ShingleStoreName)
    })
    assertTorn(intercept[IndexStore.TornStoreException] {
      IndexStore.purgeKeys(shingles.sB, shingles.corpus, TextAnalysis.ShingleStoreName,
        "doc_id", Seq(7L), countDecrement = 1L)
    })
    assert(storeBytes() == before, "a refused rewrite must leave the live store byte-identical")
    for (suffix <- Seq(".compacting", ".purging"))
      assert(!new File(shingles.path + suffix).exists(), s"a refused rewrite left a $suffix sibling")
  }

  test("a tracked load in the other session rebuilds the torn store to one row per document") {
    val corpusDocs = Tables.load(shingles.sB, shingles.corpus, "documents")
    val served = TextAnalysis.buildShingleIndex(shingles.sB, shingles.corpus, corpusDocs)
    assert(served.count() == 200L)
    assert(served.select("doc_id").distinct().count() == 200L)
    assert(IndexStore.verifiedRead(shingles.sB, shingles.path).count() == 200L)
  }

  test("after the other session purges a document, its next append passes the torn check") {
    val removed = IndexStore.purgeKeys(shingles.sB, shingles.corpus, TextAnalysis.ShingleStoreName,
      "doc_id", Seq(7L), countDecrement = 1L)
    assert(removed == 1L)
    TextAnalysis.appendToShingleIndex(shingles.sB, shingles.corpus, docs(shingles.sB, 200L, 210L))
    val (store, id) = IndexStore.verifiedSnapshot(shingles.sB, shingles.path)
    assert(id.sidecar.flatMap(_.get(IndexStore.StoreRowsKey)).contains("209"), id.sidecar)
    assert(store.filter(col("doc_id") === 7L).isEmpty)
    assert(store.select("doc_id").distinct().count() == 209L)
  }

  test("a part file landed outside Spark in the LM store: lmModelFromStore refuses as torn") {
    val root = tmp("graft_store_read_lm")
    val corpus = "/store/read/lm/corpus"
    val s = session(root)
    val corpusDocs = docs(s, 0L, 40L)
    streaming.IndexMaintenance.bootstrapLmStore(s, corpus, corpusDocs)
    streaming.IndexMaintenance.bootstrapTfStore(s, corpus, corpusDocs)
    assert(streaming.IndexMaintenance.lmModelFromStore(s, corpus).count() > 0)
    val store = new File(IndexStore.storePath(root, corpus, streaming.IndexMaintenance.LmStoreName))
    val part = store.listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    Files.copy(part.toPath, new File(store, "part-torn-extra.parquet").toPath)
    assertTorn(intercept[IndexStore.TornStoreException] {
      streaming.IndexMaintenance.lmModelFromStore(s, corpus)
    })
  }

  /** A reader chain (`.read` or `.readStream`, then any calls) that ends
    * in `.parquet(` or names the parquet format. Arguments may nest one
    * level of parentheses.
    */
  private val parquetRead = {
    val args = """\((?:[^()]|\([^()]*\))*\)"""
    ("""\.read(?:Stream)?\b(?:\s*\.\s*\w+\s*""" + args +
      """)*\s*\.\s*(?:parquet\s*\(|format\s*\(\s*"parquet"\s*\))""").r
  }

  /** The files that own the parquet reads: the index store, the fixture
    * tables and the batcher's staging directory.
    */
  private val readers = Set("IndexStore.scala", "Tables.scala", "CountOrTimeBatcher.scala")

  private def sources(dir: File): Seq[File] = dir.listFiles().toSeq.flatMap { f =>
    if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
  }

  /** The source with comment-only lines blanked (scaladoc may name a
    * read); line numbers are kept.
    */
  private def code(f: File): String =
    new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n", -1).map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) "" else l
    }.mkString("\n")

  test("source rule: no main source reads parquet outside the store, fixture and staging readers") {
    for (hit <- Seq("s.read.parquet(p)", "s.read.format(\"parquet\").load(p)",
        "s.readStream.schema(t).parquet(d)",
        "s.read.option(\"k\", java.util.UUID.randomUUID().toString)\n  .parquet(p)"))
      assert(parquetRead.findFirstIn(hit).isDefined, hit)
    for (miss <- Seq("df.write.mode(\"overwrite\").parquet(p)", "s.read.json(p).write.parquet(q)",
        "graft.IndexStore.read(s, p).select(c)", "IndexStore.readMeta(s, p)"))
      assert(parquetRead.findFirstIn(miss).isEmpty, miss)

    val all = sources(new File("src/main/scala"))
    val byName = all.groupBy(_.getName)
    for (r <- readers)
      assert(byName.get(r).exists(_.exists(f => parquetRead.findFirstIn(code(f)).isDefined)),
        s"$r should hold a parquet read; the rule names a file that no longer reads")
    val offenders = all.filterNot(f => readers(f.getName)).flatMap { f =>
      val src = code(f)
      parquetRead.findAllMatchIn(src).map { m =>
        s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched.replaceAll("\\s+", " ")}"
      }
    }
    assert(offenders.isEmpty,
      "read store entries through IndexStore.read, fixtures through Tables.load:\n" +
        offenders.mkString("\n"))

    // the store tier does not know the session caches: they check the
    // identities of the stores they read
    val storeTier = byName("IndexStore.scala").map(code).mkString("\n")
    assert(!storeTier.contains("SessionCache"), "IndexStore.scala names SessionCache")
  }
}
