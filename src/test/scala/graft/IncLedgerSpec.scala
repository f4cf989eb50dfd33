package graft

import java.nio.file.Files

import graft.streaming.IndexMaintenance

/** The IVF/PQ Inc ledgers are one delta applied with either sign: an
  * append adds a batch's rows, and purging exactly that batch removes
  * them again. A 40-vector store and an 8-vector batch; no fixture corpus.
  */
class IncLedgerSpec extends SparkSpec {

  private val incKeys = Seq(IndexMaintenance.IvfIncNKey, IndexMaintenance.IvfIncIdotSumKey,
    IndexMaintenance.IvfIncCellCountsKey, IndexMaintenance.PqIncResNKey,
    IndexMaintenance.PqIncResSumKey)

  test("append one batch, purge exactly its ids: all five Inc-ledger keys return to their post-bootstrap bytes") {
    val root = Files.createTempDirectory("graft_inc_ledger").toFile.getAbsolutePath
    val corpus = "/inc/ledger/corpus"
    val s = spark.newSession()
    s.conf.set(IndexStore.DirConf, root)
    import s.implicits._
    // the batch repeats eight of the store's vectors under new ids, so it
    // lands on the fit distribution and trips no refit (which would zero
    // the ledgers instead of advancing them)
    val rnd = new scala.util.Random(7)
    val fit = (0L until 40L).map(id => (id, Seq.fill(operators.Ivf.Dim)(rnd.nextDouble() - 0.5)))
    val batch = fit.take(8).map { case (id, e) => (id + 40L, e) }
    IndexMaintenance.bootstrapIvfAssignments(s, corpus, fit.toDF("vec_id", "embedding"), k = 4)
    val path = IndexStore.storePath(root, corpus, IndexMaintenance.IvfAssignStoreName)
    def ledger = {
      val meta = IndexStore.readMeta(s, path).get
      incKeys.map(k => k -> meta.get(k))
    }
    val booted = ledger
    assert(booted.forall(_._2.isDefined), s"bootstrap must stamp every Inc key: $booted")

    assert(IndexMaintenance.applyIvfBatch(s, corpus, "ledger_spec", 0L,
      batch.toDF("vec_id", "embedding")))
    val meta = IndexStore.readMeta(s, path).get
    assert(!meta.contains(IndexMaintenance.IvfLastRefitTriggerKey) &&
      !meta.contains(IndexMaintenance.PqLastRefitTriggerKey), s"the batch tripped a refit: $meta")
    val appended = ledger.toMap
    assert(appended(IndexMaintenance.IvfIncNKey).contains("8") &&
      appended(IndexMaintenance.PqIncResNKey).contains("8"),
      s"the append must advance both ledgers: $appended")
    assert(booted.forall { case (k, v) => appended(k) != v },
      s"every Inc key must move on the append: $booted → $appended")

    val removed = IndexMaintenance.purgeEmbeddingTier(s, corpus, 40L until 48L)
    assert(removed(IndexMaintenance.IvfAssignStoreName) == 8L, removed.toString)
    assert(ledger == booted, "purging the appended batch must restore the post-bootstrap ledger")
  }
}
