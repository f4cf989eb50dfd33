package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lifecycle control for SINGLE-QUERY materializations (`localCheckpoint`
  * frames that feed several consumers inside one query but have no
  * cross-query reuse).
  *
  * Why this exists (r9 postmortem): `Dataset.localCheckpoint()` stores its
  * blocks at MEMORY_AND_DISK and nothing ever drops them until the RDD
  * object is GC'd AND the ContextCleaner runs — under the driver's bench
  * mode (129 queries × cold+warm in ONE JVM) the accumulated block-manager
  * footprint degraded every scan-heavy query until the warm pass ran 2.6×
  * slower than round 8's and slower than its own cold pass. The fix is a
  * registry: query bodies mark their per-query materializations
  * [[ephemeral]], and the harness (Bench / Verify / the oracle specs)
  * calls [[releaseAll]] after consuming each query's result.
  *
  * Deliberately NOT used for [[SessionCache]]d index frames — those are
  * built-once/served-many by design (and their `persist` blocks are
  * droppable/recomputable, unlike released checkpoint blocks, which are
  * gone for good — never release a frame that outlives its query). A
  * checkpoint-valued cache frees its blocks with [[free]] only when its
  * value leaves the cache (the [[SessionCache]] release contract).
  */
object Materialize {
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, List[RDD[_]]]

  /** Unpersisting a locally-checkpointed RDD is EXPECTED here (released
    * frames are never recomputed — that's the contract), but Spark logs a
    * WARN per release; at 131 queries × 2 bench passes that is hundreds
    * of noise lines. Harness mains call this once to drop that one
    * logger to ERROR without touching any other logging.
    */
  def quietReleaseWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  /** Registry key is the SESSION, not the context: every `newSession()`
    * (tests, and any caller that isolates work in its own session) shares
    * one applicationId, and an applicationId-keyed releaseAll from one
    * session would unpersist checkpoint blocks a concurrently running
    * query in another session still needs — released checkpoint blocks
    * are unrecoverable, so that query would die on missing blocks.
    */
  private def key(s: SparkSession): String =
    s"${s.sparkContext.applicationId}#${System.identityHashCode(s)}"

  /** The RDDs in `r`'s dependency DAG that hold storage (the walk stops at
    * checkpoint severance, so a released frame never reaches the persisted
    * blocks of an upstream [[SessionCache]] frame it was derived from).
    */
  private def persistedIn(r: RDD[_]): List[RDD[_]] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(x: RDD[_]): List[RDD[_]] =
      if (!seen.add(x.id)) Nil
      else {
        val here: List[RDD[_]] =
          if (x.getStorageLevel != StorageLevel.NONE) List(x) else Nil
        here ::: x.dependencies.toList.flatMap(d => walk(d.rdd))
      }
    walk(r)
  }

  /** `df.localCheckpoint()` (eager — lineage truncated, blocks
    * materialized once for all of the query's consumers), registered for
    * release at the next [[releaseAll]]. The returned frame must not be
    * used after that release.
    */
  def ephemeral(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    val rdds = persistedIn(out.rdd)
    registry.updateWith(key(df.sparkSession)) {
      case Some(xs) => Some(rdds ::: xs)
      case None     => Some(rdds)
    }
    out
  }

  /** Immediately drop the blocks behind an already-materialized frame —
    * for iterative loops that checkpoint per round: once round N+1 is
    * eagerly materialized (and any convergence check consumed), round N's
    * blocks are dead weight. The frame must not be used afterwards.
    */
  def free(df: DataFrame): Unit =
    persistedIn(df.rdd).foreach(_.unpersist(blocking = false))

  /** Drop every [[ephemeral]] block registered by this session's queries.
    * Harness-called after each query's result is fully consumed.
    */
  def releaseAll(s: SparkSession): Unit =
    registry.remove(key(s)).foreach(_.foreach(_.unpersist(blocking = false)))

  /** Deterministic release of DEAD broadcast state (the per-serve LUT /
    * codebook / chunked-rerank broadcasts of the PQ-ANN family). Spark
    * only frees a TorrentBroadcast's blocks when the ContextCleaner's
    * weak reference enqueues — i.e. after a GC actually runs — and under
    * G1 a broadcast piece (4 MB against the 8 MB regions of a 16 g heap)
    * is a HUMONGOUS allocation the collector reclaims lazily. A
    * serve-heavy session can therefore fill the old gen with dead
    * broadcast pieces faster than the collector volunteers, degrading
    * every later serve (measured: sf2-in-one-JVM at 16 g drove the PQ
    * family from 4.5 to 21.8 s and the warm pass over cold — SCALE.md
    * round-15 adjudication). This hook makes the cleanup deterministic:
    * once heap occupancy crosses `heapPctFloor` percent, force the
    * collection that lets the cleaner run NOW, instead of allocating
    * against a full heap. No-op (and free) below the floor. Returns
    * whether it fired.
    */
  def reclaimDeadBroadcasts(heapPctFloor: Int = 70): Boolean = {
    val rt = Runtime.getRuntime
    val used = rt.totalMemory() - rt.freeMemory()
    val fire = used * 100 >= rt.maxMemory().toDouble * heapPctFloor
    if (fire) System.gc()
    fire
  }
}
