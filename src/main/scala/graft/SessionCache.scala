package graft

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, corpus dir) memoization for built-once/served-many
  * artifacts — the materialized index frames (shingle sets, quality
  * features, SRP bucket rows) and fitted models (IVF centroids) that
  * every consumer query serves from instead of recomputing. One
  * implementation so the key recipe lives in exactly one place.
  *
  * Lifecycle: entries live for the session (the posture of a production
  * index — built once per corpus, reused by every query); persisted
  * frames spill via their own StorageLevel rather than being evicted.
  *
  * The derived-artifact graph: every cache declares, where it is
  * constructed, what its build reads — the durable [[IndexStore]]
  * entries (`stores`, by store name) and the other caches (`caches`, by
  * cache name). A store mutation calls [[SessionCache.storeChanged]],
  * which drops, for that session and corpus dir only, every cache that
  * reads the store directly or through other caches.
  * [[IndexStore.append]], [[IndexStore.purgeKeys]] and
  * [[IndexStore.compact]] fire it after they commit (a compaction changes
  * no row, but a persisted frame not yet materialized still lists the
  * files it replaced); the model overwrites made outside a cache build
  * (the IVF drift refit, the PQ refit) fire it themselves. Store writes
  * made INSIDE a cache build (a served model's first fit, a stale store's
  * rebuild) do not: the entry being built already reflects them. Other
  * sessions' entries stay: a materialized frame serves the state it was
  * built from, one not yet materialized fails once a purge or compaction
  * swap has deleted the files it lists. What a store read sees is the
  * store's job, not the cache's: every store read is tagged
  * ([[IndexStore.read]]), so no entry's persisted frame can answer
  * another read, and [[IndexStore.verifiedSnapshot]] checks it against
  * the sidecar; an entry served straight off a store can also check the
  * store's identity per read ([[SessionCache#getFreshOrUpdate]]).
  * Caches register themselves when constructed and the walk reads only
  * that registry, so it never loads an operator object; one that was
  * never loaded holds no entries.
  *
  * Fixture immutability: fixture tables ([[Tables.load]]) do not change
  * within a session, so a cache whose build reads only them declares no
  * store and never drops — a rebuild would give the identical frame.
  *
  * Release contract: each cache names one release function, run on every
  * value that leaves it — a dropped entry and the build that lost a
  * first-access race alike. Persisted frames unpersist
  * ([[SessionCache.frames]]); `localCheckpoint` frames free their
  * checkpoint blocks ([[Materialize.free]] — `Dataset.unpersist` leaves
  * those in place); driver-side models release nothing.
  */
private[graft] final class SessionCache[V](val name: String,
    val stores: Set[String] = Set(), val caches: Set[String] = Set())(release: V => Unit) {
  require(!stores.contains(null),
    s"session cache $name names a store whose val is not yet initialized")

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), V]

  SessionCache.register(this)

  /** `variant` names an extra slot of `dir`'s entry (e.g. a filtered
    * referent), dropped together with `dir`'s own.
    *
    * r18 (ADVICE): NOT TrieMap.getOrElseUpdate — that can evaluate
    * `build` in two racing threads and silently drop one result, leaking
    * the losing build's blocks. putIfAbsent keeps exactly one winner and
    * the loser goes to `release`.
    */
  def getOrElseUpdate(s: SparkSession, dir: String, variant: String = "")(build: => V): V = {
    val k = (SessionCache.sessionKey(s), dir, variant)
    entries.get(k) match {
      case Some(v) => v
      case None =>
        val built = build
        entries.putIfAbsent(k, built) match {
          case Some(winner) => release(built); winner
          case None => built
        }
    }
  }

  /** [[getOrElseUpdate]] for a value that can go stale with no mutation
    * in this session (another session's append, a compaction): an entry
    * `fresh` rejects is dropped and released, then rebuilt. A build that
    * throws caches nothing.
    */
  def getFreshOrUpdate(s: SparkSession, dir: String)(fresh: V => Boolean)(build: => V): V = {
    val k = (SessionCache.sessionKey(s), dir, "")
    entries.get(k) match {
      case Some(v) if fresh(v) => v
      case stale =>
        stale.foreach(v => if (entries.remove(k, v)) release(v))
        getOrElseUpdate(s, dir)(build)
    }
  }

  private def drop(session: String, dir: String): Unit =
    entries.keys.filter(k => k._1 == session && k._2 == dir).foreach(entries.remove(_).foreach(release))

  private def dirs(session: String): Set[String] =
    entries.keys.collect { case (`session`, d, _) => d }.toSet
}

private[graft] object SessionCache {
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, SessionCache[_]]

  private def register(c: SessionCache[_]): Unit =
    registry.putIfAbsent(c.name, c).foreach { _ =>
      throw new IllegalStateException(s"duplicate session cache name ${c.name}")
    }

  /** applicationId PLUS the session's object identity: a restarted
    * session (new SparkSession instance, possibly same appId) must never
    * be handed a frame bound to a stopped one.
    */
  private def sessionKey(s: SparkSession): String =
    s.sparkContext.applicationId + "@" + System.identityHashCode(s)

  /** Store `store` of `corpusDir` changed: drop this session's entries
    * for `corpusDir` in every cache that reads it.
    */
  def storeChanged(s: SparkSession, corpusDir: String, store: String): Unit = {
    val k = sessionKey(s)
    readersOf(store).foreach(_.drop(k, corpusDir))
  }

  /** The registered caches whose builds read `store`, directly or
    * through other caches.
    */
  private def readersOf(store: String): Seq[SessionCache[_]] = {
    val all = registered.toSeq
    @tailrec def close(hit: Set[String]): Set[String] = {
      val grown = hit ++ all.filter(_.caches.exists(hit)).map(_.name)
      if (grown.size == hit.size) hit else close(grown)
    }
    val names = close(all.filter(_.stores(store)).map(_.name).toSet)
    all.filter(c => names(c.name))
  }

  def registered: Iterable[SessionCache[_]] = registry.values

  /** The live `(cache name, corpus dir)` entries of session `s`. */
  def live(s: SparkSession): Set[(String, String)] = {
    val k = sessionKey(s)
    registered.flatMap(c => c.dirs(k).map(c.name -> _)).toSet
  }

  /** Release for persisted frames. */
  val unpersist: DataFrame => Unit = df => { df.unpersist(); () }

  /** A cache of persisted frames, released with [[unpersist]]. */
  def frames(name: String, stores: Set[String] = Set(), caches: Set[String] = Set()): SessionCache[DataFrame] =
    new SessionCache[DataFrame](name, stores, caches)(unpersist)
}
