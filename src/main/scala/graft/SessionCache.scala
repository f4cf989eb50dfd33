package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, corpus dir) memoization for built-once/served-many
  * artifacts — the materialized index frames (shingle sets, quality
  * features, SRP bucket rows) and fitted models (IVF centroids) that
  * every consumer query serves from instead of recomputing. One
  * implementation so the key recipe and the freshness rule live in
  * exactly one place.
  *
  * Lifecycle: entries live for the session (the posture of a production
  * index — built once per corpus, reused by every query); persisted
  * frames spill via their own StorageLevel rather than being evicted.
  *
  * The derived-artifact graph: every cache declares, where it is
  * constructed, what its build reads — the durable [[IndexStore]]
  * entries (`stores`, by store name) and the other caches (`upstream`,
  * by reference). The references resolve on the first get, when every
  * operator object is initialized whatever order they loaded in, and
  * resolving them loads every object the build reads, so the set of
  * stores an entry depends on is complete before its first build.
  *
  * Freshness, one rule: an entry records the [[IndexStore.StoreIdentity]]
  * of every store its build reads, directly or through upstream caches.
  * Every get compares those with the stores' current identities (one
  * sidecar read and one listing per store, no Spark job); on any
  * difference it rebuilds the entry and releases the old value. So every
  * commit — an append, purge, compaction or model overwrite, in any
  * session — is seen at the next get, and a persisted frame never
  * outlives the files it lists. The identities are taken just before the
  * build, except that a store state the build itself served — a verified
  * read's, a tracked load's own write, a fitted model's save
  * ([[IndexStore.tracked]]) — replaces the one taken before: an entry
  * never records a state newer than its value, and a build that writes
  * its own store is not stale at once. The rebuild of a stale entry is a
  * reload: its tracked loads serve the committed store or throw, and
  * never write it. The stale entry stays, unserved, until a rebuild
  * succeeds, so a reload that throws (a torn store mid-append) is a
  * reload again on the next get. Without a configured index root, or for
  * a cache that reads no store, a get does no filesystem work: fixture
  * tables ([[Tables.load]]) do not change within a session, so a rebuild
  * would give the identical frame.
  *
  * Release contract: each cache names one release function, run on every
  * value that leaves it — a stale entry and the build that lost a
  * first-access race alike. Persisted frames unpersist
  * ([[SessionCache.frames]]); `localCheckpoint` frames free their
  * checkpoint blocks ([[Materialize.free]] — `Dataset.unpersist` leaves
  * those in place); driver-side models release nothing.
  */
private[graft] final class SessionCache[V](val name: String,
    stores: Set[String] = Set(), upstream: => Seq[SessionCache[_]] = Nil)(release: V => Unit) {
  require(!stores.contains(null),
    s"session cache $name names a store whose val is not yet initialized")

  /** The caches the build reads, resolved on the first get. */
  lazy val upstreamCaches: Seq[SessionCache[_]] = upstream.ensuring(!_.contains(null),
    s"session cache $name names an upstream cache that is not yet initialized")

  /** Every store the build reads, directly or through upstream caches. */
  private lazy val storesRead: Set[String] = stores ++ upstreamCaches.flatMap(_.storesRead)

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), SessionCache.Entry[V]]

  SessionCache.register(this)

  /** `variant` names an extra slot of `dir`'s entry (e.g. a filtered
    * referent), checked like `dir`'s own. A build that throws caches
    * nothing and leaves a stale entry in place.
    *
    * r18 (ADVICE): NOT TrieMap.getOrElseUpdate — that can evaluate
    * `build` in two racing threads and silently drop one result, leaking
    * the losing build's blocks. putIfAbsent (replace, over a stale entry)
    * keeps exactly one winner and the loser goes to `release`.
    */
  def getOrElseUpdate(s: SparkSession, dir: String, variant: String = "")(build: => V): V = {
    val k = (SessionCache.sessionKey(s), dir, variant)
    val read = identities(s, dir)
    entries.get(k) match {
      case Some(e) if e.read == read => e.value
      case stale =>
        val (value, served) = IndexStore.tracked(reload = stale.isDefined)(build)
        val built = new SessionCache.Entry(value, read.map(id => served.getOrElse(id.path, id)))
        val won = stale.fold(entries.putIfAbsent(k, built).isEmpty)(entries.replace(k, _, built))
        (if (won) stale.map(_.value) else Some(value)).foreach(release)
        if (won) value else entries(k).value
    }
  }

  /** The current identities of the stores the build reads for `dir`. */
  private def identities(s: SparkSession, dir: String): Set[IndexStore.StoreIdentity] =
    IndexStore.configuredDir(s).fold(Set.empty[IndexStore.StoreIdentity])(root =>
      storesRead.map(n => IndexStore.storeIdentity(s, IndexStore.storePath(root, dir, n))))

  private def dirs(session: String): Set[String] =
    entries.keys.collect { case (`session`, d, _) => d }.toSet
}

private[graft] object SessionCache {
  /** A cached value and the identities of the store states it was built from. */
  private final class Entry[V](val value: V, val read: Set[IndexStore.StoreIdentity])

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

  def registered: Iterable[SessionCache[_]] = registry.values

  /** The live `(cache name, corpus dir)` entries of session `s`, stale
    * ones included until a get rebuilds them.
    */
  def live(s: SparkSession): Set[(String, String)] = {
    val k = sessionKey(s)
    registered.flatMap(c => c.dirs(k).map(c.name -> _)).toSet
  }

  /** Release for persisted frames. */
  val unpersist: DataFrame => Unit = df => { df.unpersist(); () }

  /** A cache of persisted frames, released with [[unpersist]]. */
  def frames(name: String, stores: Set[String] = Set(),
      upstream: => Seq[SessionCache[_]] = Nil): SessionCache[DataFrame] =
    new SessionCache[DataFrame](name, stores, upstream)(unpersist)
}
