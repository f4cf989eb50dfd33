package graft

import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{LogicalRelation, HadoopFsRelation,
  PartitioningAwareFileIndex}

/** DURABLE (cross-session) persistence for the built-once/served-many
  * index artifacts (session caches are the within-session tier): the
  * shingle sets, SRP bucket rows, and IVF centroids live as parquet under
  * a warehouse-style root, so a NEW session — tomorrow's incremental dedup
  * job — loads yesterday's index instead of re-tokenizing/re-projecting
  * the whole corpus. At 100 TB the index build is itself a corpus-scale
  * job; serving it from disk is the difference between an incremental
  * run costing O(increment) and O(corpus).
  *
  * Opt-in via the session conf `spark.graft.index.dir` (unset → every
  * index is built in-session exactly as before; nothing is written).
  * Layout: `<root>/<md5(corpusDir)>/<name>` — one store root can serve
  * many corpora without collisions, and renaming a corpus dir simply
  * re-keys (rebuilds) its indexes rather than silently serving stale rows.
  *
  * Completeness is judged by the `_SUCCESS` marker: a crash mid-write
  * leaves no marker, so the next session rebuilds instead of loading a
  * torn index. Appends (incremental batches) go through the same
  * committer, so a torn append likewise surfaces as missing files, never
  * a half-row.
  *
  * One read, one check. Every read of a store entry is [[read]], whose
  * per-read tag keeps Spark's cache from answering it with rows another
  * read persisted, and [[verifiedSnapshot]] is the one place a read's
  * rows are compared with the sidecar's [[StoreRowsKey]] record. An
  * append that committed its parquet but lost its sidecar write fails
  * that comparison ([[TornStoreException]]): appends, compactions,
  * purges and serving reads refuse, and tracked loads ([[servedFrom]])
  * rebuild (a reload of a live value refuses too), so an at-least-once
  * replayer can never land silent duplicates.
  *
  * Every committed entry carries a `_graft_meta` sidecar recording the
  * BUILD's parameters (e.g. the SRP plane family) and the cumulative
  * corpus row count (build + appends). Loads compare both against the
  * caller's request: a parameter mismatch (the store was built under a
  * different index geometry) or a corpus-count drift (the corpus mutated
  * out-of-band under the same path) logs a warning and REBUILDS instead
  * of silently serving rows from an incompatible or stale index. Appends
  * read the sidecar to reuse the build's parameters — an increment must
  * never be bucketed under a different family than the rows it joins.
  * The sidecar is written AFTER the parquet commit, so a crash between
  * the two reads as "no metadata" and rebuilds (same posture as a torn
  * parquet write).
  */
object IndexStore {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.IndexStore")

  /** Session conf key: root directory of the on-disk index store. */
  val DirConf = "spark.graft.index.dir"

  /** Sidecar key holding the cumulative indexed corpus row count. */
  val CorpusCountKey = "corpusCount"

  /** Sidecar key holding an ORDER-INDEPENDENT 64-bit content digest of the
    * ingested corpus (bit_xor of per-row xxhash64) — the cross-store
    * snapshot tripwire's strong form: two stores that ingested the same
    * COUNT of different batches carry equal [[CorpusCountKey]]s but
    * different digests. Maintained by bootstrap (full-corpus digest) and
    * XOR-advanced per append; dropped by [[purgeKeys]] (the purged rows'
    * text is gone, so the digest can't be re-derived — serving paths fall
    * back to count-only comparison until a re-bootstrap restores it).
    */
  val CorpusHashKey = "corpusHash"

  /** Sidecar key holding the store's OWN committed parquet row count —
    * the torn-append tripwire: a crash between a parquet append's commit
    * and its sidecar write leaves actual rows ≠ recorded rows, which an
    * at-least-once replayer would otherwise re-append into SILENT
    * duplicates (the corpus count alone can't catch that case: the
    * replay's single sidecar advance lands on the right corpus total).
    * Appends refuse a mismatched store; loads rebuild it.
    */
  val StoreRowsKey = "storeRows"

  /** Full-store footer-count scans performed — spec observability for the
    * append-cost contract: ONE full scan per append (the torn-append
    * check), never a second for the post-append record.
    */
  private[graft] val fullStoreScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A store frame's row count — metadata-cheap per file (row-group
    * footers, no data scan) but O(files) in the store, so a long-lived
    * appender pays more per call as files accumulate; [[compact]] bounds
    * that. The count runs on the frame's own file listing.
    */
  private def storeRows(store: DataFrame): Long = {
    fullStoreScans.incrementAndGet()
    store.count()
  }

  /** The store's data files (parquet parts — `_SUCCESS`, sidecars and
    * hidden files excluded).
    */
  private def dataStatuses(s: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  def configuredDir(s: SparkSession): Option[String] =
    s.conf.getOption(DirConf).map(_.trim).filter(_.nonEmpty)

  /** The configured root, or `IllegalStateException` naming `user` — an
    * operation with nowhere durable to read or land is a caller bug, not
    * a silent no-op.
    */
  private[graft] def requireRoot(s: SparkSession, user: String): String =
    configuredDir(s).getOrElse(throw new IllegalStateException(
      s"$user requires a configured index store (set $DirConf)"))

  /** Corpus-identity tag: content-free (pure path hash) by design — the
    * store is an optimization tier keyed by the corpus LOCATION; content
    * drift under the same path is caught by the sidecar's corpus count at
    * load time (the loud staleness tripwire), not by the key.
    */
  private def corpusKey(corpusDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  def storePath(root: String, corpusDir: String, name: String): String =
    s"$root/${corpusKey(corpusDir)}/$name"

  /** A committed (fully written) parquet store exists at `path`. */
  def committed(s: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The committed store entry `name` for `corpusDir` under the configured
    * root; None when no root is configured or nothing is committed there.
    */
  def committedPath(s: SparkSession, corpusDir: String, name: String): Option[String] =
    configuredDir(s).map(storePath(_, corpusDir, name)).filter(committed(s, _))

  /** The committed store entry `name` for `corpusDir`, which `user` needs:
    * `IllegalStateException` when no root is configured,
    * `IllegalArgumentException` when the entry was never bootstrapped.
    */
  def requireCommitted(s: SparkSession, corpusDir: String, name: String,
      user: String): String = {
    val path = storePath(requireRoot(s, user), corpusDir, name)
    require(committed(s, path), s"bootstrap the $name store at $path before $user")
    path
  }

  /** A read of a store whose last append landed its data files but not
    * yet its sidecar — a transient server-side state (the append's own
    * sidecar write, a replay or a rebuild heals it), distinct from the
    * caller errors an un-bootstrapped store raises.
    */
  final class TornStoreException(path: String, actual: Long, recorded: Long)
      extends IllegalStateException(
        s"index store at $path is torn: $actual rows vs $recorded recorded — a " +
          "maintenance write tore (its data landed without its sidecar); replay " +
          "the maintainer or rebuild the store (any tracked load does) before " +
          "reading or writing it")

  /** One committed state of a store entry: its resolved path, its full
    * sidecar (None when absent) and its data files by name, length and
    * mtime. Every append, purge, compaction and sidecar write changes it,
    * so a frame built from one identity serves exactly the rows of every
    * state with an equal identity.
    */
  final case class StoreIdentity(path: String, sidecar: Option[Map[String, String]],
      files: Set[(String, Long, Long)])

  private def fileKey(st: FileStatus): (String, Long, Long) =
    (st.getPath.getName, st.getLen, st.getModificationTime)

  /** The entry's current identity: one sidecar read and one directory
    * listing, no Spark job.
    */
  def storeIdentity(s: SparkSession, path: String): StoreIdentity =
    StoreIdentity(path, readMeta(s, path), dataStatuses(s, path).map(fileKey).toSet)

  /** Reader option carrying a [[read]]'s unique tag; the parquet source
    * ignores it.
    */
  private val ReadTagOption = "graft.read.tag"

  /** The one way to read a store entry, a staged sibling of one, or some
    * of its files. Spark's cache matches a plan to persisted data by the
    * store's root path, not its files, and refreshes it only after its
    * own writes: without a per-read tag in the relation's options, a
    * frame persisted from one read (a session cache's, in any session)
    * would answer a later read made after a purge or compaction swap or a
    * torn write — a verification count included, which would then pass a
    * torn store or refuse a healthy one.
    */
  def read(s: SparkSession, paths: String*): DataFrame =
    s.read.option(ReadTagOption, java.util.UUID.randomUUID().toString).parquet(paths: _*)

  /** Read a committed store entry under SNAPSHOT-ISOLATION discipline
    * ([[verifiedSnapshot]]'s frame).
    */
  def verifiedRead(s: SparkSession, path: String): DataFrame =
    verifiedSnapshot(s, path)._1

  /** Read a committed store entry ([[read]]) and check it: when the
    * sidecar records a row count, the read must match it — a mismatch
    * means a maintenance append's data files landed but its sidecar (with
    * the batch marker) did not, so the batch is NOT committed and serving
    * or rewriting its rows would act on an uncommitted write. Refuses
    * loudly instead ([[TornStoreException]]); the append's own sidecar
    * write, the maintainer's replay or a rebuild heals the store.
    * Staged-swap siblings (`.refitting` / `.purging` / `.compacting`)
    * never affect this read — they are separate directories until their
    * atomic rename. This is the only place recorded and actual rows are
    * compared.
    *
    * Returns the frame the count ran on and the identity it verified: the
    * sidecar the count was checked against and the listing the frame
    * serves. The listing is fixed when the frame is created, so the frame
    * serves (and a rewrite of it copies) exactly the rows that were
    * counted, even if an append lands files right after. Cost: one
    * directory listing, one schema-inference job and one footer-count
    * pass over the entry's files.
    */
  def verifiedSnapshot(s: SparkSession, path: String): (DataFrame, StoreIdentity) = {
    require(committed(s, path), s"no committed index store at $path")
    val meta = readMeta(s, path)
    val store = read(s, path)
    meta.flatMap(_.get(StoreRowsKey)).map(_.toLong).foreach { recorded =>
      val actual = storeRows(store)
      if (actual != recorded) throw new TornStoreException(path, actual, recorded)
    }
    (store, serves(StoreIdentity(path, meta, listing(store, path))))
  }

  /** The data files a [[read]] of `path` serves, fixed when it was created. */
  private def listing(store: DataFrame, path: String): Set[(String, Long, Long)] =
    store.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _)) =>
        index.allFiles().map(fileKey).toSet
      case other => throw new IllegalStateException(
        s"index store at $path did not read as a file relation: $other")
    }

  /** One [[tracked]] scope: whether it is a reload, and the first store
    * state it served at each path.
    */
  private final class Scope(val reload: Boolean,
      val served: scala.collection.mutable.Map[String, StoreIdentity])

  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Run `body` in a tracked scope and return its value with the store
    * states it served: every [[verifiedSnapshot]], every [[servedFrom]]
    * write and every [[saved]] model, in this scope or a nested one,
    * records the identity it serves; a path served in several states
    * keeps the first, never a state newer than any part of the value. A
    * `reload` scope replaces a value a commit made stale: the tracked
    * loads made directly in it serve the committed store or throw, and
    * never write it.
    */
  private[graft] def tracked[T](reload: Boolean)(body: => T): (T, Map[String, StoreIdentity]) = {
    val scope = new Scope(reload, scala.collection.mutable.Map.empty)
    val outer = scopes.get
    scopes.set(scope :: outer)
    (try body finally scopes.set(outer), scope.served.toMap)
  }

  private def serves(id: StoreIdentity): StoreIdentity = {
    scopes.get.foreach(_.served.getOrElseUpdate(id.path, id))
    id
  }

  /** The caller just wrote the model at `path` and serves what it wrote:
    * the enclosing tracked scopes record its identity (one sidecar read
    * and one listing; nothing outside a scope).
    */
  private[graft] def saved(s: SparkSession, path: String): Unit =
    if (scopes.get.nonEmpty) serves(storeIdentity(s, path))

  /** A verified snapshot's row count: the sidecar's record, which the
    * verification just matched, or a count when it records none.
    */
  private def verifiedRows(store: DataFrame, id: StoreIdentity): Long =
    id.sidecar.flatMap(_.get(StoreRowsKey)).fold(storeRows(store))(_.toLong)

  // ------------------------------------------------------------ sidecar --

  private def metaFile(path: String) = new Path(path, "_graft_meta")

  /** Persist the entry's build metadata (small `key=value` properties —
    * parameters plus [[CorpusCountKey]]) CRASH-CLEANLY: the bytes go to a
    * `.tmp` sibling first and only a rename publishes them, so a crash
    * mid-write can never leave a truncated `_graft_meta` — the worst case
    * is an orphaned `.tmp` plus a missing/old sidecar, both of which read
    * as "rebuild". (The brief delete-before-rename window likewise reads
    * as "no metadata" — safe, because readers rebuild on absence.)
    */
  def writeMeta(s: SparkSession, path: String, meta: Map[String, String]): Unit = {
    val p = metaFile(path)
    val tmp = new Path(path, "_graft_meta.tmp")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val props = new Properties()
    meta.foreach { case (k, v) => props.setProperty(k, v) }
    val os = fs.create(tmp, true)
    try props.store(os, "graft index store metadata") finally os.close()
    // HDFS/posix rename won't clobber an existing target on every FS
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"IndexStore: rename $tmp -> $p failed")
  }

  /** The entry's build metadata, or None when absent/unreadable (a
    * pre-metadata or torn store — callers rebuild).
    */
  def readMeta(s: SparkSession, path: String): Option[Map[String, String]] = {
    val p = metaFile(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val is = fs.open(p)
      try {
        val props = new Properties()
        props.load(is)
        Some(props.asScala.toMap)
      } finally is.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Convenience: the committed store's metadata for (corpusDir, name)
    * under the configured root, if any.
    */
  def storedMeta(s: SparkSession, corpusDir: String, name: String): Option[Map[String, String]] =
    committedPath(s, corpusDir, name).flatMap(readMeta(s, _))

  // ------------------------------------------------------------- serving --

  /** Serve the index frame `name` for `corpusDir`: load it from the store
    * when present AND compatible, build-write-reload when absent or when
    * the sidecar disagrees with the request, or just build when no store
    * is configured. The reload (rather than returning the built frame)
    * pins the returned lineage to the parquet files, so every consumer
    * plan is a plain columnar scan of the store — including in the very
    * session that built it.
    *
    * `params` is the index geometry the caller expects (e.g. the SRP
    * plane family); `corpusCount` (evaluated lazily, ≥ 0 to enable) is
    * the corpus's CURRENT row count — both are recorded in the sidecar at
    * build time and checked at load time, so geometry changes and
    * out-of-band corpus mutation rebuild loudly instead of serving wrong
    * rows. A store without a sidecar (torn meta write) also rebuilds, and
    * so does a torn store: the load is a [[verifiedSnapshot]], and the
    * frame returned is the one it counted (or, after a rebuild, the one
    * the new sidecar's row count was taken from).
    *
    * In a reload ([[tracked]]) — a commit changed a store a live value
    * was built from — the load never writes: a torn store (an append
    * between its data and its sidecar), a missing one (a swap between
    * its delete and rename) and a geometry mismatch throw, and the
    * corpus count is not compared, since the commit's writer advanced it
    * (a streaming maintainer appends without growing the corpus table).
    */
  def servedFrom(s: SparkSession, corpusDir: String, name: String,
      params: Map[String, String] = Map.empty, corpusCount: => Long = -1L)(
      build: => DataFrame): DataFrame =
    configuredDir(s) match {
      case None => build
      case Some(root) =>
        val path = storePath(root, corpusDir, name)
        // The by-name count is evaluated AT MOST ONCE per servedFrom call
        // (staleness check and sidecar write share this): for a parquet
        // corpus a count is metadata-cheap, but the contract is "any
        // DataFrame", where each evaluation is a full scan.
        lazy val current = corpusCount
        val reload = scopes.get.headOption.exists(_.reload)
        val loaded = if (!reload && !committed(s, path)) None else try {
          val (store, id) = verifiedSnapshot(s, path)
          val drift = id.sidecar match {
            // Tolerate a bare store only when the caller tracks nothing
            // (no params, no count) — otherwise rebuild and self-heal.
            case None =>
              if (params.isEmpty && (reload || current < 0)) Nil else Seq("no metadata sidecar")
            case Some(meta) =>
              params.collect {
                case (k, v) if !meta.get(k).contains(v) =>
                  s"$k: store=${meta.getOrElse(k, "?")} requested=$v"
              } ++ (meta.get(CorpusCountKey).map(_.toLong) match {
                case Some(stored) if !reload && current >= 0 && stored != current =>
                  Seq(s"$CorpusCountKey: store=$stored corpus=$current")
                case _ => Nil
              })
          }
          if (drift.isEmpty) Some(store)
          else if (reload) throw new IllegalStateException(s"index store $path changed " +
            s"under a live reader (${drift.mkString("; ")}) — a reload does not rebuild it")
          else {
            log.warn(s"index store $path is stale (${drift.mkString("; ")}) — rebuilding")
            None
          }
        } catch {
          case e: TornStoreException if !reload =>
            log.warn(s"${e.getMessage} — rebuilding")
            None
        }
        loaded.getOrElse {
          build.write.mode("overwrite").parquet(path)
          val store = read(s, path)
          val meta = params ++ Map(StoreRowsKey -> storeRows(store).toString) ++
            (if (current >= 0) Map(CorpusCountKey -> current.toString) else Map.empty)
          writeMeta(s, path, meta)
          serves(StoreIdentity(path, Some(meta), listing(store, path)))
          store
        }
    }

  /** Append an increment (e.g. a new doc batch's shingle sets) to an
    * existing store, advancing the sidecar's corpus count by
    * `incrementCount` (≥ 0) so the next load's staleness check expects
    * the grown corpus. Requires a configured store: an append with
    * nowhere durable to land is a caller bug, not a silent no-op. A torn
    * store refuses the append ([[verifiedSnapshot]]): appending again
    * would double the torn increment SILENTLY (its sidecar advance still
    * lands on the right corpus total). The append changes the store's
    * [[StoreIdentity]], so a session cache that reads the store, in any
    * session, rebuilds at its next get and serves the grown store.
    *
    * SINGLE-WRITER contract: the sidecar advance is a read-modify-write
    * with no cross-process lock, so concurrent appenders to the SAME
    * store entry can lose an increment's count. The failure is loud, not
    * silent-wrong — the next load sees the count disagree with the corpus
    * and rebuilds — but the supported posture is one appending ingest job
    * per store entry at a time (the reference's single consumer writing
    * one fact table has the same shape).
    */
  def append(s: SparkSession, corpusDir: String, name: String, rows: DataFrame,
      incrementCount: Long = -1L, extraMeta: Map[String, String] = Map.empty): Unit = {
    val path = storePath(requireRoot(s, "IndexStore.append"), corpusDir, name)
    val before = if (committed(s, path)) Some(verifiedSnapshot(s, path)._2) else None
    val metaBefore = before.flatMap(_.sidecar)
    rows.write.mode("append").parquet(path)
    // `extraMeta` (e.g. a streaming maintainer's applied-batch marker)
    // lands in the SAME sidecar write that advances the count and the
    // store-rows record, so a reader never sees one without the others.
    if (metaBefore.isDefined || extraMeta.nonEmpty) {
      // O(increment) post-append record: the snapshot just proved
      // recorded == actual over the files it listed, so the new total is
      // recorded + the rows in the files this append added — a footer
      // count over the increment's files only, not a second full-store
      // scan (which would make a streaming maintainer's per-batch cost
      // grow with the day's accumulated files). A store that records no
      // rows pays one full scan to upgrade.
      val storeRowsNow = metaBefore.flatMap(_.get(StoreRowsKey)) match {
        case Some(recorded) =>
          val listed = before.fold(Set.empty[String])(_.files.map(_._1))
          val added = dataStatuses(s, path).map(_.getPath)
            .filterNot(p => listed(p.getName)).map(_.toString).sorted
          recorded.toLong + (if (added.isEmpty) 0L else read(s, added: _*).count())
        case None => storeRows(read(s, path))
      }
      val meta = metaBefore.getOrElse(Map.empty)
      val advanced = meta.get(CorpusCountKey).map(_.toLong) match {
        case Some(stored) if incrementCount >= 0 =>
          meta.updated(CorpusCountKey, (stored + incrementCount).toString)
        case _ => meta
      }
      writeMeta(s, path,
        advanced ++ Map(StoreRowsKey -> storeRowsNow.toString) ++ extraMeta)
    }
  }

  /** Publish `rows` as the entry at `path`, crash-clean by staging: they
    * are fully written and row-verified (`expected`) at the `suffix`
    * sibling, `meta` is written there, and a delete+rename swap
    * publishes both. A crash before the swap leaves the live store
    * untouched (plus an orphaned staging dir, which the next swap
    * deletes); a crash between delete and rename leaves NO committed
    * store, which every tracked load reads as "rebuild" — never a
    * half-written serve. `staged` is the one read of the staged copy:
    * its row count and any sidecar keys derived from its rows, added to
    * `meta` (the IVF refit's fit baseline). Single-writer contract as
    * for [[append]].
    */
  private[graft] def swapIn(s: SparkSession, path: String, suffix: String, user: String,
      rows: DataFrame, expected: Long, meta: Option[Map[String, String]],
      staged: DataFrame => (Long, Map[String, String]) = f => (f.count(), Map.empty)): Unit = {
    val p = new Path(path)
    val staging = new Path(path + suffix)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(staging, true) // a prior crash's orphan
    rows.write.mode("overwrite").parquet(staging.toString)
    val (stagedRows, derived) = staged(read(s, staging.toString)) // O(few files)
    if (stagedRows != expected) {
      fs.delete(staging, true)
      throw new IllegalStateException(s"$user: staged copy has $stagedRows rows, expected " +
        s"$expected — aborted, live store untouched.")
    }
    meta.foreach(m => writeMeta(s, staging.toString, m ++ derived))
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"$user: delete $path failed")
    if (!fs.rename(staging, p))
      throw new java.io.IOException(s"$user: rename $staging -> $path failed")
  }

  /** The committed entry `name` for `corpusDir`, verified for a rewrite
    * by `user` ([[verifiedSnapshot]]): rewriting a torn store would
    * LAUNDER its duplicates into a clean-looking file set.
    */
  private def snapshotFor(s: SparkSession, corpusDir: String, name: String,
      user: String): (String, DataFrame, StoreIdentity) = {
    val path = storePath(requireRoot(s, user), corpusDir, name)
    if (!committed(s, path)) throw new IllegalStateException(
      s"$user: no committed store at $path")
    val (store, id) = verifiedSnapshot(s, path)
    (path, store, id)
  }

  /** Rewrite the store entry into `targetRowsPerFile`-sized parquet files,
    * preserving rows and sidecar verbatim — the maintenance hook that
    * bounds a long-lived appender's file count (every micro-batch append
    * adds a file set, and both the torn-append check and any footer count
    * are O(files); same posture as the warehouse's monthly compaction).
    * The rewrite is of the verified frame, staged and swapped in
    * crash-clean (a `.compacting` sibling). No row changes, but the
    * [[StoreIdentity]] does, so a session cache that reads the store
    * rebuilds at its next get instead of serving a frame that lists the
    * replaced files.
    */
  def compact(s: SparkSession, corpusDir: String, name: String,
      targetRowsPerFile: Long = 4L << 20, clusterBy: Option[String] = None): Unit = {
    require(targetRowsPerFile > 0, s"bad targetRowsPerFile $targetRowsPerFile")
    val user = "IndexStore.compact"
    val (path, store, id) = snapshotFor(s, corpusDir, name, user)
    val actual = verifiedRows(store, id)
    val files = math.max(1L, (actual + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // clusterBy keeps (or establishes) a sort-clustered layout through
    // the rewrite — range-disjoint files + monotone row groups, so a
    // point lookup on that column prunes to O(1) row groups from the
    // parquet min/max stats instead of scanning the store (the
    // maintained IVF assignment store compacts with clusterBy=vec_id:
    // /ann's doc_id serving path is exactly such a lookup)
    val rows = clusterBy match {
      case Some(c) => store.repartitionByRange(files,
          org.apache.spark.sql.functions.col(c)).sortWithinPartitions(c)
      case None => store.repartition(files)
    }
    swapIn(s, path, ".compacting", user, rows, actual, id.sidecar)
  }

  /** Right-to-be-forgotten at the index tier: rewrite the store entry
    * WITHOUT the rows whose `keyCol` is in `keys` — the deletion-request
    * path (GDPR/DMCA takedown) for the durable indexes, completing the
    * governance story the warehouse's targeted delete starts. The rewrite
    * is of the verified frame, staged and swapped in crash-clean (a
    * `.purging` sibling). The sidecar rides the swap with
    * [[StoreRowsKey]] re-recorded at the surviving count and
    * [[CorpusCountKey]] decremented by `countDecrement` (the number of
    * DOCUMENTS purged — the caller knows it; store rows per doc vary by
    * index type), so a store-served consumer (e.g. BM25's N) sees the
    * post-purge corpus. Scale: one store scan + an `isin` filter against
    * the (request-sized, broadcast) key list — purge requests are
    * human-scale, never corpus-scale. The swap changes the
    * [[StoreIdentity]], so a session cache that reads the store, in any
    * session, rebuilds from the purged store at its next get.
    */
  def purgeKeys(s: SparkSession, corpusDir: String, name: String,
      keyCol: String, keys: Seq[Long], countDecrement: Long = -1L,
      extraMeta: Map[String, String] = Map.empty): Long = {
    require(keys.nonEmpty, "purgeKeys: empty key list")
    val user = "IndexStore.purgeKeys"
    val (path, store, id) = snapshotFor(s, corpusDir, name, user)
    val actual = verifiedRows(store, id)
    import org.apache.spark.sql.functions.col
    val removed = store.filter(col(keyCol).isin(keys: _*)).count()
    // A bare store (pre-metadata) gains a minimal sidecar here rather than
    // being republished bare: the purge itself just proved the row count,
    // so record it — future appends/loads get the torn-append check.
    val m = id.sidecar.getOrElse(Map.empty[String, String])
    val decremented = m.get(CorpusCountKey).map(_.toLong) match {
      case Some(stored) if countDecrement >= 0 =>
        m.updated(CorpusCountKey, math.max(0L, stored - countDecrement).toString)
      case _ => m
    }
    // NULL keys never match a purge request, but under SQL null semantics
    // `!isin` ALSO drops them — a null-keyed row must survive the rewrite,
    // not vanish into a confusing staged-count abort. The content digest
    // covered the purged docs' text, which is gone — drop it rather than
    // publish a digest the store no longer matches. `extraMeta` (e.g. the
    // embedding-tier purge's ledger decrements) rides the SAME staged
    // sidecar as the row rewrite, so a crash can never publish purged
    // rows with un-decremented ledgers or vice versa.
    swapIn(s, path, ".purging", user,
      store.filter(col(keyCol).isNull || !col(keyCol).isin(keys: _*)), actual - removed,
      Some((decremented - CorpusHashKey) ++
        Map(StoreRowsKey -> (actual - removed).toString) ++ extraMeta))
    removed
  }
}
