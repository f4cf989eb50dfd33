package graft

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LocalRelation, LogicalPlan}
import org.apache.spark.sql.internal.SQLConf

/** Interactive ad-hoc SQL endpoint — the analog of the reference's
  * ClickHouse HTTP `/play` surface (reference README.md:140: the read path
  * is raw SQL over the fact table at `http://localhost:8122/play`;
  * clickhouse docker-compose.yaml:6 maps 8122→8123, the ClickHouse HTTP
  * port). Semantically `spark.sql` already covers the read path (q48/q50);
  * this closes the ERGONOMIC gap: a user points a browser or `curl` at the
  * gateway and runs SQL over the registered tables, exactly as they would
  * against `/play`.
  *
  * Protocol (the useful subset of the ClickHouse HTTP interface, all
  * public knowledge):
  *  - `GET /ping` → `Ok.` — liveness probe.
  *  - `GET /play` → a minimal HTML query form posting to `/`.
  *  - `POST /` with the SQL text as the body (or `GET /?query=...`) →
  *    result rows; `format=JSONEachRow` (default) or `format=TSV`.
  *    Any other path → 404.
  *  - `max_result_rows` caps the payload (validated to
  *    [1, [[HardMaxRows]]]); `max_execution_time` (seconds, default
  *    [[DefaultTimeoutSec]]) is the per-query execution deadline — the
  *    analog of ClickHouse's `max_execution_time` setting (and the
  *    reference's own client-side timeouts, clickhouse_db.py:20). A query
  *    that outruns it has its Spark jobs cancelled and answers 504.
  *  - Analysis/parse/parameter errors → HTTP 400 with the message; a
  *    maintained store read mid-append (`/ann`, `/search`: a
  *    [[IndexStore.TornStoreException]]) → 503, the server-side race a
  *    retry outlives; anything else → 500. Responses carry
  *    `X-Graft-Rows` and `X-Graft-Truncated`.
  *
  * The gateway is READ-ONLY: the submitted text is parsed first and
  * anything that is not a pure query (SET / DDL / CACHE / INSERT — any
  * `Command` or insert node in the parsed tree) is rejected with 400
  * before it can touch session state. `spark.sql` executes commands
  * EAGERLY at call time, so the gate must run on the parsed-but-unexecuted
  * plan, not on the returned DataFrame.
  *
  * Scale posture — the gateway is an INTERACTIVE surface, not an export
  * path, so the driver-side result set is bounded by construction:
  *  - every query is wrapped in `limit(cap + 1)` (default
  *    [[DefaultMaxRows]], per-request `max_result_rows` up to
  *    [[HardMaxRows]]), so the plan itself is a `CollectLimit` — the
  *    cluster never computes, and the driver never holds, more than
  *    cap+1 rows no matter what the SQL says. Row cap+1 is the
  *    truncation sentinel (dropped from the payload, flagged in the
  *    header). Bulk extraction belongs to the warehouse/export operators
  *    (q69), not an HTTP endpoint.
  *  - `limit` bounds ROWS, not COMPUTE (a cartesian join under the limit
  *    still burns the cluster) — that is what the execution deadline is
  *    for: each request runs under its own Spark job group
  *    (`setJobGroup` is thread-local, one handler thread per request) and
  *    a deadline timer `cancelJobGroup`s it, so four pathological
  *    queries can no longer wedge the fixed pool for everyone.
  *  - the server binds loopback by default (like the reference's
  *    docker-internal ClickHouse port) and is a TRUSTED-operator surface:
  *    read-only is enforced, but there is no authn — callers who rebind
  *    `host` off loopback own that exposure.
  */
object SqlGateway {

  val DefaultMaxRows = 10000
  val HardMaxRows = 100000
  val DefaultTimeoutSec = 60
  val MaxTimeoutSec = 600

  /** Request-body bound: the body is the SQL text, and no interactive
    * statement needs a megabyte — past this the read stops and the
    * request answers 413 instead of buffering an arbitrarily large body
    * on the driver heap (ClickHouse's own HTTP surface bounds query size
    * the same way, via max_query_size).
    */
  val MaxBodyBytes: Int = 1 << 20

  /** Session-cached `(doc_id, lang)` attribute frame behind `/ann?lang=`:
    * the constraint leg rides the session tier like every other shared
    * index instead of re-reading the documents table per HTTP request —
    * one narrow two-column scan on first use, an InMemoryTableScan on
    * every repeat.
    */
  private val attrCache = graft.SessionCache.frames("gatewayAttrs")

  private[graft] def attrFrame(spark: SparkSession, corpusDir: String): DataFrame =
    attrCache.getOrElseUpdate(spark, corpusDir)(
      Tables.load(spark, corpusDir, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** Name prefix of the gateway's request-handler threads. */
  private[graft] val PoolThreadPrefix = "graft-gateway-request-"

  final class Gateway private[SqlGateway] (server: HttpServer,
      pool: ExecutorService, deadlines: ScheduledExecutorService) {
    def port: Int = server.getAddress.getPort
    /** Stop serving and release every gateway thread — the request pool
      * is non-daemon, so a JVM that started a gateway exits after `main`
      * only once it is shut down here.
      */
    def stop(): Unit = { server.stop(0); pool.shutdownNow(); deadlines.shutdownNow() }
  }

  /** Start the gateway on `host:port` (port 0 = ephemeral; host defaults to
    * loopback). Tables must already be registered on `spark` (temp views /
    * catalog tables) — the gateway adds no catalog state of its own.
    * `corpusDir` enables the `/ann` vector-serving route (the corpus the
    * maintained index stores are keyed under); empty = route answers 400.
    */
  def start(spark: SparkSession, port: Int = 0, host: String = "127.0.0.1",
      corpusDir: String = ""): Gateway = {
    // The gateway serves the ENGINE's SQL dialect, which includes its
    // custom expressions (vec_dot_long, minhash_sigs) — the way the
    // reference's /play serves ClickHouse's own function library, not
    // just ANSI SQL.
    graft.plans.GraftExtensions.register(spark)
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    val seq = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, PoolThreadPrefix + seq.incrementAndGet()))
    server.setExecutor(pool)
    val deadlines = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-gateway-deadline"); t.setDaemon(true); t
    }
    server.createContext("/ping", (ex: HttpExchange) => respond(ex, 200, "text/plain", "Ok.\n"))
    server.createContext("/play", (ex: HttpExchange) => respond(ex, 200, "text/html", PlayHtml))
    server.createContext("/ann", (ex: HttpExchange) => handleAnn(spark, deadlines, corpusDir, ex))
    server.createContext("/search", (ex: HttpExchange) => handleSearch(spark, deadlines, corpusDir, ex))
    server.createContext("/", (ex: HttpExchange) => handleQuery(spark, deadlines, ex))
    server.start()
    new Gateway(server, pool, deadlines)
  }

  /** 400 for a request-parameter problem — distinct from Spark's own
    * AnalysisException so the catch block can tell ours apart from a
    * genuine runtime fault.
    */
  private final class BadRequest(msg: String) extends IllegalArgumentException(msg)

  private def intParam(params: Map[String, String], name: String,
      default: Int, min: Int, max: Int): Int =
    params.get(name) match {
      case None => default
      case Some(raw) =>
        val v = raw.toIntOption.getOrElse(throw new BadRequest(
          s"$name must be an integer in [$min, $max], got '$raw'"))
        if (v < min || v > max)
          throw new BadRequest(s"$name must be in [$min, $max], got $v")
        v
    }

  /** The parsed statement is a pure query: no `Command` (SET, DDL, CACHE,
    * ANALYZE, …) and no insert anywhere in the tree. Runs BEFORE
    * `spark.sql`, which would execute a command eagerly.
    */
  private def firstMutatingNode(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case c: Command => c.nodeName
      case i: InsertIntoStatement => i.nodeName
    }

  private def handleQuery(spark: SparkSession, deadlines: ScheduledExecutorService,
      ex: HttpExchange): Unit =
    try {
      if (ex.getRequestURI.getPath != "/") {
        respond(ex, 404, "text/plain", "not found\n"); return
      }
      val params = queryParams(ex)
      // bounded read: at most cap+1 bytes ever reach the heap
      val bodyBytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
      if (bodyBytes.length > MaxBodyBytes) {
        // Tell the HttpServer not to reuse this connection before
        // responding: the unread remainder of an oversized body would
        // otherwise sit in a keep-alive connection the server then tries
        // to read the NEXT request from (a stall or reset for a client
        // still mid-send). Connection: close lets the server discard the
        // socket without draining an attacker-sized stream onto the heap's
        // time budget.
        ex.getResponseHeaders.set("Connection", "close")
        respond(ex, 413, "text/plain",
          s"request body exceeds $MaxBodyBytes bytes\n")
        ex.close()
        return
      }
      val body = new String(bodyBytes, UTF_8).trim
      val sql = if (body.nonEmpty) body else params.getOrElse("query", "")
      if (sql.isEmpty) {
        // ClickHouse HTTP parity: a bare GET / is the healthcheck ("Ok.");
        // an empty POST is a malformed query submission.
        if (ex.getRequestMethod == "GET") respond(ex, 200, "text/plain", "Ok.\n")
        else respond(ex, 400, "text/plain", "empty query\n")
        return
      }
      val cap = intParam(params, "max_result_rows", DefaultMaxRows, 1, HardMaxRows)
      val timeoutSec = intParam(params, "max_execution_time", DefaultTimeoutSec, 1, MaxTimeoutSec)
      val format = params.getOrElse("format", "JSONEachRow")
      firstMutatingNode(spark.sessionState.sqlParser.parsePlan(sql)) match {
        case Some(node) =>
          respond(ex, 400, "text/plain",
            s"read-only gateway: statement '$node' is not a query\n")
        case None =>
          // Per-request job group (thread-local: this handler thread runs
          // the whole action) + a deadline that cancels it.
          // interruptOnCancel reaches into running tasks, not just queued
          // stages.
          val group = "graft-gateway-" + java.util.UUID.randomUUID()
          val timedOut = new AtomicBoolean(false)
          val sc = spark.sparkContext
          sc.setJobGroup(group, s"SqlGateway: ${sql.take(120)}", interruptOnCancel = true)
          val deadline = deadlines.schedule({ () =>
            timedOut.set(true)
            sc.cancelJobGroup(group)
          }: Runnable, timeoutSec.toLong, TimeUnit.SECONDS)
          try {
            val df = spark.sql(sql)
            val (payload, rows, truncated) = render(df, format, cap)
            ex.getResponseHeaders.set("X-Graft-Rows", rows.toString)
            ex.getResponseHeaders.set("X-Graft-Truncated", truncated.toString)
            val mime = if (format == "JSONEachRow") "application/x-ndjson" else "text/tab-separated-values"
            respond(ex, 200, mime, payload)
          } catch {
            case _: Throwable if timedOut.get() =>
              respond(ex, 504, "text/plain",
                s"query cancelled: exceeded max_execution_time=${timeoutSec}s\n")
          } finally {
            deadline.cancel(false)
            sc.clearJobGroup()
          }
      }
    } catch {
      // Parse/analysis/parameter problems are the user's 400 (ParseException
      // extends AnalysisException); real faults are our 500.
      case e @ (_: org.apache.spark.sql.AnalysisException | _: IllegalArgumentException) =>
        respond(ex, 400, "text/plain", clip(e.getMessage) + "\n")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500, "text/plain", clip(e.toString) + "\n")
    } finally ex.close()

  /** The `/ann` vector-serving route — the `/play` analog for the vector
    * tier (round-14 gap: the gateway exposed `ivf_assignments`/`ivf_drift`
    * state but an analyst could not RUN a similarity query). Serves
    * [[graft.operators.Similarity.ivfAnnFromStore]] off the MAINTAINED
    * durable index (stored centroids + stored cell assignments — zero
    * corpus-wide argmax per request) under the same discipline as `/`:
    * per-request job group, execution deadline, bounded result cap.
    *
    * Protocol:
    *  - `GET /ann?doc_id=<id>` — top-k neighbors of a STORED vector (the
    *    id's embedding is read from the assignment store; an absent id
    *    answers 0 rows).
    *  - `POST /ann` with a JSON array body (`[0.12, -0.3, …]`, exactly
    *    the index dimension) — top-k neighbors of an INLINE vector: the
    *    cross-modal query shape (an external-modality embedding probing
    *    the stored cells, q156's serving leg as an HTTP request).
    *  - `k` (top-k, ≤ 100), `probes` (probed cells, ≤ 64), `family`
    *    ("" = text-side store, "_xm" = the image-side family),
    *    `max_execution_time`, `format` as on `/`.
    *  - `prefilter=ivf|binary|mrl` — the candidate stage: probed-cell
    *    IVF (default), the q161 binary rung (16-byte sign codes, Hamming
    *    shortlist, exact rerank), or the q162 Matryoshka rung
    *    (prefix-`dims` integer dots, exact rerank). On binary/mrl an
    *    EXPLICIT `probes=N` composes the rung with the stored IVF
    *    inverted file (the q166/q167 serving posture — the cheap score
    *    runs over probed-cell candidates only, bounded by probed-cell
    *    mass); absent, those rungs run their corpus-wide flat scan.
    *    `short_k` (≤ 1024, binary/mrl only) sizes the rerank shortlist
    *    (q164's sweep is its evidence); `dims` (≤ 64, default 16, mrl
    *    only) is the prefix length (q162's curve). A knob that cannot
    *    affect the selected prefilter answers 400 when explicitly
    *    provided — never silently ignored.
    *  - `lang=<v>` — attribute-constrained serving (q157's predicate leg
    *    off the maintained store): neighbors restricted to documents of
    *    that language, the allowed ids composed into the candidate leg
    *    BEFORE rerank (never a post-filtered shortlist).
    *  - Rows: `(q_id, rk, neighbor_id, sim)` — exact DECIMAL-fold rerank
    *    scores, the q53 serving contract.
    */
  private def handleAnn(spark: SparkSession, deadlines: ScheduledExecutorService,
      corpusDir: String, ex: HttpExchange): Unit =
    try {
      if (corpusDir.isEmpty) {
        respond(ex, 400, "text/plain",
          "ann route disabled: gateway started without a corpus dir\n")
        return
      }
      val params = queryParams(ex)
      val k = intParam(params, "k", 3, 1, 100)
      val family = params.getOrElse("family", "")
      if (family.nonEmpty && family != "_xm")
        throw new BadRequest(s"unknown index family '$family' ('' | _xm)")
      // prefilter=ivf (default): probed-cell candidates off the stored
      // centroids; prefilter=binary: the q161 rung — 16-byte sign codes
      // scored by Hamming + exact rerank; prefilter=mrl: the q162 rung —
      // prefix-`dims` integer dots + exact rerank
      val prefilter = params.getOrElse("prefilter", "ivf")
      if (prefilter != "ivf" && prefilter != "binary" && prefilter != "mrl")
        throw new BadRequest(s"unknown prefilter '$prefilter' (ivf | binary | mrl)")
      // Knob relevance is SYMMETRIC: a knob that cannot affect the
      // selected prefilter is a 400 when explicitly provided, never
      // silently ignored (and every relevant knob is range-validated).
      //  - probes: always meaningful — the ivf candidate stage, or the
      //    q166/q167 composition on binary/mrl (explicit probes bounds
      //    the cheap first pass by probed-cell mass; absent = the
      //    corpus-wide flat scan those rungs default to).
      //  - short_k (q164's sweep is its tuning evidence): sizes the
      //    binary/mrl rerank shortlist; meaningless on ivf.
      //  - dims (q162's curve): the mrl prefix length only.
      if (prefilter == "ivf" && params.contains("short_k"))
        throw new BadRequest("short_k only applies to prefilter=binary|mrl")
      if (prefilter != "mrl" && params.contains("dims"))
        throw new BadRequest("dims only applies to prefilter=mrl")
      val probes = intParam(params, "probes", 2, 1, 64)
      val probesOpt = if (params.contains("probes")) Some(probes) else None
      val shortK = intParam(params, "short_k", 64, 1, 1024)
      val dims = intParam(params, "dims", graft.operators.Similarity.MrlIvfDims,
        1, graft.operators.Ivf.Dim)
      val timeoutSec = intParam(params, "max_execution_time", DefaultTimeoutSec, 1, MaxTimeoutSec)
      val format = params.getOrElse("format", "JSONEachRow")
      val bodyBytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
      if (bodyBytes.length > MaxBodyBytes) {
        ex.getResponseHeaders.set("Connection", "close")
        respond(ex, 413, "text/plain", s"request body exceeds $MaxBodyBytes bytes\n")
        ex.close()
        return
      }
      val body = new String(bodyBytes, UTF_8).trim
      import org.apache.spark.sql.functions.col
      // optional attribute constraint (q157's predicate leg at the
      // serving tier): lang=<v> restricts neighbors to documents of that
      // language — the allowed-id frame semi-joins the stored cells
      // BEFORE the probe join, never post-filtering the shortlist. For
      // the image-side family the ids map into the offset domain.
      val candIds = params.get("lang").map { lang =>
        val ids = attrFrame(spark, corpusDir)
          .filter(col("lang") === lang)
          .select(col("doc_id").as("vec_id"))
        if (family == "_xm")
          ids.select((col("vec_id") + graft.operators.Similarity.XmOffset).as("vec_id"))
        else ids
      }
      val group = "graft-gateway-ann-" + java.util.UUID.randomUUID()
      val timedOut = new AtomicBoolean(false)
      val sc = spark.sparkContext
      sc.setJobGroup(group, s"SqlGateway /ann k=$k probes=$probes family=$family",
        interruptOnCancel = true)
      val deadline = deadlines.schedule({ () =>
        timedOut.set(true)
        sc.cancelJobGroup(group)
      }: Runnable, timeoutSec.toLong, TimeUnit.SECONDS)
      try {
        // inside the group: a doc_id= lookup reads the store, and its jobs
        // carry the request's description and answer to its deadline
        val qFrame: DataFrame =
          if (body.nonEmpty) {
            if (!body.startsWith("[") || !body.endsWith("]"))
              throw new BadRequest("inline query must be a JSON array of numbers")
            val vec = body.stripPrefix("[").stripSuffix("]").split(",").map { t =>
              // toDoubleOption parses "NaN"/"Infinity" — reject non-finite
              // elements as a 400 instead of letting them flow into
              // quantize/dot where they'd poison every score silently
              t.trim.toDoubleOption.filter(_.isFinite)
                .getOrElse(throw new BadRequest(s"bad vector element '${t.trim.take(40)}'"))
            }
            if (vec.length != graft.operators.Ivf.Dim)
              throw new BadRequest(s"query vector has ${vec.length} dims; index dim is ${graft.operators.Ivf.Dim}")
            import spark.implicits._
            // the inline query's synthetic id sits OUTSIDE every corpus id
            // domain so the self-pair guard can never suppress a real hit
            Seq((-1L, vec.toSeq)).toDF("vec_id", "embedding")
          } else params.get("doc_id").flatMap(_.toLongOption) match {
            case Some(id) =>
              val path = IndexStore.committedPath(spark, corpusDir,
                streaming.IndexMaintenance.IvfAssignStoreName + family).getOrElse(throw new BadRequest(
                s"no maintained index store for family '$family' — bootstrap it first " +
                  s"(under ${IndexStore.DirConf})"))
              IndexStore.verifiedRead(spark, path).filter(col("vec_id") === id)
                .select(col("vec_id"), col("embedding"))
            case None => throw new BadRequest("provide doc_id=<id> or an inline JSON vector body")
          }
        val df = prefilter match {
          case "binary" =>
            graft.operators.Similarity.binaryAnnFromStore(spark, corpusDir,
              shortK = shortK, topK = k, queriesOpt = Some(qFrame),
              family = family, candIdsOpt = candIds, probesOpt = probesOpt)
          case "mrl" =>
            graft.operators.Similarity.mrlAnnFromStore(spark, corpusDir, dims,
              shortK = shortK, topK = k, queriesOpt = Some(qFrame),
              family = family, candIdsOpt = candIds, probesOpt = probesOpt)
          case _ =>
            graft.operators.Similarity.ivfAnnFromStore(spark, corpusDir,
              probes = probes, topK = k, queriesOpt = Some(qFrame), family = family,
              candIdsOpt = candIds)
        }
        val (payload, rows, truncated) = render(df, format, HardMaxRows)
        ex.getResponseHeaders.set("X-Graft-Rows", rows.toString)
        ex.getResponseHeaders.set("X-Graft-Truncated", truncated.toString)
        val mime = if (format == "JSONEachRow") "application/x-ndjson" else "text/tab-separated-values"
        respond(ex, 200, mime, payload)
      } catch {
        case _: Throwable if timedOut.get() =>
          respond(ex, 504, "text/plain",
            s"query cancelled: exceeded max_execution_time=${timeoutSec}s\n")
      } finally {
        deadline.cancel(false)
        sc.clearJobGroup()
        // each /ann serve leaves LUT/codebook/rerank broadcasts behind;
        // reclaim them deterministically once the heap is 70% occupied
        // instead of degrading the next request (SCALE.md r15)
        graft.Materialize.reclaimDeadBroadcasts()
      }
    } catch {
      // a store read mid-append is the server's transient 503; an
      // un-bootstrapped store or a bad request is the caller's 400
      case e: IndexStore.TornStoreException =>
        respond(ex, 503, "text/plain", clip(e.getMessage) + "\n")
      case e @ (_: org.apache.spark.sql.AnalysisException |
                _: IllegalArgumentException | _: IllegalStateException) =>
        respond(ex, 400, "text/plain", clip(e.getMessage) + "\n")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500, "text/plain", clip(e.toString) + "\n")
    } finally ex.close()

  /** The `/search` lexical/hybrid retrieval route — the text-side
    * counterpart of `/ann` (round-16 gap: the vector family could be
    * served over HTTP but a text query could not run against the
    * maintained tf store). Serves
    * [[graft.streaming.IndexMaintenance.searchFromStore]] — BM25 off the
    * DURABLE tf store under `verifiedRead` snapshot isolation, statistics
    * (df, dl, tot, N) following every append and purge, so a purged doc
    * neither serves as a query nor appears in any result — under the
    * same discipline as `/ann`: per-request job group, execution
    * deadline, bounded params, broadcast reclaim.
    *
    * Requests serve a snapshot of the store built once per commit
    * ([[graft.streaming.IndexMaintenance.tfSnapshot]]): everything that
    * depends only on the commit — the verified postings `(doc_id, term,
    * tf, df, dl)`, hash-partitioned by doc_id, and `df` persisted, tot
    * and N held as values. Its identity is the resolved store path, the full
    * sidecar and the data-file listing (name, length, mtime); every
    * request reads the sidecar and lists the store, and reuses the
    * snapshot while the identity is unchanged. The first request after
    * any commit — by this gateway's session, another session, a purge or
    * a compaction — pays the build (a verified read plus the aggregates)
    * inside its own deadline; a torn store still answers 503.
    *
    * A warm request does only its own query's work: it holds its bag on
    * the driver (`q=`: the tokens folded from a local row, no job;
    * `doc_id=`: one bounded collect, `: bag`) and scores it in one plan
    * with no join, broadcast or shuffle (`: score`), `df` and `dl` read
    * off the postings; the top k come back as a local frame, which
    * [[render]] encodes on the driver. A warm plain `q=` search runs 1
    * Spark job and a `doc_id=` search 2 (a `q=` search ran 9 while the
    * bag was a frame joined and broadcast per request, then 3 while the
    * bag's `df` and the JSON render each ran a job).
    *
    * Protocol:
    *  - `GET /search?q=<terms>` — the token-bag query (URL-encoded,
    *    whitespace-separated; normalized through the index side's own
    *    tokenize rule; rows carry q_id = −1). Terms the stored corpus
    *    has never seen contribute nothing; an all-unknown bag answers 0
    *    rows.
    *  - `GET /search?doc_id=<id>` — more-like-this: the stored doc's
    *    rarest-`qt` terms form the bag (q130's pruning); a purged or
    *    absent id answers 0 rows.
    *  - `k` (top-k, ≤ 100), `qt` (bag budget, ≤ 64), `format`,
    *    `max_execution_time` as on `/ann`.
    *  - `expand=rm3` — q163's pseudo-relevance-feedback loop off the
    *    store (stage-1 feedback docs, tf·idf_micro expansion votes,
    *    integer 2/1 interpolation).
    *  - `rerank=maxsim` — q160's budgeted-token late-interaction rerank
    *    of the BM25 top-[[graft.operators.CorpusOps.MaxSimCand]]
    *    candidates, token budgets and vectors from the same stored tf
    *    evidence.
    *  - `fuse=rrf` — q131's integer reciprocal-rank fusion of the
    *    lexical leg with the VECTOR leg served off the maintained IVF
    *    assignment store (`probes` sizes that leg's candidate stage);
    *    needs `doc_id` (a raw token bag has no stored vector — 400).
    *    Rows: `(q_id, rk, item, rk_lex, rk_vec, rrf_micro)`.
    *  - Without fusion, rows are `(q_id, rk, doc_id, score)` — integer
    *    micro-BM25 (or MaxSim) scores, exact across engines.
    *  - Knob relevance is symmetric (the `/ann` rule): `probes` without
    *    `fuse=rrf` is a 400, as are unknown `expand`/`rerank`/`fuse`
    *    values.
    */
  private def handleSearch(spark: SparkSession, deadlines: ScheduledExecutorService,
      corpusDir: String, ex: HttpExchange): Unit =
    try {
      if (corpusDir.isEmpty) {
        respond(ex, 400, "text/plain",
          "search route disabled: gateway started without a corpus dir\n")
        return
      }
      val params = queryParams(ex)
      val k = intParam(params, "k", 10, 1, 100)
      val qt = intParam(params, "qt", graft.operators.CorpusOps.Bm25QTerms, 1, 64)
      val expand = params.get("expand") match {
        case None => false
        case Some("rm3") => true
        case Some(other) => throw new BadRequest(s"unknown expand '$other' (rm3)")
      }
      val rerank = params.get("rerank") match {
        case None => None
        case Some("maxsim") => Some("maxsim")
        case Some(other) => throw new BadRequest(s"unknown rerank '$other' (maxsim)")
      }
      val fuse = params.get("fuse") match {
        case None => false
        case Some("rrf") => true
        case Some(other) => throw new BadRequest(s"unknown fuse '$other' (rrf)")
      }
      if (!fuse && params.contains("probes"))
        throw new BadRequest("probes only applies to fuse=rrf (it sizes the vector leg)")
      val probes = intParam(params, "probes", 2, 1, 64)
      val timeoutSec = intParam(params, "max_execution_time", DefaultTimeoutSec, 1, MaxTimeoutSec)
      val format = params.getOrElse("format", "JSONEachRow")
      val docIdOpt = params.get("doc_id").map(raw => raw.toLongOption.getOrElse(
        throw new BadRequest(s"doc_id must be an integer, got '${raw.take(40)}'")))
      val qOpt = params.get("q").map(_.trim).filter(_.nonEmpty)
      if (qOpt.isEmpty == docIdOpt.isEmpty)
        throw new BadRequest("provide exactly one of q=<terms> / doc_id=<id>")
      if (fuse && docIdOpt.isEmpty)
        throw new BadRequest("fuse=rrf needs doc_id — a raw token bag has no stored vector")
      val group = "graft-gateway-search-" + java.util.UUID.randomUUID()
      val timedOut = new AtomicBoolean(false)
      val sc = spark.sparkContext
      sc.setJobGroup(group, s"SqlGateway /search k=$k expand=$expand fuse=$fuse",
        interruptOnCancel = true)
      val deadline = deadlines.schedule({ () =>
        timedOut.set(true)
        sc.cancelJobGroup(group)
      }: Runnable, timeoutSec.toLong, TimeUnit.SECONDS)
      try {
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.LongType
        val lex = graft.streaming.IndexMaintenance.searchFromStore(spark, corpusDir,
          qTerms = qOpt.toSeq, docId = docIdOpt, k = k, qt = qt,
          expand = expand, rerank = rerank)
        val df =
          if (!fuse) lex
          else {
            // vector leg: the stored embedding of doc_id probes the
            // maintained IVF store (the /ann doc_id path's frame)
            val path = IndexStore.committedPath(spark, corpusDir,
              streaming.IndexMaintenance.IvfAssignStoreName).getOrElse(throw new BadRequest(
              s"no maintained index store — bootstrap it first (under ${IndexStore.DirConf})"))
            val qFrame = IndexStore.verifiedRead(spark, path)
              .filter(col("vec_id") === docIdOpt.get)
              .select(col("vec_id"), col("embedding"))
            val vec = graft.operators.Similarity.ivfAnnFromStore(spark, corpusDir,
              probes = probes, topK = k, queriesOpt = Some(qFrame))
            graft.operators.CorpusOps.rrfFuse(
              lex.select(col("q_id"), col("doc_id").as("item"),
                col("rk").cast(LongType).as("rk_lex")),
              vec.select(col("q_id"), col("neighbor_id").as("item"),
                col("rk").cast(LongType).as("rk_vec")))
          }
        val (payload, rows, truncated) = render(df, format, HardMaxRows)
        ex.getResponseHeaders.set("X-Graft-Rows", rows.toString)
        ex.getResponseHeaders.set("X-Graft-Truncated", truncated.toString)
        val mime = if (format == "JSONEachRow") "application/x-ndjson" else "text/tab-separated-values"
        respond(ex, 200, mime, payload)
      } catch {
        case _: Throwable if timedOut.get() =>
          respond(ex, 504, "text/plain",
            s"query cancelled: exceeded max_execution_time=${timeoutSec}s\n")
      } finally {
        deadline.cancel(false)
        sc.clearJobGroup()
        graft.Materialize.reclaimDeadBroadcasts()
      }
    } catch {
      case e: IndexStore.TornStoreException =>
        respond(ex, 503, "text/plain", clip(e.getMessage) + "\n")
      case e @ (_: org.apache.spark.sql.AnalysisException |
                _: IllegalArgumentException | _: IllegalStateException) =>
        respond(ex, 400, "text/plain", clip(e.getMessage) + "\n")
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500, "text/plain", clip(e.toString) + "\n")
    } finally ex.close()

  /** Materialize ≤ cap rows (cap+1 is the truncation probe — the extra row
    * never reaches the payload). `limit` keeps the whole thing one bounded
    * `CollectLimit` action regardless of the submitted SQL. A frame whose
    * limited plan optimizes to a `LocalRelation` (a `/search` answer, an
    * inline `VALUES` table) already holds its rows on the driver: JSON
    * encodes them there with `toJSON`'s own encoder, byte for byte, and
    * runs no job; every other plan runs `toJSON`'s one job. Only a plan
    * whose leaves are all local can fold to one, so no other plan is
    * optimized twice. TSV collects, which runs no job on a local plan
    * either.
    */
  private def render(df: DataFrame, format: String, cap: Int): (String, Int, Boolean) = {
    format match {
      case "JSONEachRow" =>
        val limited = df.limit(cap + 1)
        val qe = limited.queryExecution
        val local = if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
          else Some(qe.optimizedPlan).collect { case l: LocalRelation => l }
        val lines = local match {
          case Some(l) => GraftColumnBridge.jsonLines(limited.schema, l.data,
            limited.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
          case None => limited.toJSON.collect().toSeq
        }
        val truncated = lines.length > cap
        val kept = if (truncated) lines.take(cap) else lines
        (kept.mkString("", "\n", if (kept.nonEmpty) "\n" else ""), kept.length, truncated)
      case "TSV" =>
        val rows = df.limit(cap + 1).collect()
        val truncated = rows.length > cap
        val kept = if (truncated) rows.take(cap) else rows
        val text = kept.iterator.map(_.toSeq.map {
          case null => "\\N"
          case s: collection.Seq[_] => tsvEscape(s.mkString("[", ",", "]"))
          case v => tsvEscape(v.toString)
        }.mkString("\t")).mkString("", "\n", if (kept.nonEmpty) "\n" else "")
        (text, kept.length, truncated)
      case other =>
        throw new BadRequest(s"unsupported format '$other' (JSONEachRow | TSV)")
    }
  }

  /** ClickHouse TSV escaping (the convention `\N`-for-NULL already
    * implies): tab / newline / carriage-return / backslash inside a cell
    * become `\t` `\n` `\r` `\\`, so embedded separators can never shift
    * columns or rows for the consumer.
    */
  private def tsvEscape(s: String): String =
    if (s.indexOf('\t') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0 && s.indexOf('\\') < 0) s
    else {
      val sb = new StringBuilder(s.length + 8)
      s.foreach {
        case '\t' => sb ++= "\\t"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\\' => sb ++= "\\\\"
        case c => sb += c
      }
      sb.toString
    }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split('&').toSeq).getOrElse(Seq.empty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
          case Array(k) if k.nonEmpty => Some(URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap

  private def respond(ex: HttpExchange, status: Int, mime: String, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$mime; charset=UTF-8")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os: OutputStream = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  private def clip(s: String): String =
    if (s == null) "error" else if (s.length > 4000) s.take(4000) + " …" else s

  /** The `/play` page: textarea + run button, results rendered as
    * preformatted NDJSON — the minimal ClickHouse-play-like loop.
    */
  private val PlayHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft play</title>
      |<style>body{font-family:monospace;margin:2em}textarea{width:100%;height:10em}
      |pre{background:#f4f4f4;padding:1em;overflow:auto}</style></head><body>
      |<h2>graft SQL</h2>
      |<textarea id="q">SELECT 1</textarea><br>
      |<button onclick="run()">Run</button>
      |<pre id="out"></pre>
      |<script>
      |async function run(){
      |  const r = await fetch('/', {method:'POST', body:document.getElementById('q').value});
      |  document.getElementById('out').textContent = await r.text();
      |}
      |</script></body></html>
      |""".stripMargin

  /** Standalone server: registers the fixture tables from
    * `SPARK_GRAFT_SF_DIR` and serves until killed.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val port = args.headOption.flatMap(_.toIntOption).getOrElse(8122)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    Tables.registerIndexViews(spark, sfDir)
    val gw = start(spark, port, corpusDir = sfDir)
    println(s"graft SQL gateway listening on http://127.0.0.1:${gw.port}/play")
    Thread.currentThread.join()
  }
}
