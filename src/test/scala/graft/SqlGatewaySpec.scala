package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** The interactive SQL endpoint ([[SqlGateway]]) — the reference's
  * ClickHouse `/play` analog (reference README.md:140). Exercised over a
  * REAL loopback HTTP round-trip (JDK HttpClient against the JDK
  * HttpServer), not by calling handlers directly: the protocol — status
  * codes, headers, formats, truncation — IS the surface under test.
  */
class SqlGatewaySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val client = HttpClient.newHttpClient()

  private def withGateway[A](f: (SqlGateway.Gateway, Int) => A): A = {
    Tables.registerAll(spark, dir)
    val gw = SqlGateway.start(spark)
    try f(gw, gw.port) finally gw.stop()
  }

  private def post(port: Int, sql: String, query: String = ""): HttpResponse[String] = {
    val uri = new URI(s"http://127.0.0.1:$port/" + (if (query.isEmpty) "" else s"?$query"))
    client.send(
      HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(sql, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private def postPath(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("ping, play page, and a POSTed aggregate over the registered tables") {
    withGateway { (_, port) =>
      assert(get(port, "/ping").body() == "Ok.\n")
      val play = get(port, "/play")
      assert(play.statusCode() == 200 && play.body().contains("<textarea"))

      val r = post(port, "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("X-Graft-Rows").orElse("") == "5")
      assert(r.headers().firstValue("X-Graft-Truncated").orElse("") == "false")
      val lines = r.body().split("\n").toSeq
      assert(lines.size == 5 && lines.head.contains("\"r_regionkey\":0"))
    }
  }

  test("GET ?query= form, TSV format, and the row cap with truncation header") {
    withGateway { (_, port) =>
      val g = get(port, "/?query=" + java.net.URLEncoder.encode(
        "SELECT count(*) AS n FROM nation", UTF_8))
      assert(g.statusCode() == 200 && g.body().trim == "{\"n\":25}")

      val tsv = post(port, "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 2",
        query = "format=TSV")
      assert(tsv.statusCode() == 200)
      assert(tsv.body() == "0\tNATION_0\n1\tNATION_1\n")

      // cap < result size: payload is exactly cap rows and flagged truncated;
      // the submitted SQL had no LIMIT — the bound is the gateway's, applied
      // inside the plan (CollectLimit), not after a full materialize.
      val t = post(port, "SELECT o_orderkey FROM orders ORDER BY o_orderkey",
        query = "max_result_rows=7")
      assert(t.headers().firstValue("X-Graft-Rows").orElse("") == "7")
      assert(t.headers().firstValue("X-Graft-Truncated").orElse("") == "true")
      assert(t.body().split("\n").length == 7)
    }
  }

  test("materialized index views: tf_index and bm25_topk served over HTTP, row cap intact") {
    withGateway { (_, port) =>
      Tables.registerIndexViews(spark, dir)
      // value check: the served tf index carries the corpus's exact token
      // mass (independently recomputed through the typed tokenizer here)
      import org.apache.spark.sql.functions._
      val expectTokens = Tables.load(spark, dir, "documents")
        .select(sum(size(graft.functions.TextFunctions.tokens(col("text")))).cast("long"))
        .collect().head.getLong(0)
      val s = post(port, "SELECT sum(tf) AS s FROM tf_index")
      assert(s.statusCode() == 200 && s.body().trim == s"""{"s":$expectTokens}""")

      // row-cap discipline holds on an index scan exactly as on fixtures
      val t = post(port, "SELECT doc_id, term, tf FROM tf_index ORDER BY doc_id, term",
        query = "max_result_rows=9")
      assert(t.headers().firstValue("X-Graft-Rows").orElse("") == "9")
      assert(t.headers().firstValue("X-Graft-Truncated").orElse("") == "true")

      // the rank list the retrieval family serves from is queryable too
      val b = post(port, "SELECT rk, doc_id FROM bm25_topk WHERE q_id = 0 ORDER BY rk")
      assert(b.statusCode() == 200)
      val ranks = b.body().split("\n").filter(_.nonEmpty).toSeq
      assert(ranks.nonEmpty && ranks.head.contains("\"rk\":1"))

      // shingle/quality indexes registered as well
      assert(post(port, "SELECT count(*) AS n FROM shingle_index").statusCode() == 200)
      assert(post(port, "SELECT count(*) AS n FROM quality_index").statusCode() == 200)

      // media fingerprint frames: one fp per fixture image / clip, and
      // the Hamming arithmetic works in plain gateway SQL
      val imgN = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 2 === 0).count()
      val i = post(port, "SELECT count(*) AS n, count(DISTINCT media_id) AS d FROM image_fp_index")
      assert(i.statusCode() == 200 && i.body().trim == s"""{"n":$imgN,"d":$imgN}""")
      assert(post(port,
        "SELECT count(*) AS n FROM clip_fp_index a JOIN clip_fp_index b " +
          "ON a.media_id < b.media_id AND bit_count(a.fp ^ b.fp) <= 8").statusCode() == 200)

      // the learned tokenizer is a table: R rounds, counts non-increasing
      val m = post(port,
        "SELECT count(*) AS n, min(pair_count) AS lo, max(pair_count) AS hi FROM bpe_merges")
      assert(m.statusCode() == 200)
      val body = m.body().trim
      assert(body.contains("\"n\":8"), body)

      // the corpus-derived models are queryable: the DSIR weight table is
      // bucket-bounded and the bigram LM's probabilities are micro-units
      val w = post(port,
        "SELECT count(*) AS n, max(w_micro) AS hi FROM dsir_weights WHERE w_micro IS NOT NULL")
      assert(w.statusCode() == 200 && w.body().contains("\"n\":"), w.body())
      val nW = "\"n\":(\\d+)".r.findFirstMatchIn(w.body()).map(_.group(1).toLong).getOrElse(-1L)
      assert(nW > 0 && nW <= 4096, s"dsir_weights rows $nW out of bucket bound")
      val lm = post(port,
        "SELECT count(*) AS n FROM lm_bigram WHERE p_micro < 0 OR p_micro > 1000000")
      assert(lm.statusCode() == 200 && lm.body().trim == """{"n":0}""", lm.body())

      // the IVF tier: every fixture vector has exactly one cell
      // assignment, occupancy sums back to the corpus
      val nVec = Tables.load(spark, dir, "embeddings").count()
      val a = post(port,
        "SELECT count(*) AS n, count(DISTINCT vec_id) AS d FROM ivf_assignments")
      assert(a.statusCode() == 200 && a.body().trim == s"""{"n":$nVec,"d":$nVec}""",
        a.body())
      val occ = post(port,
        "SELECT count(DISTINCT cid) AS cells, sum(n) AS total FROM " +
          "(SELECT cid, count(*) AS n FROM ivf_assignments GROUP BY cid)")
      assert(occ.statusCode() == 200 && occ.body().contains(s""""total":$nVec"""),
        occ.body())
      // the drift ledger is schema-stable even with NO index store
      // configured on this session (empty — nothing is maintained here)
      val drift = post(port,
        "SELECT count(*) AS n FROM ivf_drift WHERE growth_pending OR drift_pending OR skew_pending")
      assert(drift.statusCode() == 200 && drift.body().trim == """{"n":0}""",
        drift.body())
      val pqd = post(port,
        "SELECT count(*) AS n FROM pq_drift WHERE residual_pending")
      assert(pqd.statusCode() == 200 && pqd.body().trim == """{"n":0}""",
        pqd.body())
      // the anchor stream: positional K-gram rows, one row per in-doc
      // position ≥ K chars — spot-check a structural invariant (positions
      // are 1-based and dense per doc: max i == count per doc)
      val anch = post(port,
        "SELECT count(*) AS n FROM (SELECT doc_id, count(*) AS c, max(i) AS m " +
          "FROM anchor_index GROUP BY doc_id) WHERE c <> m")
      assert(anch.statusCode() == 200 && anch.body().trim == """{"n":0}""",
        anch.body())
    }
  }

  test("ivf_drift view over a MAINTAINED store reports the ledger the triggers run on") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_ivf").toFile.getAbsolutePath
    val sA = spark.newSession()
    sA.conf.set(IndexStore.DirConf, root)
    streaming.IndexMaintenance.bootstrapIvfAssignments(sA, dir,
      Tables.load(sA, dir, "embeddings"))
    val drift = streaming.IndexMaintenance.ivfDriftView(sA, dir).collect()
    assert(drift.length == 1, "one ledger row per maintained store")
    val r = drift(0)
    assert(r.getLong(r.fieldIndex("fit_n")) == 500 &&
      r.getLong(r.fieldIndex("inc_n")) == 0 &&
      r.getInt(r.fieldIndex("k")) == 16 &&
      !r.getBoolean(r.fieldIndex("growth_pending")) &&
      !r.getBoolean(r.fieldIndex("drift_pending")) &&
      !r.getBoolean(r.fieldIndex("skew_pending")), r.toString)
    // the assignments view serves the STORE tier on this session (same
    // rows as the in-session computation — one assignment per vector)
    val asg = streaming.IndexMaintenance.ivfAssignmentsView(sA, dir)
    assert(asg.count() == 500 && asg.select("vec_id").distinct().count() == 500)
    // the PQ residual ledger rides the same sidecar: fresh baseline, no
    // pending trigger, no refit yet
    val pq = streaming.IndexMaintenance.pqDriftView(sA, dir).collect()
    assert(pq.length == 1, "one PQ ledger row per maintained store")
    val p = pq(0)
    assert(p.getLong(p.fieldIndex("fit_res_n")) == 500 &&
      p.getLong(p.fieldIndex("inc_res_n")) == 0 &&
      !p.getBoolean(p.fieldIndex("residual_pending")) &&
      p.isNullAt(p.fieldIndex("last_refit_trigger")), p.toString)
  }

  test("/ann serves top-k off the maintained store: stored id, inline vector, cross-modal family, errors") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_gw_ann").toFile.getAbsolutePath
    spark.conf.set(IndexStore.DirConf, root)
    try {
      val e = Tables.load(spark, dir, "embeddings")
      streaming.IndexMaintenance.bootstrapIvfAssignments(spark, dir, e)
      // the image-side family too — the cross-modal request shape
      streaming.IndexMaintenance.bootstrapIvfAssignments(spark, dir,
        operators.Similarity.crossModalImageSide(e), family = "_xm")
      Tables.registerAll(spark, dir)
      val gw = SqlGateway.start(spark, corpusDir = dir)
      try {
        val port = gw.port
        // stored-id query: rows match the library serving path exactly,
        // and every job it runs, the stored vector's lookup included,
        // carries the request's group (its deadline and description)
        var r: HttpResponse[String] = null
        val groups = jobsDuring { r = get(port, "/ann?doc_id=3&k=3") }.map(_.group)
        assert(r.statusCode() == 200, r.body())
        assert(groups.nonEmpty && groups.distinct.size == 1 &&
          groups.head.startsWith("graft-gateway-ann-"), groups)
        val lines = r.body().trim.split("\n")
        assert(lines.length == 3 && lines.forall(_.contains("\"q_id\":3")), r.body())
        val expect = operators.Similarity.ivfAnnFromStore(spark, dir, topK = 3,
            queriesOpt = Some(e.filter(col("vec_id") === 3)
              .select(col("vec_id"), col("embedding"))))
          .select("neighbor_id").collect().map(_.getLong(0)).toSeq
        val gotIds = lines.map(l =>
          "\"neighbor_id\":(-?\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).toSeq
        assert(gotIds == expect, s"got $gotIds expected $expect")
        // inline vector (id −1, outside every corpus domain): doc 5's own
        // embedding must retrieve doc 5 as top-1 — the self-pair guard
        // can't fire across domains
        val vec = e.filter(col("vec_id") === 5).select("embedding")
          .collect()(0).getSeq[Float](0)
        val body = vec.map(_.toString).mkString("[", ",", "]")
        val ri = postPath(port, "/ann?k=2", body)
        assert(ri.statusCode() == 200, ri.body())
        val riLines = ri.body().trim.split("\n")
        assert(riLines.length == 2 && riLines.forall(_.contains("\"q_id\":-1")), ri.body())
        assert(riLines.head.contains("\"neighbor_id\":5"), ri.body())
        // cross-modal: the same TEXT vector against the IMAGE-side family
        // retrieves the paired image (vec_id 5 + 2^40) as top-1
        val rx = postPath(port, "/ann?family=_xm&k=1", body)
        assert(rx.statusCode() == 200, rx.body())
        assert(rx.body().contains(s""""neighbor_id":${5L + operators.Similarity.XmOffset}"""),
          rx.body())
        // attribute-constrained serving: lang=zh restricts neighbors to
        // that language's documents — composed into the candidate leg,
        // so the response still carries FULL rows (k of them when the
        // filtered cells have the mass), all satisfying the predicate
        val zhIds = Tables.load(spark, dir, "documents")
          .filter(col("lang") === "zh").select("doc_id")
          .collect().map(_.getLong(0)).toSet
        val rl = get(port, "/ann?doc_id=3&k=3&probes=4&lang=zh")
        assert(rl.statusCode() == 200, rl.body())
        val rlIds = rl.body().trim.split("\n").map(l =>
          "\"neighbor_id\":(-?\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
        assert(rlIds.nonEmpty && rlIds.forall(zhIds), s"non-zh neighbor served: ${rlIds.mkString(",")}")
        // binary prefilter (the q161 rung at the serving tier): doc 5's
        // own embedding still self-retrieves through the Hamming
        // shortlist + exact rerank, and the rows match the library path
        val rb = postPath(port, "/ann?prefilter=binary&k=2", body)
        assert(rb.statusCode() == 200, rb.body())
        assert(rb.body().trim.split("\n").head.contains("\"neighbor_id\":5"), rb.body())
        val rbl = get(port, "/ann?doc_id=3&k=3&prefilter=binary&lang=zh")
        assert(rbl.statusCode() == 200, rbl.body())
        val rblIds = rbl.body().trim.split("\n").map(l =>
          "\"neighbor_id\":(-?\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
        assert(rblIds.nonEmpty && rblIds.forall(zhIds),
          s"non-zh neighbor served by binary prefilter: ${rblIds.mkString(",")}")
        // mrl prefilter: prefix-16 integer dots shortlist, exact rerank —
        // the stored vector still self-retrieves as top-1
        val rm = postPath(port, "/ann?prefilter=mrl&dims=16&k=2", body)
        assert(rm.statusCode() == 200, rm.body())
        assert(rm.body().trim.split("\n").head.contains("\"neighbor_id\":5"), rm.body())
        // errors are the caller's 400, not a 500 or a hang
        assert(get(port, "/ann?doc_id=3&family=bogus").statusCode() == 400)
        assert(get(port, "/ann?doc_id=3&prefilter=bogus").statusCode() == 400)
        assert(get(port, "/ann?doc_id=3&prefilter=mrl&dims=200").statusCode() == 400)
        assert(postPath(port, "/ann", "[1.0,2.0]").statusCode() == 400) // wrong dim
        assert(get(port, "/ann").statusCode() == 400) // no query at all
        assert(postPath(port, "/ann", "not json").statusCode() == 400)
      } finally gw.stop()
    } finally spark.conf.unset(IndexStore.DirConf)
  }

  /** The group ids of the gateway's Spark jobs that `body` starts. */
  private def gatewayJobs(body: => Unit): Seq[String] =
    jobsDuring(body).map(_.group).filter(_.startsWith("graft-gateway-"))

  test("a literal SELECT renders on the driver: toJSON's bytes, no Spark job") {
    val q = "SELECT * FROM VALUES (CAST(NULL AS STRING), CAST(-12.30 AS DECIMAL(9,2)), " +
      "CAST(0.1 AS DOUBLE), 1e300D, DATE'2024-02-29', TIMESTAMP'2024-02-29 12:34:56.789', " +
      "array(1, NULL, 3), map('k', 1.5D, 'é', NULL), named_struct('a', 1, 'b', array('x')), " +
      "'say \"hi\"\\n naïve — 東京 😀', CAST(NULL AS INT)) " +
      "AS t(n, dec, dbl, big, d, ts, arr, m, st, s, ni)"
    val expect = spark.sql(q).toJSON.collect().mkString("", "\n", "\n")
    assert(expect.contains("\\n") && expect.contains("東京") && expect.contains("\\\""), expect)
    withGateway { (_, port) =>
      var r: HttpResponse[String] = null
      val jobs = gatewayJobs { r = post(port, q) }
      assert(r.statusCode() == 200, r.body())
      assert(r.body().getBytes(UTF_8).sameElements(expect.getBytes(UTF_8)),
        s"got ${r.body()} expected $expect")
      assert(jobs.isEmpty, jobs)
      // a plan that reads a table still renders through toJSON's job
      val scan = gatewayJobs {
        assert(post(port, "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 3")
          .body() == "{\"n_nationkey\":0}\n{\"n_nationkey\":1}\n{\"n_nationkey\":2}\n")
      }
      assert(scan.nonEmpty)
    }
  }

  test("errors: bad SQL and unknown format → 400 with a message; empty → 400") {
    withGateway { (_, port) =>
      val parse = post(port, "SELEKT 1")
      assert(parse.statusCode() == 400 && parse.body().nonEmpty)
      val analysis = post(port, "SELECT no_such_col FROM region")
      assert(analysis.statusCode() == 400)
      val fmt = post(port, "SELECT 1", query = "format=Parquet")
      assert(fmt.statusCode() == 400 && fmt.body().contains("unsupported format"))
      assert(post(port, "").statusCode() == 400)
      // ClickHouse parity: bare GET / is the healthcheck, not an error
      val bare = get(port, "/")
      assert(bare.statusCode() == 200 && bare.body() == "Ok.\n")
    }
  }

  test("read-only gate: SET / DDL / CACHE / INSERT are rejected before execution") {
    withGateway { (_, port) =>
      for (stmt <- Seq(
          "SET spark.sql.shuffle.partitions=1",
          "DROP TABLE region",
          "CREATE TABLE t AS SELECT 1",
          "CACHE TABLE region",
          "INSERT INTO region VALUES (99, 'X', 'c')")) {
        val r = post(port, stmt)
        assert(r.statusCode() == 400 && r.body().contains("read-only"),
          s"'$stmt' → ${r.statusCode()} ${r.body()}")
      }
      // the DROP above must not have executed: region still answers
      val after = post(port, "SELECT count(*) AS n FROM region")
      assert(after.statusCode() == 200 && after.body().trim == "{\"n\":5}")
    }
  }

  test("unknown paths → 404; parameter validation → 400") {
    withGateway { (_, port) =>
      assert(get(port, "/favicon.ico").statusCode() == 404)
      assert(get(port, "/some/other").statusCode() == 404)
      for (bad <- Seq("max_result_rows=0", "max_result_rows=-5",
          "max_result_rows=abc", "max_execution_time=0")) {
        val r = post(port, "SELECT 1", query = bad)
        assert(r.statusCode() == 400, s"'$bad' → ${r.statusCode()}")
      }
    }
  }

  test("TSV escaping: embedded tab/newline/backslash cannot shift columns or rows") {
    withGateway { (_, port) =>
      val r = post(port,
        raw"SELECT 1 AS a, 'x\ty' AS s, 'p\nq' AS t, 'a\\b' AS u, 2 AS z",
        query = "format=TSV")
      assert(r.statusCode() == 200)
      // one physical line, five cells, escapes intact
      assert(r.body() == "1\tx\\ty\tp\\nq\ta\\\\b\t2\n")
    }
  }

  test("the engine's custom SQL functions are callable through the gateway") {
    withGateway { (_, port) =>
      val r = post(port, "SELECT vec_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      assert(r.statusCode() == 200 && r.body().trim == "{\"d\":32}",
        s"${r.statusCode()}: ${r.body()}")
      // the native MG aggregate is an ad-hoc surface too: top event type
      // over the registered events view, exact regime (5 distinct types)
      val a = post(port,
        "SELECT top[0].item AS t, top[0].cnt AS c FROM " +
          "(SELECT freq_items_mg(event_type, 64, 1) AS top FROM events)")
      assert(a.statusCode() == 200, s"${a.statusCode()}: ${a.body()}")
      val direct = spark.sql(
        "SELECT event_type, count(*) AS c FROM events GROUP BY 1 ORDER BY c DESC, event_type LIMIT 1")
        .head()
      assert(a.body().trim == s"""{"t":"${direct.getString(0)}","c":${direct.getLong(1)}}""",
        s"gateway ${a.body()} vs direct $direct")
      // the WEIGHTED MG aggregate (q127's topKWeighted analog) gets the
      // same ad-hoc surface: heaviest return flag by quantity mass over
      // lineitem, exact regime (3 distinct flags ≪ capacity)
      val wq = "SELECT top[0].item AS t, top[0].cnt AS c FROM " +
        "(SELECT freq_items_mg_weighted(l_returnflag, " +
        "CAST(l_quantity AS BIGINT), 64, 1) AS top FROM lineitem)"
      val b = post(port, wq)
      assert(b.statusCode() == 200, s"${b.statusCode()}: ${b.body()}")
      val wdirect = spark.sql(
        "SELECT l_returnflag, sum(CAST(l_quantity AS BIGINT)) AS c FROM lineitem " +
          "GROUP BY 1 ORDER BY c DESC, l_returnflag LIMIT 1").head()
      assert(b.body().trim == s"""{"t":"${wdirect.getString(0)}","c":${wdirect.getLong(1)}}""",
        s"gateway ${b.body()} vs direct $wdirect")
    }
  }

  test("oversized request body → 413 before any parse; a cap-sized body still works") {
    withGateway { (_, port) =>
      // 1 byte past the cap: bounded read stops, 413, nothing executed
      val pad = "-- " + "x" * SqlGateway.MaxBodyBytes
      val big = post(port, pad)
      assert(big.statusCode() == 413, s"got ${big.statusCode()}: ${big.body().take(200)}")
      assert(big.body().contains("exceeds"))
      // a comment-padded query just UNDER the cap parses and answers
      val sql = "SELECT count(*) AS n FROM region"
      val under = post(port, "-- " + "x" * (SqlGateway.MaxBodyBytes - sql.length - 5) + "\n" + sql)
      assert(under.statusCode() == 200 && under.body().trim == "{\"n\":5}")
    }
  }

  test("concurrency probe: 12 parallel clients stay isolated, caps hold under load") {
    withGateway { (_, port) =>
      import java.util.concurrent.{CompletableFuture, Executors, TimeUnit}
      // The /play analog is multi-user by nature: mix the native MG
      // aggregate, a heavy join, per-region lookups with DISTINCT answers
      // (so a swapped response is detectable), an oversized body, and a
      // bad query — all in flight at once on a dedicated client pool.
      val mgExpect = {
        val d = spark.sql("SELECT event_type, count(*) AS c FROM events " +
          "GROUP BY 1 ORDER BY c DESC, event_type LIMIT 1").head()
        s"""{"t":"${d.getString(0)}","c":${d.getLong(1)}}"""
      }
      val joinExpect = {
        val n = spark.sql("SELECT count(*) AS n FROM lineitem l " +
          "JOIN orders o ON l.l_orderkey = o.o_orderkey").head().getLong(0)
        s"""{"n":$n}"""
      }
      val mgSql = "SELECT top[0].item AS t, top[0].cnt AS c FROM " +
        "(SELECT freq_items_mg(event_type, 64, 1) AS top FROM events)"
      val joinSql = "SELECT count(*) AS n FROM lineitem l " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey"
      def regionSql(k: Int) =
        s"SELECT r_name FROM region WHERE r_regionkey = $k"
      val oversized = "-- " + "x" * SqlGateway.MaxBodyBytes

      // (request body, expected status, expected body-trim or null)
      val plan: Seq[(String, Int, String)] =
        Seq((mgSql, 200, mgExpect), (mgSql, 200, mgExpect), (mgSql, 200, mgExpect),
          (joinSql, 200, joinExpect), (joinSql, 200, joinExpect),
          (oversized, 413, null), (oversized, 413, null),
          ("SELECT definitely wrong(", 400, null)) ++
          (0 to 3).map { k =>
            val names = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE")
            (regionSql(k), 200, s"""{"r_name":"${names(k)}"}""")
          }
      assert(plan.size == 12)

      val pool = Executors.newFixedThreadPool(plan.size)
      try {
        val futures = plan.map { case (body, _, _) =>
          CompletableFuture.supplyAsync(() => post(port, body), pool)
        }
        val responses = futures.map(_.get(120, TimeUnit.SECONDS))
        plan.zip(responses).zipWithIndex.foreach {
          case (((body, status, expect), r), i) =>
            assert(r.statusCode() == status,
              s"req $i [${body.take(40)}]: got ${r.statusCode()} ${r.body().take(120)}")
            if (expect != null)
              assert(r.body().trim == expect,
                s"req $i: isolation violated — got ${r.body().take(120)}, want $expect")
        }
      } finally pool.shutdownNow()
    }
  }

  test("execution deadline: a pathological query is cancelled; a concurrent fast query answers") {
    withGateway { (_, port) =>
      // Rows are bounded by the limit wrap, but COMPUTE is not: a triple
      // cartesian self-join of lineitem (~6k rows at sf0.001 → ~2e11
      // combinations) under count() runs far beyond the deadline.
      val slowSql = "SELECT count(*) AS n FROM lineitem a, lineitem b, lineitem c"
      val slowF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        post(port, slowSql, query = "max_execution_time=2"))
      Thread.sleep(500) // let the slow query occupy its pool thread first
      val fast = post(port, "SELECT count(*) AS n FROM nation")
      assert(fast.statusCode() == 200 && fast.body().trim == "{\"n\":25}",
        "a fast query must answer while the slow one is running")
      val slow = slowF.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(slow.statusCode() == 504, s"expected 504, got ${slow.statusCode()}: ${slow.body()}")
      assert(slow.body().contains("max_execution_time"))
    }
  }

  test("ann_tuning view: the probe-sweep knob evidence is queryable at the gateway; /ann attribute frame rides the session cache") {
    withGateway { (_, port) =>
      Tables.registerIndexViews(spark, dir)
      // the full sweep: one row per probe level, monotone recall and
      // candidate counts (deeper probes see a superset)
      val n = post(port, "SELECT count(*) AS n FROM ann_tuning")
      assert(n.statusCode() == 200 && n.body().trim == """{"n":4}""", n.body())
      val mono = post(port,
        "SELECT count(*) AS bad FROM (SELECT recall_micro - " +
          "lag(recall_micro) OVER (ORDER BY probes) AS d, n_cand - " +
          "lag(n_cand) OVER (ORDER BY probes) AS dc FROM ann_tuning) " +
          "WHERE d < 0 OR dc < 0")
      assert(mono.statusCode() == 200 && mono.body().trim == """{"bad":0}""",
        mono.body())

      // the q162 dimension-truncation curve rides the same pattern: one
      // row per prefix-dim level, and the full-dim leg is structurally
      // exact (recall_micro = 10⁶) — the "serve at which d" evidence
      val m = post(port,
        "SELECT count(*) AS n, max(recall_micro) AS mx FROM mrl_tuning")
      assert(m.statusCode() == 200 && m.body().trim == """{"n":4,"mx":1000000}""",
        m.body())

      // round-17: the last two knobs' evidence — the q164 binary
      // shortlist-depth curve (5 depths, recall monotone in depth) and
      // the q165 sampled banding S-curve (5 levels, recall monotone in
      // bands) — queryable through the same gateway
      val bt = post(port,
        "SELECT count(*) AS n, count(*) FILTER (WHERE recall_micro > 0) AS hit " +
          "FROM binary_tuning")
      assert(bt.statusCode() == 200 && bt.body().trim == """{"n":5,"hit":5}""",
        bt.body())
      val lt = post(port,
        "SELECT count(*) AS n FROM (SELECT recall_micro - lag(recall_micro) " +
          "OVER (ORDER BY bands) AS d FROM lsh_tuning) WHERE d < 0")
      assert(lt.statusCode() == 200 && lt.body().trim == """{"n":0}""", lt.body())

      // the /ann?lang= attribute frame is session-cached: the SAME frame
      // instance serves every request, and after first use its scan is an
      // InMemoryTableScan, not a fresh documents read
      val a = SqlGateway.attrFrame(spark, dir)
      val b = SqlGateway.attrFrame(spark, dir)
      assert(a eq b, "repeat requests must reuse the cached attribute frame")
      a.count() // materialize the cache
      val plan = a.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"cached attribute frame must serve from memory:\n$plan")
    }
  }

  test("/search serves lexical retrieval off the maintained tf store: term bag, more-like-this, expand, rerank, fuse") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_gw_search").toFile.getAbsolutePath
    spark.conf.set(IndexStore.DirConf, root)
    try {
      val docs = Tables.load(spark, dir, "documents")
      streaming.IndexMaintenance.bootstrapTfStore(spark, dir, docs)
      streaming.IndexMaintenance.bootstrapIvfAssignments(spark, dir,
        Tables.load(spark, dir, "embeddings"))
      Tables.registerAll(spark, dir)
      val gw = SqlGateway.start(spark, corpusDir = dir)
      try {
        val port = gw.port
        def docIds(body: String): Seq[Long] = body.trim.split("\n").toSeq
          .filter(_.nonEmpty)
          .map(l => "\"doc_id\":(-?\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
        // more-like-this: rows equal the library serving path (which the
        // RetrievalServeSpec pins equal to batch q130)
        val r = get(port, "/search?doc_id=3&k=5")
        assert(r.statusCode() == 200, r.body())
        val expect = streaming.IndexMaintenance.searchFromStore(spark, dir,
            docId = Some(3L), k = 5)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        assert(docIds(r.body()) == expect, s"got ${docIds(r.body())} expected $expect")
        // term-bag query: q_id = -1 rows, phrase pulled from the corpus
        val phrase = docs.filter(col("doc_id") === 3L)
          .selectExpr("array_join(slice(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '), 1, 3), ' ')")
          .collect()(0).getString(0)
        val rq = get(port, "/search?k=5&q=" +
          java.net.URLEncoder.encode(phrase, UTF_8))
        assert(rq.statusCode() == 200, rq.body())
        assert(rq.body().trim.split("\n").forall(_.contains("\"q_id\":-1")), rq.body())
        assert(docIds(rq.body()).nonEmpty)
        val expectQ = streaming.IndexMaintenance.searchFromStore(spark, dir,
          qTerms = Seq(phrase), k = 5).toJSON.collect().toSeq
        assert(rq.body().split("\n").toSeq == expectQ, rq.body())
        // knobs answer 200 with rows: expand=rm3, rerank=maxsim, both
        val rx = get(port, "/search?doc_id=3&k=5&expand=rm3")
        assert(rx.statusCode() == 200 && docIds(rx.body()).nonEmpty, rx.body())
        // every job of a rerank request runs in the request's group under
        // a step name (bag, score, rerank)
        var rr: HttpResponse[String] = null
        val rrJobs = jobsDuring { rr = get(port, "/search?doc_id=3&k=5&rerank=maxsim") }
        assert(rr.statusCode() == 200 && docIds(rr.body()).nonEmpty, rr.body())
        assert(rrJobs.nonEmpty && rrJobs.forall(j => j.group.startsWith("graft-gateway-search-") &&
          Seq(": bag", ": score", ": rerank").exists(j.desc.endsWith)), rrJobs)
        val rxr = get(port, "/search?doc_id=3&k=5&expand=rm3&rerank=maxsim")
        assert(rxr.statusCode() == 200 && docIds(rxr.body()).nonEmpty, rxr.body())
        // fuse=rrf: hybrid rows carry both leg ranks and the fused rank
        val rf = get(port, "/search?doc_id=3&k=5&fuse=rrf&probes=4")
        assert(rf.statusCode() == 200, rf.body())
        val fLines = rf.body().trim.split("\n")
        assert(fLines.nonEmpty && fLines.forall(l =>
          l.contains("\"rrf_micro\":") && l.contains("\"item\":")), rf.body())
        // TSV also renders
        assert(get(port, "/search?doc_id=3&k=2&format=TSV").statusCode() == 200)
        // knob validation: symmetric 400s, never silent
        assert(get(port, "/search").statusCode() == 400) // neither q nor doc_id
        assert(get(port, "/search?doc_id=3&q=hello").statusCode() == 400) // both
        assert(get(port, "/search?q=hello&fuse=rrf").statusCode() == 400) // no stored vector
        assert(get(port, "/search?doc_id=3&probes=4").statusCode() == 400) // probes without fuse
        assert(get(port, "/search?doc_id=3&expand=bogus").statusCode() == 400)
        assert(get(port, "/search?doc_id=3&rerank=bogus").statusCode() == 400)
        assert(get(port, "/search?doc_id=3&fuse=bogus").statusCode() == 400)
        assert(get(port, "/search?doc_id=3&k=0").statusCode() == 400)
        // /ann knob symmetry landed with the same change: irrelevant
        // explicit knobs are 400s...
        assert(get(port, "/ann?doc_id=3&short_k=32").statusCode() == 400) // ivf path
        assert(get(port, "/ann?doc_id=3&prefilter=binary&dims=8").statusCode() == 400)
        // ...and probes now COMPOSES the cheap rungs with the stored
        // inverted file (the q166/q167 serving posture): rows equal the
        // library path with the same probes
        val rc = get(port, "/ann?doc_id=3&k=3&prefilter=binary&probes=2")
        assert(rc.statusCode() == 200, rc.body())
        val e = Tables.load(spark, dir, "embeddings")
        val expectC = operators.Similarity.binaryAnnFromStore(spark, dir, topK = 3,
            queriesOpt = Some(e.filter(col("vec_id") === 3)
              .select(col("vec_id"), col("embedding"))),
            probesOpt = Some(2))
          .select("neighbor_id").collect().map(_.getLong(0)).toSeq
        val gotC = rc.body().trim.split("\n").toSeq.map(l =>
          "\"neighbor_id\":(-?\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
        assert(gotC == expectC, s"got $gotC expected $expectC")
        val rcm = get(port, "/ann?doc_id=3&k=3&prefilter=mrl&dims=16&probes=2")
        assert(rcm.statusCode() == 200 &&
          rcm.body().trim.split("\n").length == 3, rcm.body())
      } finally gw.stop()
    } finally spark.conf.unset(IndexStore.DirConf)
  }

  test("stop() shuts the request pool down: no request thread outlives the gateway") {
    import scala.jdk.CollectionConverters._
    def poolThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(SqlGateway.PoolThreadPrefix)).toSet
    val before = poolThreads
    val mine = withGateway { (_, port) =>
      assert(get(port, "/ping").statusCode() == 200)
      poolThreads -- before
    }
    assert(mine.nonEmpty, "the request must run on a named gateway pool thread")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (mine.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!mine.exists(_.isAlive),
      s"pool threads alive after stop(): ${mine.filter(_.isAlive).map(_.getName)}")
  }

  test("/search answers 503 while the tf store is torn and 200 once it heals") {
    val root = java.nio.file.Files.createTempDirectory("graft_gw_torn").toFile.getAbsolutePath
    spark.conf.set(IndexStore.DirConf, root)
    try {
      streaming.IndexMaintenance.bootstrapTfStore(spark, dir, Tables.load(spark, dir, "documents"))
      val gw = SqlGateway.start(spark, corpusDir = dir)
      try {
        val port = gw.port
        assert(get(port, "/search?doc_id=3&k=5").statusCode() == 200)
        // an append's data files landed without its sidecar: a server-side
        // race the next sidecar write heals, not the caller's error
        val store = new java.io.File(
          IndexStore.storePath(root, dir, streaming.IndexMaintenance.TfStoreName))
        val part = store.listFiles().filter(_.getName.endsWith(".parquet")).head
        val extra = new java.io.File(store, "part-torn-extra.parquet")
        java.nio.file.Files.copy(part.toPath, extra.toPath)
        val torn = get(port, "/search?doc_id=3&k=5")
        assert(torn.statusCode() == 503 && torn.body().contains("torn"), torn.body())
        extra.delete()
        val healed = get(port, "/search?doc_id=3&k=5")
        assert(healed.statusCode() == 200, healed.body())
      } finally gw.stop()
    } finally spark.conf.unset(IndexStore.DirConf)
  }
}
