package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{IndexStore, SqlGateway}
import graft.streaming.IndexMaintenance
import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's read surface plus the engine's served retrieval, closed
  * loop: 4 clients (the gateway's pool size) each send their next request
  * when the previous one answers. Two clients rotate through four
  * ClickHouse-`/play` style SQL shapes (`POST /`), each from its own
  * starting point, and two send BM25 term-bag `GET /search` requests; the
  * seed picks each request's parameters. A search costs about seven SQL
  * answers, so with the classes mixed on one client the number of searches
  * in flight, and with it every latency, swung with where the clients
  * stood in their rotations; with fixed roles it stays at two.
  *
  * Before the window, `IndexMaintenance.maintainTfIndex` appends the last
  * 20% of the corpus to the tf store in [[TfBatches]] batches, so searches
  * serve a maintained store (bootstrap files plus one file per append).
  * The appends do not overlap the searches: a `/search` that reads the
  * store while an append is committing is refused as torn (400), which
  * made the number of failed requests differ from run to run.
  *
  * Set-up builds the warehouse through `Warehouse.writeFact` (3 months × 82
  * cities, one reading every [[StepHours]] hours, event times from
  * WeatherFlatten's `ingestTime` column), bootstraps the tf store over 80% of
  * the generated corpus and starts `SqlGateway`.
  */
object Play {
  val Clients = 4
  /** Clients 0 until SqlClients send SQL; the others send searches. */
  val SqlClients = 2
  val Days = 90
  val StepHours = 6
  val Docs = 1500
  val TfBatches = 2
  /** Searches before the window. With one, search latency fell by a fifth
    * across the window (measured on 4 cores: 2.65 s to 2.1 s over six
    * searches per client) as the JIT caught up. */
  val WarmupSearches = 6
  val ParamSets = 3 // distinct parameterizations per request shape
  val Epoch0 = 1735689600L // 2025-01-01T00:00:00Z

  final case class Setup(warehouse: String, corpus: String, index: String,
      gw: SqlGateway.Gateway, writeFactMs: Double, payloads: DataFrame)

  final case class Req(client: Int, kind: String, key: String, startNs: Long, endNs: Long, status: Int, body: String)

  private def date(dayOffset: Int): String =
    java.time.LocalDate.of(2025, 1, 1).plusDays(dayOffset.toLong).toString

  /** The four SQL shapes, each with [[ParamSets]] seeded parameterizations. */
  def sqlPool(seed: Long): IndexedSeq[IndexedSeq[String]] = {
    def u(k: Int, salt: Int) = Gen.unit(seed, k, salt)
    def city(k: Int) = Gen.cityName((u(k, 50) * Gen.Cities).toInt)
    def day(k: Int) = date(1 + (u(k, 51) * (Days - 2)).toInt)
    def month(k: Int) = (u(k, 52) * 3).toInt
    def monthRange(m: Int) = (date(0).replace("-01-01", f"-${m + 1}%02d-01"),
      date(0).replace("-01-01", f"-${m + 2}%02d-01"))
    val ks = 0 until ParamSets
    IndexedSeq(
      ks.map(k => s"SELECT event_time, temperature, humidity, weather_main FROM weather_fact " +
        s"WHERE city_name = '${city(k)}' AND event_date = DATE'${day(k)}' ORDER BY event_time"),
      ks.map { k =>
        val (a, b) = monthRange(month(k))
        s"SELECT hour(event_time) AS h, CAST(avg(temperature) AS DECIMAL(7,2)) AS avg_t, count(*) AS n " +
          s"FROM weather_fact WHERE city_name = '${city(k + 100)}' AND event_date >= DATE'$a' " +
          s"AND event_date < DATE'$b' GROUP BY hour(event_time) ORDER BY h"
      },
      ks.map { k =>
        val (a, b) = monthRange(month(k + 200))
        s"SELECT city_name, count(*) AS n, CAST(avg(temperature) AS DECIMAL(7,2)) AS avg_t, " +
          s"max(wind_speed) AS max_wind FROM weather_fact WHERE event_date >= DATE'$a' " +
          s"AND event_date < DATE'$b' GROUP BY city_name ORDER BY city_name"
      },
      // "since" dates from one band of the last month, so every parameter
      // set scans about the same number of days
      ks.map(k => s"SELECT city_name, max(temperature) AS t_max FROM weather_fact " +
        s"WHERE event_date >= DATE'${date(Days - 25 + (u(k + 300, 53) * 10).toInt)}' " +
        "GROUP BY city_name ORDER BY t_max DESC, city_name LIMIT 10"))
  }

  def searchPool(seed: Long): IndexedSeq[String] =
    (0 until 4 * ParamSets).map(k => Gen.searchBag(seed, k).mkString(" "))

  def docs(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).map(id => (id, Gen.docText(seed, id))).toDF("doc_id", "text")
  }

  private def setup(c: Ctx, i: Int): Setup = {
    val spark = c.spark
    import spark.implicits._
    val seed = c.seed
    val wh = c.path(s"play-$i/warehouse")
    val perCity = Days * 24 / StepHours
    val raw = spark.range(0L, Gen.Cities.toLong * perCity).map { k =>
      Gen.payload(seed, k, (k % Gen.Cities).toInt, Epoch0 + (k / Gen.Cities) * StepHours * 3600L)
    }.toDF("value")
    val t0 = System.nanoTime()
    Trace.span("warehouse", "writeFact")(Warehouse.writeFact(
      WeatherFlatten.apply(raw, ingestTime = timestamp_seconds(col("w")("dt"))), wh))
    val writeMs = c.ms(t0)
    Warehouse.readFact(spark, wh).createOrReplaceTempView("weather_fact")
    val corpus = c.path(s"play-$i/corpus")
    val index = c.path(s"play-$i/index")
    spark.conf.set(IndexStore.DirConf, index)
    Trace.span("index", "bootstrapTfStore")(
      IndexMaintenance.bootstrapTfStore(spark, corpus, docs(spark, seed, 0, Docs * 8 / 10)))
    val gw = Trace.span("gateway", "start")(SqlGateway.start(spark, corpusDir = corpus))
    Setup(wh, corpus, index, gw, writeMs, raw)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val s = c.setups(3)(i => setup(c, i))(_.gw.stop())
    c.st.foreach { st => st.reset(); st.scanRoot = s.warehouse }
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:${s.gw.port}"
    def send(kind: String, key: String, req: String, client: Int = -1): Req = {
      val r =
        if (kind == "search") HttpRequest.newBuilder(URI.create(
          s"$base/search?k=10&q=" + java.net.URLEncoder.encode(key, UTF_8))).GET().build()
        else HttpRequest.newBuilder(URI.create(s"$base/"))
          .POST(HttpRequest.BodyPublishers.ofString(s"/* req=$req */ $key")).build()
      val t0 = System.nanoTime()
      val resp = Trace.span("client", kind, req)(http.send(r, HttpResponse.BodyHandlers.ofString()))
      Req(client, kind, key, t0, System.nanoTime(), resp.statusCode(), resp.body())
    }
    val sqls = sqlPool(c.seed)
    val bags = searchPool(c.seed)

    // The maintainer: the remaining 20% of the corpus, one batch at a time.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val maint: StreamingQuery = IndexMaintenance.maintainTfIndex(
      stream.toDF().toDF("doc_id", "text"), s.corpus, c.path("play-tf-checkpoint"))
    val boot = Docs * 8 / 10
    val per = (Docs - boot) / TfBatches
    Trace.span("workload", "tf-appends") {
      for (b <- 0 until TfBatches) {
        val from = boot + b * per
        stream.addData((from until from + per).map(id => (id.toLong, Gen.docText(c.seed, id.toLong))))
        maint.processAllAvailable()
      }
    }
    val tfBatchMs = maint.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue).toSeq
    maint.stop()
    // Warm-up, untimed: each statement once and [[WarmupSearches]]
    // searches, so the window measures served requests rather than
    // first-use code generation and the JIT.
    Trace.span("workload", "warm-up") {
      val jobs = sqls.flatten.map(q => () => send("sql", q, "warm-up")) ++
        bags.take(WarmupSearches).map(b => () => send("search", b, "warm-up"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
      try pool.invokeAll(jobs.map(j => (() => j()): java.util.concurrent.Callable[Req]).asJava)
      finally pool.shutdown()
    }
    c.st.foreach(_.reset())
    val gc0 = Jvm.gcMs()
    val done = new ConcurrentLinkedQueue[Req]()
    val t0 = System.nanoTime()
    val deadline = t0 + c.seconds * 1000000000L
    val clients = (0 until Clients).map { ci =>
      new Thread(() => {
        var j = 0
        while (System.nanoTime() < deadline) {
          val k = ci * 1000000L + j
          val param = (Gen.unit(c.seed, k, 41) * ParamSets).toInt
          val rq =
            if (ci >= SqlClients) send("search", bags((Gen.unit(c.seed, k, 42) * bags.size).toInt), s"c$ci-$j", ci)
            else {
              val pick = (ci + j) % sqls.size // a fixed rotation through the SQL shapes
              send(s"sql${pick + 1}", sqls(pick)(param), s"c$ci-$j", ci)
            }
          done.add(rq)
          j += 1
        }
      }, s"perfbench-client-$ci")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val windowMs = c.ms(t0)
    val gcMs = Jvm.gcMs() - gc0
    val snap = c.st.map(_.snapshot())

    val reqs = done.asScala.toSeq
    // Timed: the requests answered within the window, each of which ran
    // while all clients were sending. Requests still in flight at the
    // deadline ran against a thinning load; they are checked, not timed.
    val timed = reqs.filter(_.endNs <= deadline)
    def ms(r: Req) = (r.endNs - r.startNs) / 1e6
    val sqlOk = timed.filter(r => r.kind != "search" && r.status == 200)
    val sqlMs = sqlOk.map(ms)
    val searchMs = timed.filter(r => r.kind == "search" && r.status == 200).map(ms)
    // SQL latency is the mean of the four shapes' medians. The shapes differ
    // in cost and are sent equally often, so the median of all SQL answers
    // falls in the gap between the second and third shape.
    val shapeP50 = sqlOk.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) => k -> Stats.median(rs.map(ms)) }
    val sqlLatencyMs = if (shapeP50.isEmpty) 0.0 else shapeP50.map(_._2).sum / shapeP50.size
    // Completed requests per second per client. A client's rate covers its
    // answers within the window, from the window start to its last one; for
    // a SQL client only whole rotations through the four shapes count, so
    // the rate does not depend on which shape the deadline cuts. Refusals
    // are counted in `failed`, not in the rate.
    val clientRate = timed.groupBy(_.client).toSeq.map { case (ci, rs) =>
      val per = if (ci < SqlClients) sqls.size else 1
      val whole = rs.sortBy(_.startNs).take(rs.size / per * per)
      ci -> (if (whole.isEmpty) 0.0
      else whole.count(_.status == 200) / ((whole.map(_.endNs).max - t0) / 1e9))
    }
    // End to end: the search side only. SQL latency and the all-request
    // rate moved by a fifth to a third between runs of the same code (whole
    // runs shift together on a shared host, the cheapest shape too), more
    // than the benchmark's largest bound; they are per-layer metrics and
    // record fields instead.
    c.e2e("latency_ms") = Stats.median(searchMs)
    c.e2e("rate_per_s") = clientRate.collect { case (ci, r) if ci >= SqlClients => r }.sum
    c.record ++= Stats.fields("sql", sqlMs) ++ Stats.fields("search", searchMs) ++ Seq(
      "sql_latency_ms" -> Json.num(sqlLatencyMs),
      "sql_shape_p50_ms" -> Json.obj(shapeP50.map { case (k, v) => k -> Json.num(v) }),
      "requests_per_s" -> Json.num(clientRate.map(_._2).sum),
      "search_ms" -> searchMs.map(Json.num).mkString("[", ",", "]"),
      "requests" -> reqs.size.toString,
      "requests_timed" -> timed.size.toString,
      "requests_by_kind" -> Json.obj(reqs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) => k -> v.size.toString }),
      "warehouse_rows" -> Warehouse.readFact(spark, s.warehouse).count().toString,
      "write_fact_ms" -> Json.num(s.writeFactMs))

    // Output checks. Every request must answer 200; every SQL answer must
    // equal the same statement run directly (the warehouse is static); at
    // the end, /search must equal searchFromStore on the final store.
    c.attempted = reqs.size.toLong
    reqs.filter(_.status != 200).foreach(r => c.fail(s"${r.kind} answered ${r.status}: ${r.body.take(200)}"))
    def lines(body: String) = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.sorted
    def direct(sql: String) = spark.sql(sql).limit(SqlGateway.DefaultMaxRows + 1).toJSON.collect().toSeq.sorted
    val diffs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for ((key, rs) <- reqs.filter(r => r.kind != "search" && r.status == 200).groupBy(_.key)) {
      val t1 = System.nanoTime()
      val want = direct(key)
      val directMs = c.ms(t1)
      rs.filter(r => lines(r.body) != want).foreach(_ => c.wrongOutput(s"SQL answer differs from spark.sql: ${key.take(120)}"))
      if (c.trace) {
        val h = send("sql", key, "check")
        diffs += (h.endNs - h.startNs) / 1e6 - directMs
      }
    }
    for (bag <- bags.take(1)) {
      c.attempted += 1
      val h = send("search", bag, "check")
      val want = IndexMaintenance.searchFromStore(spark, s.corpus, qTerms = Seq(bag), k = 10)
        .toJSON.collect().toSeq.sorted
      if (h.status != 200) c.fail(s"/search check answered ${h.status}: ${h.body.take(200)}")
      else if (lines(h.body) != want) c.wrongOutput(s"/search differs from searchFromStore: $bag")
    }

    snap.foreach { sn =>
      Layers.common(c, sn, ops = reqs.size.toDouble, windowMs, gcMs)
      val l = c.layer
      val nSql = math.max(1, reqs.count(_.kind != "search"))
      l("warehouse.files_read_per_req") = sn.qes.map(_.files).sum.toDouble / nSql
      l("warehouse.bytes_read_per_req") = sn.qes.map(_.bytes).sum.toDouble / nSql
      l("gateway.http_minus_direct_ms_p50") = Stats.median(diffs.toSeq)
      l("gateway.sql_ms_p50") = sqlLatencyMs
      l("gateway.requests_per_s") = clientRate.map(_._2).sum
      for (code <- Seq(200, 400, 500, 504)) l(s"gateway.status_$code") = reqs.count(_.status == code).toDouble
      l("index.tf_batches") = tfBatchMs.size.toDouble
      l("index.tf_batch_ms_p50") = Stats.median(tfBatchMs)
      val store = new java.io.File(IndexStore.storePath(s.index, s.corpus, IndexMaintenance.TfStoreName))
      l("index.tf_store_files_end") = Option(store.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")).toDouble
      l("warehouse.write_ms_bulk") = s.writeFactMs
      Layers.warehouseFiles(c, s.warehouse)
      val payloads = s.payloads.as[String].collect().toSeq
      Layers.flatten(c, payloads)
      Layers.warehouseWrite(c, payloads.take(90), Nil)
    }
  }
}
