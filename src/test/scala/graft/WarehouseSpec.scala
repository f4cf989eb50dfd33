package graft

import java.nio.file.Files

import graft.weather.{Warehouse, WeatherFlatten}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The MergeTree-analog storage layout (SURVEY.md §2.1 S7 / §4): month
  * directory partitioning must prune scans, sorted writes must cluster.
  */
class WarehouseSpec extends SparkSpec {

  test("writes month partitions and prunes reads on event_month") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_spec").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"Jan","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"AlsoJan","main":{"temp":2.0}}""", "2024-01-20 00:00:00"),
      ("""{"name":"Feb","main":{"temp":3.0}}""", "2024-02-10 00:00:00"))
      .toDF("value", "ing")
    val fact = WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType))
    Warehouse.writeFact(fact, dir)

    val dirs = new java.io.File(dir).list().filter(_.startsWith("event_month=")).sorted
    assert(dirs.toSeq == Seq("event_month=202401", "event_month=202402"))

    val pruned = Warehouse.readFact(spark, dir).filter(col("event_month") === "202401")
    assert(pruned.count() == 2)
    // Partition pruning: only the 202401 directory's files are touched.
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("event_month=202401")))
  }

  test("deleteRows removes matches, rewrites only affected months, drops emptied ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_delete").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"KeepA","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"Target","main":{"temp":2.0}}""", "2024-01-20 00:00:00"),
      ("""{"name":"KeepB","main":{"temp":3.0}}""", "2024-02-10 00:00:00"),
      ("""{"name":"Target","main":{"temp":4.0}}""", "2024-03-05 00:00:00"))
      .toDF("value", "ing")
    Warehouse.writeFact(WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType)), dir)
    def fileOf(month: String): Set[String] =
      new java.io.File(s"$dir/event_month=$month").list().filter(_.endsWith(".parquet")).toSet
    val febBefore = fileOf("202402")

    // March holds ONLY the target → its directory must vanish; January
    // must be rewritten without the target; February must be untouched.
    val n = Warehouse.deleteRows(spark, dir, col("city_name") === "Target")
    assert(n == 2L, s"deleted $n rows")
    val back = Warehouse.readFact(spark, dir)
    assert(back.filter(col("city_name") === "Target").count() == 0)
    assert(back.count() == 2)
    assert(!new java.io.File(s"$dir/event_month=202403").exists(),
      "fully-deleted month directory must be dropped")
    assert(fileOf("202402") == febBefore, "unaffected month must not be rewritten")

    // no-match delete is a no-op returning 0
    assert(Warehouse.deleteRows(spark, dir, col("city_name") === "Nobody") == 0L)
    assert(Warehouse.readFact(spark, dir).count() == 2)
  }

  test("deleteRows keeps rows whose predicate evaluates to NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_delnull").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"Hot","main":{"temp":30.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"Cold","main":{"temp":1.0}}""", "2024-01-16 00:00:00"),
      ("""{"name":"NoTemp","main":{}}""", "2024-01-17 00:00:00"))
      .toDF("value", "ing")
    Warehouse.writeFact(WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType)), dir)
    // temp > 20 is NULL for NoTemp: DELETE semantics keep that row — it is
    // neither counted as deleted nor dropped from the rewrite.
    val n = Warehouse.deleteRows(spark, dir, col("temperature") > 20.0)
    assert(n == 1L, s"deleted $n rows, expected exactly the TRUE-predicate row")
    val names = Warehouse.readFact(spark, dir)
      .select("city_name").collect().map(_.getString(0)).toSet
    assert(names == Set("Cold", "NoTemp"),
      s"NULL-predicate row must survive the delete; got $names")
  }

  test("crash between overwrite and dir drop: reader refuses, completeDelete recovers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_delcrash").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"Keep","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"Doomed","main":{"temp":2.0}}""", "2024-03-05 00:00:00"))
      .toDF("value", "ing")
    Warehouse.writeFact(WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType)), dir)

    // Simulated kill in the non-atomic window: sidecar written, dynamic
    // overwrite done, but the emptied 202403 directory NOT yet dropped.
    val n = Warehouse.deleteRows(spark, dir, col("city_name") === "Doomed",
      crashBeforeDirDrop = true)
    assert(n == 1L)
    assert(new java.io.File(s"$dir/event_month=202403").exists(),
      "precondition: crash left the doomed month directory behind")

    // The reader must refuse loudly instead of resurrecting Doomed's rows.
    val ex = intercept[IllegalStateException] { Warehouse.readFact(spark, dir) }
    assert(ex.getMessage.contains("interrupted delete") &&
      ex.getMessage.contains("202403"), ex.getMessage)

    // Recovery finishes the drop, clears the sidecar, and reads are clean.
    val dropped = Warehouse.completeDelete(spark, dir)
    assert(dropped == Seq("202403"), s"dropped $dropped")
    assert(!new java.io.File(s"$dir/event_month=202403").exists())
    val back = Warehouse.readFact(spark, dir)
    assert(back.count() == 1 &&
      back.select("city_name").head().getString(0) == "Keep")
    // completeDelete is idempotent when there is nothing to finish
    assert(Warehouse.completeDelete(spark, dir).isEmpty)
  }

  test("compact rewrites accumulated small files to one per month, data intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_compact").toFile.getAbsolutePath
    def appendBatch(city: String, temp: Double): Unit = {
      val raw = Seq((s"""{"name":"$city","main":{"temp":$temp}}""", "2024-03-05 00:00:00"))
        .toDF("value", "ing")
      Warehouse.writeFact(WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType)), dir)
    }
    (1 to 3).foreach(i => appendBatch(s"City$i", i.toDouble)) // 3 appends → 3 files

    def monthFiles() = new java.io.File(s"$dir/event_month=202403")
      .list().count(_.endsWith(".parquet"))
    assert(monthFiles() == 3)

    Warehouse.compact(spark, dir)
    assert(monthFiles() == 1, "one sorted file per month after compaction")
    val back = Warehouse.readFact(spark, dir)
    assert(back.count() == 3)
    assert(back.select("city_name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("City1", "City2", "City3"))
  }

  test("hot-month batch fans out across bucket files; cold month stays single-file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_hot").toFile.getAbsolutePath
    // Skewed batch: 2000 March rows across 40 cities (hot at threshold
    // 500), 5 April rows (cold).
    val rows = (1 to 2000).map { i =>
      (java.sql.Date.valueOf("2024-03-15"), "City%02d".format(i % 40),
        java.sql.Timestamp.valueOf("2024-03-15 %02d:00:00".format(i % 24)), i.toDouble)
    } ++ (1 to 5).map { i =>
      (java.sql.Date.valueOf("2024-04-02"), s"City0$i",
        java.sql.Timestamp.valueOf("2024-04-02 01:00:00"), i.toDouble)
    }
    val fact = rows.toDF("event_date", "city_name", "event_time", "temperature")
      .repartition(8)
    Warehouse.writeFact(fact, dir, hotMonthRows = 500L, hotBuckets = 4)

    def files(month: String) = new java.io.File(s"$dir/event_month=$month")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files("202403").length > 1 && files("202403").length <= 4,
      s"hot month wrote ${files("202403").length} files")
    assert(files("202404").length == 1, "cold month must keep the one-file layout")

    // Every hot file is internally sorted by the warehouse sort key, and
    // the city-hash fan-out keeps each city's rows in exactly one file
    // (row-group min/max skipping on city survives).
    val citySets = files("202403").map { f =>
      val content = spark.read.parquet(f.getAbsolutePath)
        .select("event_date", "city_name", "event_time").collect()
        .map(r => (r.getDate(0).toString, r.getString(1), r.getTimestamp(2).toString))
      assert(content.toSeq == content.toSeq.sorted, s"${f.getName} not sorted")
      content.map(_._2).toSet
    }
    for (Seq(a, b) <- citySets.toSeq.combinations(2))
      assert(a.intersect(b).isEmpty, "a city leaked into two bucket files")
    assert(Warehouse.readFact(spark, dir).count() == 2005)
  }

  test("crash BEFORE the kept-months overwrite: completeDelete + re-run deleteRows fully recovers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_precrash").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"KeepA","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"Target","main":{"temp":2.0}}""", "2024-01-20 00:00:00"), // mixed month
      ("""{"name":"Target","main":{"temp":3.0}}""", "2024-03-05 00:00:00")) // doomed month
      .toDF("value", "ing")
    Warehouse.writeFact(WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType)), dir)

    // interruption lands after the sidecar write, before the overwrite:
    // the mixed month still holds its Target row
    Warehouse.deleteRows(spark, dir, col("city_name") === "Target",
      crashBeforeDirDrop = false, format = Warehouse.FactFormat, crashBeforeOverwrite = true)
    val refusal = intercept[IllegalStateException](Warehouse.readFact(spark, dir))
    assert(refusal.getMessage.contains("RE-RUN deleteRows"),
      "refusal must carry the two-step recovery recipe")

    // the documented recipe: completeDelete (drop step), then re-run the
    // delete with the original predicate (idempotent overwrite step)
    val dropped = Warehouse.completeDelete(spark, dir)
    assert(dropped == Seq("202403"), s"dropped $dropped")
    val n = Warehouse.deleteRows(spark, dir, col("city_name") === "Target")
    assert(n == 1L, s"re-run must remove the mixed month's surviving match, removed $n")
    val back = Warehouse.readFact(spark, dir)
    assert(back.filter(col("city_name") === "Target").count() == 0,
      "recovery must leave no pred-matching rows anywhere")
    assert(back.count() == 1L)
  }

  test("ORC round trip: same layout, pruning, sortedness, and delete semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_orc").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"Jan","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"AlsoJan","main":{"temp":2.0}}""", "2024-01-20 00:00:00"),
      ("""{"name":"Target","main":{"temp":3.0}}""", "2024-02-10 00:00:00"))
      .toDF("value", "ing")
    val fact = WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType))
    Warehouse.writeFact(fact, dir, format = "orc")

    // month layout + files are ORC, not parquet
    val dirs = new java.io.File(dir).list().filter(_.startsWith("event_month=")).sorted
    assert(dirs.toSeq == Seq("event_month=202401", "event_month=202402"))
    val janFiles = new java.io.File(s"$dir/event_month=202401").list()
      .filter(_.endsWith(".orc"))
    assert(janFiles.nonEmpty, "expected ORC data files")

    // pruned read through the same entry point
    val pruned = Warehouse.readFact(spark, dir, "orc")
      .filter(col("event_month") === "202401")
    assert(pruned.count() == 2)
    val touched = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(touched.forall(_.contains("event_month=202401")), "ORC read must partition-prune")

    // within-file sort order (the row-group min/max story is codec-portable)
    val content = spark.read.orc(s"$dir/event_month=202401")
      .select("event_date", "city_name", "event_time").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getTimestamp(2).toString))
    assert(content.toSeq == content.toSeq.sorted, "ORC file not sorted by the warehouse key")

    // delete path: emptied-month drop + sidecar behavior are format-agnostic
    val n = Warehouse.deleteRows(spark, dir, col("city_name") === "Target", "orc")
    assert(n == 1L)
    assert(!new java.io.File(s"$dir/event_month=202402").exists(),
      "fully-deleted ORC month directory must be dropped")
    assert(Warehouse.readFact(spark, dir, "orc").count() == 2)
  }

  test("format sidecar: default-format entry points resolve an ORC warehouse; codec conflicts refuse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_fmt").toFile.getAbsolutePath
    val raw = Seq(
      ("""{"name":"Jan","main":{"temp":1.0}}""", "2024-01-15 00:00:00"),
      ("""{"name":"Feb","main":{"temp":2.0}}""", "2024-02-10 00:00:00"))
      .toDF("value", "ing")
    val fact = WeatherFlatten(raw, ingestTime = col("ing").cast(TimestampType))
    Warehouse.writeFact(fact, dir, format = "orc")

    // the directory records its codec, and the DEFAULT-format entry
    // points (readFact/compact/3-arg deleteRows) resolve through it
    // instead of failing with a parquet read error
    assert(Warehouse.readFormatSidecar(spark, dir).contains("orc"))
    assert(Warehouse.readFact(spark, dir).count() == 2)
    Warehouse.compact(spark, dir)
    assert(new java.io.File(s"$dir/event_month=202401").list()
      .exists(_.endsWith(".orc")), "default-format compact must keep ORC")
    assert(Warehouse.deleteRows(spark, dir, col("city_name") === "Feb") == 1L)
    assert(Warehouse.readFact(spark, dir).count() == 1)

    // appending the other codec into the same directory refuses loudly
    val e = intercept[IllegalStateException] {
      Warehouse.writeFact(fact, dir) // parquet default vs recorded orc
    }
    assert(e.getMessage.contains("mixed codecs"))
  }

  test("interleaved clustering: city-only predicates skip row groups the linear layout scans") {
    import spark.implicits._
    import org.apache.spark.sql.types.DateType
    val hconf = spark.sparkContext.hadoopConfiguration
    val savedBlock = Option(hconf.get("parquet.block.size"))
    // Small row groups so one month yields MANY of them — the skip
    // arithmetic below is about group-level min/max stats, not files.
    hconf.setInt("parquet.block.size", 8 * 1024)
    try {
      val cities = (for { a <- 'A' to 'P'; b <- 'a' to 'd' } yield s"$a$b City").toSeq
      val rows = for { d <- 1 to 28; c <- cities; h <- 0 until 24 }
        yield (f"2024-01-$d%02d", c, f"2024-01-$d%02d $h%02d:00:00", d * 100 + h)
      val fact = rows.toDF("event_date", "city_name", "event_time", "temp")
        .select(col("event_date").cast(DateType), col("city_name"),
          col("event_time").cast(TimestampType), col("temp"))
      val linDir = Files.createTempDirectory("graft_wh_lin").toFile.getAbsolutePath
      val zDir = Files.createTempDirectory("graft_wh_zord").toFile.getAbsolutePath
      Warehouse.writeFact(fact, linDir)
      Warehouse.writeFact(fact, zDir, clustering = Warehouse.ClusterInterleaved)

      // per-ROW-GROUP (min, max) of city_name and event_date, straight
      // from the parquet footers — the exact statistics a scan's
      // predicate pushdown consults.
      import scala.jdk.CollectionConverters._
      def groups(dir: String): Seq[Map[String, (String, String)]] =
        new java.io.File(s"$dir/event_month=202401").listFiles().toSeq
          .filter(_.getName.endsWith(".parquet")).flatMap { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), hconf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getFooter.getBlocks.asScala.toSeq.map { b =>
              b.getColumns.asScala
                .filter(c => Set("city_name", "event_date", "event_time")(c.getPath.toDotString))
                .map { c =>
                  val (mn, mx) = c.getStatistics match {
                    case bs: org.apache.parquet.column.statistics.BinaryStatistics =>
                      (bs.genericGetMin.toStringUsingUTF8, bs.genericGetMax.toStringUsingUTF8)
                    case st => (st.genericGetMin.toString, st.genericGetMax.toString)
                  }
                  c.getPath.toDotString -> (mn, mx)
                }.toMap
            } finally r.close()
          }
      def cityCandidates(gs: Seq[Map[String, (String, String)]], t: String): Int =
        gs.count { g => val (mn, mx) = g("city_name"); mn <= t && t <= mx }
      val lin = groups(linDir)
      val z = groups(zDir)
      assert(lin.size >= 8 && z.size >= 8,
        s"fixture must span many row groups, got lin=${lin.size} z=${z.size}")
      // City-only predicate, averaged over every city (a single target
      // city's count is sensitive to rectangle boundaries): linear
      // (date, city, time) order re-crosses each city once per date
      // slice, so every city is a candidate in ~one group per day; the
      // interleaved curve keeps a city's rows in a few (day-range ×
      // city-range) rectangles, so its per-city candidate count is
      // bounded by the curve's city-axis splits, independent of days.
      def meanCityCandidates(gs: Seq[Map[String, (String, String)]]): Double =
        cities.map(c => cityCandidates(gs, c)).sum.toDouble / cities.size
      val (cLin, cZ) = (meanCityCandidates(lin), meanCityCandidates(z))
      assert(cZ * 2 <= cLin,
        s"interleaved must at least halve mean city candidates: z=$cZ lin=$cLin")
      assert(cZ <= z.size / 4.0,
        s"interleaved must skip ≥3/4 of groups for a city predicate: $cZ/${z.size}")
      // The curve trades, not destroys, date clustering: a date-only
      // predicate must still skip most interleaved groups.
      // DATE is INT32 days-since-epoch in parquet stats — compare numerically
      def dateCandidates(gs: Seq[Map[String, (String, String)]], day: Long): Int =
        gs.count { g =>
          val (mn, mx) = g("event_date"); mn.toLong <= day && day <= mx.toLong
        }
      val dayNum = java.time.LocalDate.of(2024, 1, 15).toEpochDay
      assert(dateCandidates(z, dayNum) <= z.size / 2,
        s"date predicate must still skip most interleaved groups: " +
          s"${dateCandidates(z, dayNum)}/${z.size}")
      // THIRD dimension (hour bits): each interleaved group covers a
      // narrow (day-range × hour-range) rectangle, so hour(min_ts)..
      // hour(max_ts) — EXACT rectangle hour bounds when the rectangle is
      // populated at its corners — bound the group's hours. A raw
      // timestamp min/max interval can't skip an hour-band alone once a
      // group spans >1 day (midnight wrap covers every hour), which is
      // exactly what happens to the LINEAR layout's whole-day groups;
      // the Z rectangle is what restores hour-band skippability to a
      // layout-aware reader (or a derived hour stats column). Wrapped
      // spans are treated as covering all hours (conservative).
      def hourCandidates(gs: Seq[Map[String, (String, String)]], h: Int): Int =
        gs.count { g =>
          val (mn, mx) = g("event_time")
          val (lo, hi) = ((mn.toLong / 3600000000L % 24).toInt,
            (mx.toLong / 3600000000L % 24).toInt)
          if (lo <= hi) h >= lo && h <= hi else h >= lo || h <= hi
        }
      val hLin = (0 until 24).map(hourCandidates(lin, _)).sum / 24.0
      val hZ = (0 until 24).map(hourCandidates(z, _)).sum / 24.0
      assert(hZ <= 0.8 * hLin,
        s"hour-band predicates must skip interleaved groups the linear " +
          s"layout scans: z=$hZ lin=$hLin over ${z.size}/${lin.size} groups")
      // Layout is physical only: both warehouses hold identical rows.
      val key = Seq("event_time", "city_name")
      val linBack = Warehouse.readFact(spark, linDir).drop("event_month")
      val zBack = Warehouse.readFact(spark, zDir).drop("event_month")
        .select(linBack.columns.map(col): _*)
      val a = linBack.orderBy(key.map(col): _*).collect().toSeq
      val b = zBack.orderBy(key.map(col): _*).collect().toSeq
      assert(a == b, "clustering changed data content")
      // compact is the re-cluster entry point: rewrite the LINEAR
      // warehouse interleaved in place and the same skip shape appears.
      Warehouse.compact(spark, linDir, clustering = Warehouse.ClusterInterleaved)
      val re = groups(linDir)
      assert(re.size >= 8, s"recompacted month must keep many row groups: ${re.size}")
      assert(meanCityCandidates(re) <= re.size / 4.0,
        s"recompacted layout must skip like a direct interleaved write: " +
          s"${meanCityCandidates(re)}/${re.size}")
      assert(Warehouse.readFact(spark, linDir).count() == rows.size,
        "recompaction changed row count")
      // The layout choice now lives in the warehouse, not the caller's
      // head: the re-cluster stamped the sidecar, so a DEFAULT
      // maintenance compact preserves the interleaved layout instead of
      // silently re-linearizing it (ADVICE r13) …
      assert(Warehouse.readClusteringSidecar(spark, linDir)
        .contains(Warehouse.ClusterInterleaved))
      Warehouse.compact(spark, linDir)
      assert(meanCityCandidates(groups(linDir)) <= groups(linDir).size / 4.0,
        "default compact re-linearized a recorded-interleaved warehouse")
      assert(Warehouse.readClusteringSidecar(spark, linDir)
        .contains(Warehouse.ClusterInterleaved))
      // … and a recorded-LINEAR warehouse stays linear under default
      // compact (zDir was written interleaved, so use a fresh linear one).
      val lin2 = Files.createTempDirectory("graft_wh_lin2").toFile.getAbsolutePath
      Warehouse.writeFact(fact, lin2)
      Warehouse.compact(spark, lin2)
      assert(Warehouse.readClusteringSidecar(spark, lin2)
        .contains(Warehouse.ClusterLinear))
      // linear groups re-cross each city once per date slice, so the mean
      // city-candidate count stays ABOVE the interleaved layout's
      // size/4 bound — the shape the interleaved assertion excludes.
      assert(meanCityCandidates(groups(lin2)) > groups(lin2).size / 4.0,
        "default compact of a linear warehouse should keep the linear " +
          "date-major group shape")
    } finally savedBlock match {
      case Some(v) => hconf.set("parquet.block.size", v)
      case None    => hconf.unset("parquet.block.size")
    }
  }

  test("rank ordinals past the cardinality gate come from sampled boundaries, order-preserved") {
    import spark.implicits._
    // 70k distinct names > CityRankExactMax → the sampled path; the
    // driver never holds more than the sample (takeSample of the full
    // 70k here, bounded at RankSampleRows in general).
    val n = Warehouse.CityRankExactMax + 4000
    val df = (0 until n).map(i => f"city_$i%06d").toDF("city_name")
    val (aug, ord) = Warehouse.withCityOrdinal(df)
    val got = aug.select(col("city_name"), ord.as("o"))
      .orderBy(col("city_name")).as[(String, Int)].collect()
    assert(got.length == n)
    // order preservation: ordinal monotone non-decreasing in name order —
    // the property the Morton curve requires of its rank dimension.
    assert(got.sliding(2).forall(p => p.head._2 <= p.last._2),
      "sampled ordinals must be monotone in the dimension order")
    // 16-bit spread: the HIGH bits must carry the variation.
    assert(got.head._2 < 2048 && got.last._2 > 60000,
      s"ordinals must span the 16-bit range: ${got.head._2}..${got.last._2}")
    // ~equal bucket population (boundaries are rank-sampled, not hashed):
    // no ordinal value may hold a disproportionate share.
    val byOrd = got.groupBy(_._2).map(_._2.length)
    assert(byOrd.max <= 8 * (n / Warehouse.SampledRankBuckets),
      s"bucket skew: max=${byOrd.max} for ~${n / Warehouse.SampledRankBuckets} expected")
  }

  test("sorted_bucket_index: codegen agrees with interpreted eval; malformed args refuse") {
    import graft.functions.expressions.SortedBucketIndex
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val bounds = Seq("b", "d", "f", "h")
    val values = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "")
    // codegen path (whole-stage over the projection)
    val viaPlan = values.toDF("v")
      .select(col("v"), call_function("sorted_bucket_index", col("v"),
        typedLit(bounds)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // interpreted parity + the upper-bound semantics (count of ≤)
    val expr = SortedBucketIndex(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StringType, nullable = false), bounds.toArray)
    values.foreach { v =>
      val e = expr.eval(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      assert(e == viaPlan(v), s"codegen/eval disagree on '$v'")
      assert(e == bounds.count(_ <= v), s"wrong bucket for '$v'")
    }
    // unsorted boundaries refuse loudly (the curve needs order)
    intercept[Exception] {
      values.toDF("v").select(call_function("sorted_bucket_index", col("v"),
        typedLit(Seq("z", "a")))).collect()
    }
    // non-foldable boundaries refuse at plan time
    intercept[Exception] {
      values.toDF("v").select(call_function("sorted_bucket_index", col("v"),
        array(col("v")))).collect()
    }
  }

  test("a batch of at most hotMonthRows rows writes the same files with the month count skipped") {
    import spark.implicits._
    // startCountOrTime passes hotMonthRows = 0 for such a flush: no month
    // can be hot, so skipping the count must not change the layout
    val fact = (1 to 60).map { i =>
      val d = if (i % 3 == 0) "2024-02-10" else "2024-01-15"
      (java.sql.Date.valueOf(d), "City%02d".format(i % 7),
        java.sql.Timestamp.valueOf(s"$d %02d:00:00".format(i % 24)), i.toDouble)
    }.toDF("event_date", "city_name", "event_time", "temperature").repartition(3)
    val plainDir = Files.createTempDirectory("graft_wh_plain").toFile.getAbsolutePath
    val skipDir = Files.createTempDirectory("graft_wh_skip").toFile.getAbsolutePath
    Warehouse.writeFact(fact, plainDir, hotMonthRows = 60L, hotBuckets = 4)
    Warehouse.writeFact(fact, skipDir, hotMonthRows = 0L, hotBuckets = 4)
    def layout(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_month=")).map { m =>
        m.getName -> m.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          spark.read.parquet(f.getAbsolutePath).select("city_name", "event_time").collect()
            .map(r => (r.getString(0), r.getTimestamp(1).toString)).toSeq
        }.toSeq
      }.toMap
    assert(layout(skipDir) == layout(plainDir))
    assert(layout(skipDir).size == 2 && layout(skipDir).values.forall(_.size == 1),
      "expected one file in each of the two months")
  }

  test("writeFact: a one-partition frame writes without an exchange, in the layout a many-partition frame gets") {
    import spark.implicits._
    // two months, distinct sort keys, so each file's row order is fixed
    val fact = (1 to 60).map { i =>
      val d = if (i % 3 == 0) "2024-02-10" else "2024-01-15"
      (java.sql.Date.valueOf(d), "City%02d".format(i % 7),
        java.sql.Timestamp.valueOf(s"$d %02d:%02d:00".format(i % 24, i)), i.toDouble)
    }.toDF("event_date", "city_name", "event_time", "temperature")
    // one file read back is one partition, and only planning says so
    val src = Files.createTempDirectory("graft_wh_one_src").toFile.getAbsolutePath + "/f"
    fact.coalesce(1).write.parquet(src)
    val one = spark.read.parquet(src)
    val many = fact.repartition(3)
    assert(Warehouse.onePartition(one) && !Warehouse.onePartition(many))
    val oneDir = Files.createTempDirectory("graft_wh_one").toFile.getAbsolutePath
    val manyDir = Files.createTempDirectory("graft_wh_many").toFile.getAbsolutePath
    val oneJobs = jobsDuring(Warehouse.writeFact(one, oneDir, hotMonthRows = 0L))
    val manyJobs = jobsDuring(Warehouse.writeFact(many, manyDir, hotMonthRows = 0L))
    assert(oneJobs.size == 1 && !oneJobs.exists(_.shuffles), oneJobs)
    assert(manyJobs.exists(_.shuffles), s"the many-partition write planned no exchange: $manyJobs")
    def layout(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_month=")).map { m =>
        m.getName -> m.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          spark.read.parquet(f.getAbsolutePath).collect().map(_.toSeq).toSeq
        }.toSeq
      }.toMap
    assert(layout(oneDir).size == 2 && layout(oneDir).values.forall(_.size == 1),
      "expected one file in each of the two months")
    assert(layout(oneDir) == layout(manyDir))
    assert(layout(oneDir).values.map(_.head.size).sum == 60)
  }

  test("format sidecar: an append it already describes leaves it alone; an overwrite restamps it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wh_fmt_keep").toFile.getAbsolutePath
    val fact = Seq((java.sql.Date.valueOf("2024-01-15"), "Kazan",
      java.sql.Timestamp.valueOf("2024-01-15 01:00:00"), 1.0))
      .toDF("event_date", "city_name", "event_time", "temperature")
    val sidecar = java.nio.file.Paths.get(dir, Warehouse.FormatSidecar)
    Warehouse.writeFact(fact, dir)
    // same record, different bytes: a rewrite would show
    Files.write(sidecar, "parquet\nlinear\n".getBytes("UTF-8"))
    Files.delete(java.nio.file.Paths.get(dir, s".${Warehouse.FormatSidecar}.crc"))
    Warehouse.writeFact(fact, dir)
    assert(new String(Files.readAllBytes(sidecar), "UTF-8") == "parquet\nlinear\n")
    Warehouse.writeFact(fact, dir, clustering = Warehouse.ClusterInterleaved)
    assert(Warehouse.readClusteringSidecar(spark, dir).contains(Warehouse.ClusterInterleaved))
    Warehouse.writeFact(fact, dir, mode = "overwrite", clustering = Warehouse.ClusterInterleaved)
    assert(Warehouse.readFormatSidecar(spark, dir).contains("parquet"))
    assert(Warehouse.readFact(spark, dir).count() == 1)
  }

  test("count-or-time batcher: one count job per micro-batch, each step's jobs named after the caller's") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = Files.createTempDirectory("graft_wh_batcher").toFile.getAbsolutePath
    val dir = s"$root/warehouse"
    def rows(d: String, n: Int) = (1 to n).map { i =>
      (java.sql.Date.valueOf(d), s"City$i", java.sql.Timestamp.valueOf(s"$d 01:00:00"), i.toDouble)
    }.toDF("event_date", "city_name", "event_time", "temperature")
    val batcher = new streaming.CountOrTimeBatcher(s"$root/staging", batchSize = 5L,
      maxAgeMs = Long.MaxValue, clock = () => 0L)(Warehouse.writeFact(_, dir))
    val sc = spark.sparkContext
    val group = "wh-" + java.util.UUID.randomUUID()
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val d = e.properties.getProperty("spark.job.description")
          if (d == "marker") marked.countDown() else descs.add(d)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "batch 7")
      batcher.add(rows("2024-01-15", 3)) // 3 < 5: staged
      batcher.add(rows("2024-02-10", 3)) // 6 >= 5: staged + this batch flush
      assert(sc.getLocalProperty("spark.job.description") == "batch 7",
        "the caller's description must be restored")
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val steps = descs.asScala.toSeq
    assert(steps.count(_ == "batch 7: count") == 2, steps)
    assert(steps.contains("batch 7: stage") && steps.contains("batch 7: flush"), steps)
    // the frame-only flush pays writeFact's month count, under its own
    // step; the flush's own jobs are parquet's schema inference over the
    // staged deltas, the write's exchange (staged ∪ batch is many
    // partitions) and the write
    assert(steps.contains("batch 7: flush: months"), steps)
    assert(steps.count(_ == "batch 7: flush") == 3, steps)
    assert(steps.forall(Set("batch 7: count", "batch 7: stage", "batch 7: flush",
      "batch 7: flush: months")), steps)
    // a cold flush still writes one file per month
    def files(month: String) = new java.io.File(s"$dir/event_month=$month")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("202401") == 1 && files("202402") == 1)
    assert(Warehouse.readFact(spark, dir).count() == 6 && batcher.pendingRows == 0)
  }
}
