package graft.perfbench

/** Seeded input generators. Every value is a pure function of the seed and
  * an index, so the same seed gives the same inputs in any order and on any
  * thread.
  */
object Gen {
  val Cities = 82

  /** splitmix64: the per-index random source. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(seed: Long, k: Long, salt: Int): Double =
    (mix(mix(seed * 31 + salt) ^ k) >>> 11).toDouble / (1L << 53).toDouble

  def cityName(i: Int): String = f"city_$i%02d"

  private val WeatherMain = Array("Clear", "Clouds", "Rain", "Snow", "Mist", "Drizzle")

  /** Degenerate payload shapes (FIXTURES.md §B.1) at fixed shares over the
    * event index: malformed 1 in 53 (dropped by the flattener), empty
    * `weather` 1 in 17, missing `sys` 1 in 13, missing `wind.gust` 1 in 5. */
  def isMalformed(seed: Long, k: Long): Boolean = Math.floorMod(k + seed, 53L) == 0L

  /** One OpenWeatherMap current-weather payload for city `city` at epoch
    * second `dt`; `k` is the event index that selects the degenerate shape. */
  def payload(seed: Long, k: Long, city: Int, dt: Long): String = {
    def u(salt: Int) = unit(seed, k, salt)
    def r2(x: Double) = math.rint(x * 100) / 100
    if (isMalformed(seed, k)) return s"""{"name":"${cityName(city)}","main":{"temp":"""
    val lon = r2(30 + unit(seed, city, 1) * 100)
    val lat = r2(42 + unit(seed, city, 2) * 28)
    val temp = r2(-25 + u(3) * 60)
    val wx =
      if (Math.floorMod(k + seed, 17L) == 1L) "[]"
      else {
        val m = WeatherMain((u(4) * WeatherMain.length).toInt)
        s"""[{"id":${800 + (u(5) * 40).toInt},"main":"$m","description":"${m.toLowerCase} sky","icon":"01d"}]"""
      }
    val gust = if (Math.floorMod(k + seed, 5L) == 2L) "" else s""","gust":${r2(u(6) * 25)}"""
    val sys =
      if (Math.floorMod(k + seed, 13L) == 3L) ""
      else s""","sys":{"country":"RU","sunrise":${dt - 20000},"sunset":${dt + 20000}}"""
    s"""{"name":"${cityName(city)}","timezone":10800,"visibility":${(u(7) * 10000).toInt},""" +
      s""""dt":$dt,"coord":{"lon":$lon,"lat":$lat},"weather":$wx,""" +
      s""""main":{"temp":$temp,"feels_like":${r2(temp - u(8) * 4)},"temp_min":${r2(temp - 2)},""" +
      s""""temp_max":${r2(temp + 2)},"pressure":${990 + (u(9) * 40).toInt},"humidity":${(u(10) * 100).toInt}},""" +
      s""""wind":{"speed":${r2(u(11) * 15)},"deg":${(u(12) * 360).toInt}$gust},""" +
      s""""clouds":{"all":${(u(13) * 100).toInt}}$sys}"""
  }

  // ---- documents: a Zipf(1) vocabulary, seeded token bags ----

  val Vocab = 5000
  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  def word(rank: Int): String = s"w$rank"

  private def zipfRank(x: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, x)
    math.min(Vocab - 1, if (i >= 0) i else -i - 1)
  }

  def docText(seed: Long, docId: Long): String = {
    val n = 30 + (unit(seed, docId, 20) * 60).toInt
    (0 until n).map(j => word(zipfRank(unit(seed, docId * 131 + j, 21)))).mkString(" ")
  }

  /** A search term bag: three terms from one frequency band (ranks
    * 100–399), so every bag costs about the same to serve and the seed
    * changes which terms are asked, not how much work they take. */
  def searchBag(seed: Long, k: Long): Seq[String] =
    (0 until 3).map(j => word(100 + (unit(seed, k * 7 + j, 31) * 300).toInt))
}
