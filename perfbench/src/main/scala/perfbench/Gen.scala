package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its seed
  * and arguments: the same seed gives the same bytes. The program under
  * test only ever sees what these produce; the expected outputs (models)
  * are derived alongside, from the clean values each dirty input encodes.
  */
object Gen {

  /** An independent stream per (seed, purpose, index). */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + index))

  def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** 64-bit hash of a canonical row rendering (two independent murmur3
    * passes); the ETL model and the warehouse check hash rows the same way.
    */
  def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  // ------------------------------------------------------------ etl_ingest

  /** Shape of the dirty Socrata arrest feed. Shares are of raw rows. */
  final case class EtlParams(batchRows: Int, repeatShare: Double,
                             inBatchDupShare: Double, dropShare: Double,
                             lateShare: Double, upperHeaderEvery: Int)

  val Cols: Seq[String] = Seq("arrest_key", "arrest_date", "pd_cd", "pd_desc",
    "ky_cd", "ofns_desc", "law_code", "law_cat_cd", "arrest_boro",
    "arrest_precinct", "jurisdiction_code", "age_group", "perp_sex",
    "perp_race", "x_coord_cd", "y_coord_cd", "latitude", "longitude")

  /** The cleaned row a raw row must turn into (null = SQL NULL). */
  final case class Clean(key: String, date: LocalDate, pdCd: String,
                         pdDesc: String, kyCd: String, ofnsDesc: String,
                         lawCode: String, lawCat: String, boro: String,
                         precinct: Int, juris: String, age: String,
                         sex: String, race: String, x: String, y: String,
                         lat: Double, lon: Double) {
    /** Canonical rendering shared with the warehouse check. */
    def render: String = Clean.render(Seq(key, date.toString, pdCd, pdDesc,
      kyCd, ofnsDesc, lawCode, lawCat, boro, precinct.toString, juris, age,
      sex, race, x, y, lat.toString, lon.toString))
  }
  object Clean {
    def render(fields: Seq[String]): String =
      fields.map(f => if (f == null) "\u0000" else f).mkString("\u0001")
  }

  private val Offenses = Vector(
    ("101", "ASSAULT 3", "344", "ASSAULT 3 & RELATED OFFENSES", "PL 1200001"),
    ("105", "ROBBERY,OPEN AREA UNCLASSIFIED", "397", "ROBBERY", "PL 1601005"),
    ("109", "LARCENY,PETIT FROM OPEN AREAS,", "321", "PETIT LARCENY", "PL 1552500"),
    ("110", "GRAND LARCENY", "439", "GRAND LARCENY", "PL 1553000"),
    ("117", "DANGEROUS DRUGS", "511", "CONTROLLED SUBSTANCE, POSSESSI", "PL 2200300"),
    ("121", "CRIMINAL MISCHIEF", "259", "CRIMINAL MISCHIEF 4TH, GRAFFIT", "PL 1450000"),
    ("126", "MISCELLANEOUS PENAL LAW", "759", "PUBLIC ADMINISTRATION,UNCLASSI", "PL 1950000"),
    ("344", "ASSAULT 3 & RELATED OFFENSES", "101", "ASSAULT 3", "PL 1200500"),
    ("348", "VEHICLE AND TRAFFIC LAWS", "922", "TRAFFIC,UNCLASSIFIED MISDEMEAN", "VTL051101A"),
    ("578", "HARRASSMENT 2", "638", "HARASSMENT,SUBD 3,4,5", "PL 2402603"))
  private val Boros = Vector("B" -> "Bronx", "K" -> "Brooklyn", "M" -> "Manhattan",
    "Q" -> "Queens", "S" -> "Staten Island")
  private val Ages = Vector("<18", "18-24", "25-44", "45-64", "65+")
  private val Races = Vector("BLACK", "WHITE HISPANIC", "WHITE", "BLACK HISPANIC",
    "ASIAN / PACIFIC ISLANDER", "AMERICAN INDIAN/ALASKAN NATIVE", "UNKNOWN")
  private val LawCats = Vector("F", "M", "V", "I", "U")
  val EtlEpoch: LocalDate = LocalDate.of(2021, 1, 4)

  def weekStart(batch: Int): LocalDate = EtlEpoch.plusDays(7L * batch)

  private def key(seed: Long, n: Long): String =
    (100000000L + Math.floorMod(Gen.mix(seed) + n * 7919L, 800000000L)).toString

  /** One clean arrest; `n` is the global key ordinal, so keys are unique
    * per ordinal and repeat exactly when an ordinal is reused.
    */
  private def clean(r: SplittableRandom, k: String, date: LocalDate): Clean = {
    val (pd, pdDesc, ky, ofns, law) = Offenses(r.nextInt(Offenses.length))
    val boro = r.nextInt(20) match {
      case 0 => null
      case 1 => "X"
      case i => Boros(i % Boros.length)._2
    }
    val precinct = if (r.nextInt(25) == 0) -1 else 1 + r.nextInt(123)
    val (lat, lon) =
      if (r.nextInt(30) == 0) (0.0, 0.0)
      else (40.5 + r.nextInt(400000) / 1e6, -74.2 + r.nextInt(500000) / 1e6)
    Clean(k, date, pd, pdDesc, ky, ofns, law, LawCats(r.nextInt(LawCats.length)),
      boro, precinct, if (r.nextInt(10) == 0) null else r.nextInt(98).toString,
      Ages(r.nextInt(Ages.length)), Vector("M", "F", "U")(r.nextInt(3)),
      Races(r.nextInt(Races.length)),
      (900000 + r.nextInt(150000)).toString, (120000 + r.nextInt(150000)).toString,
      lat, lon)
  }

  private def q(s: String): String = "\"" + s + "\""

  /** A JSON field rendering of a clean string that transform must map back
    * (trim, '' → NULL, missing → NULL).
    */
  private def dirtyString(r: SplittableRandom, v: String, lower: Boolean): Option[String] =
    if (v == null) r.nextInt(4) match {
      case 0 => None
      case 1 => Some("null")
      case 2 => Some(q(""))
      case _ => Some(q("  "))
    } else {
      val cased = if (lower && r.nextInt(3) == 0) v.toLowerCase else v
      Some(q(if (r.nextInt(8) == 0) s" $cased " else cased))
    }

  private def dirtyDate(r: SplittableRandom, d: LocalDate): String = {
    val millis = d.toEpochDay * 86400000L
    r.nextInt(10) match {
      case 0 => q(millis.toString)             // epoch millis as a string
      case 1 => millis.toString                 // epoch millis as a JSON number
      case 2 => q(d.toString)
      case _ => q(s"${d}T00:00:00.000")         // Socrata floating timestamp
    }
  }

  private def dirtyLawCat(r: SplittableRandom, v: String): Option[String] =
    if (v == "U") r.nextInt(5) match {
      case 0 => Some(q("NONE")); case 1 => Some(q("")); case 2 => Some(q("9"))
      case 3 => Some("null"); case _ => None
    } else Some(q(if (r.nextBoolean()) v.toLowerCase else v))

  private def dirtyBoro(r: SplittableRandom, v: String): Option[String] = v match {
    case null => if (r.nextBoolean()) None else Some("null")
    case "X" => Some(q("X"))
    case name =>
      val code = Boros.find(_._2 == name).get._1
      Some(q(if (r.nextInt(4) == 0) code.toLowerCase else code))
  }

  private def dirtySex(r: SplittableRandom, v: String): Option[String] = v match {
    case "U" => r.nextInt(4) match {
      case 0 => Some(q("U")); case 1 => Some(q("Z")); case 2 => Some("null"); case _ => None
    }
    case s => Some(q(if (r.nextBoolean()) s.toLowerCase else s))
  }

  private def dirtyPrecinct(r: SplittableRandom, v: Int): Option[String] =
    if (v == -1) (if (r.nextBoolean()) None else Some(q("n/a")))
    else Some(q(if (r.nextInt(4) == 0) s"$v.0" else v.toString))

  private def dirtyCoord(r: SplittableRandom, v: Double): Option[String] =
    if (v == 0.0) (if (r.nextBoolean()) None else Some(q("junk")))
    else Some(q(v.toString))

  private def render(r: SplittableRandom, c: Clean, upper: Boolean,
                     dateJson: String, keyJson: Option[String]): String = {
    val fields: Seq[(String, Option[String])] = Seq(
      "arrest_key" -> keyJson,
      "arrest_date" -> Option(dateJson),
      "pd_cd" -> dirtyString(r, c.pdCd, lower = false),
      "pd_desc" -> dirtyString(r, c.pdDesc, lower = true),
      "ky_cd" -> dirtyString(r, c.kyCd, lower = false),
      "ofns_desc" -> dirtyString(r, c.ofnsDesc, lower = true),
      "law_code" -> dirtyString(r, c.lawCode, lower = true),
      "law_cat_cd" -> dirtyLawCat(r, c.lawCat),
      "arrest_boro" -> dirtyBoro(r, c.boro),
      "arrest_precinct" -> dirtyPrecinct(r, c.precinct),
      "jurisdiction_code" -> dirtyString(r, c.juris, lower = false),
      "age_group" -> dirtyString(r, c.age, lower = true),
      "perp_sex" -> dirtySex(r, c.sex),
      "perp_race" -> dirtyString(r, c.race, lower = true),
      "x_coord_cd" -> dirtyString(r, c.x, lower = false),
      "y_coord_cd" -> dirtyString(r, c.y, lower = false),
      "latitude" -> dirtyCoord(r, c.lat),
      "longitude" -> dirtyCoord(r, c.lon))
    val sb = new StringBuilder("{")
    var first = true
    fields.foreach { case (name, v) =>
      v.foreach { json =>
        if (!first) sb.append(',')
        first = false
        sb.append(q(if (upper) name.toUpperCase else name)).append(':').append(json)
      }
    }
    // the geo-point struct transform drops
    if (c.lat != 0.0) sb.append(s""","lon_lat":{"type":"Point","coordinates":[${c.lon},${c.lat}]}""")
    sb.append('}').toString
  }

  /** One raw batch: the JSONL lines, plus for every line the clean row it
    * must become (None = transform must drop it). `loaded` is the number of
    * key ordinals earlier batches introduced; repeats draw from them.
    */
  final case class EtlBatch(lines: Array[String], expected: Array[Option[Clean]],
                            upperHeaders: Boolean, newKeys: Int)

  def etlBatch(seed: Long, p: EtlParams, batch: Int, loaded: Int): EtlBatch = {
    val r = rng(seed, 1, batch)
    val upper = p.upperHeaderEvery > 0 && batch % p.upperHeaderEvery == p.upperHeaderEvery - 1
    val lines = new Array[String](p.batchRows)
    val expected = new Array[Option[Clean]](p.batchRows)
    val week = weekStart(batch)
    var next = loaded // next fresh key ordinal
    var i = 0
    while (i < p.batchRows) {
      val u = r.nextDouble()
      val day = week.plusDays(r.nextInt(6).toLong) // day 6 is kept for dup copies
      if (u < p.dropShare) {
        // dirty enough to drop: blank/missing key or unparseable date
        val k = key(seed, next); next += 1
        val c = clean(r, k, day)
        lines(i) = r.nextInt(5) match {
          case 0 => render(r, c, upper, dirtyDate(r, day), None)
          case 1 => render(r, c, upper, dirtyDate(r, day), Some("null"))
          case 2 => render(r, c, upper, dirtyDate(r, day), Some(q("")))
          case 3 => render(r, c, upper, dirtyDate(r, day), Some(q("   ")))
          case _ => render(r, c, upper, q("not-a-date"), Some(q(k)))
        }
        expected(i) = None
      } else if (u < p.dropShare + p.repeatShare && loaded > 0) {
        // an already-loaded key with a new payload: first writer keeps it
        val k = key(seed, r.nextInt(loaded).toLong)
        val c = clean(r, k, day)
        lines(i) = render(r, c, upper, dirtyDate(r, day), Some(q(k)))
        expected(i) = Some(c)
      } else if (u < p.dropShare + p.repeatShare + p.lateShare && batch >= 2) {
        // a late arrival dated before the warehouse watermark
        val k = key(seed, next); next += 1
        val late = weekStart(batch - 2 - r.nextInt(math.min(batch - 1, 4))).plusDays(r.nextInt(7).toLong)
        val c = clean(r, k, late)
        lines(i) = render(r, c, upper, dirtyDate(r, late), Some(q(k)))
        expected(i) = Some(c)
      } else {
        val k = key(seed, next); next += 1
        val c = clean(r, k, day)
        lines(i) = render(r, c, upper, dirtyDate(r, day), Some(q(k)))
        expected(i) = Some(c)
        if (i + 1 < p.batchRows && r.nextDouble() < p.inBatchDupShare) {
          // a second copy in the same batch, later date: the earlier wins
          val c2 = clean(r, k, week.plusDays(6))
          i += 1
          lines(i) = render(r, c2, upper, dirtyDate(r, c2.date), Some(q(k)))
          expected(i) = Some(c2)
        }
      }
      i += 1
    }
    EtlBatch(lines, expected, upper, next - loaded)
  }

  // ------------------------------------------------------------ text_dedup

  final case class TextParams(docs: Int, shards: Int, vocab: Int, zipfS: Double,
                              docChars: Int, plantedShare: Double,
                              clusterSize: Int, mutateWords: Int)

  /** A shard of the corpus and its planted near-duplicate pairs (exact
    * character 3-gram Jaccard of each, as the engine computes it).
    */
  final case class Shard(ids: Array[Long], texts: Array[String],
                         planted: Seq[(Long, Long, Double)])

  // letters by English frequency; words draw them skewed toward the front
  private val Alphabet: String = "etaoinshrdlucmfwypvbgkjqxz"

  def vocabulary(seed: Long, p: TextParams): Array[String] = {
    val r = rng(seed, 2)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](p.vocab)
    var i = 0
    while (i < p.vocab) {
      val len = 2 + r.nextInt(9)
      val sb = new StringBuilder
      var j = 0
      while (j < len) {
        // skewed letter choice: common letters dominate, as in real text
        val a = r.nextDouble()
        val idx = (a * a * Alphabet.length).toInt
        sb.append(Alphabet.charAt(idx))
        j += 1
      }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); cdf(i) = acc; i += 1 }
    i = 0
    while (i < n) { cdf(i) /= acc; i += 1 }
    cdf
  }

  private def draw(r: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def grams(s: String, n: Int = 3): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    var i = 0
    while (i + n <= s.length) { set.add(s.substring(i, i + n)); i += 1 }
    if (s.length < n) set.add(s)
    set
  }

  def jaccard(a: String, b: String): Double = {
    val ga = grams(a); val gb = grams(b)
    val small = if (ga.size <= gb.size) ga else gb
    val big = if (small eq ga) gb else ga
    var inter = 0
    small.forEach(g => if (big.contains(g)) inter += 1)
    inter.toDouble / (ga.size + gb.size - inter)
  }

  def shard(seed: Long, p: TextParams, vocab: Array[String], s: Int): Shard = {
    val r = rng(seed, 3, s)
    val cdf = zipfCdf(vocab.length, p.zipfS)
    val n = p.docs / p.shards
    val ids = Array.tabulate(n)(i => s.toLong * 1000000L + i)
    val words = new Array[Array[String]](n)
    def freshDoc(): Array[String] = {
      val b = Array.newBuilder[String]
      var chars = 0
      while (chars < p.docChars) {
        val w = vocab(draw(r, cdf)); b += w; chars += w.length + 1
      }
      b.result()
    }
    val planted = Seq.newBuilder[(Long, Long, Double)]
    val nPlanted = (n * p.plantedShare).toInt / p.clusterSize * p.clusterSize
    var i = 0
    while (i < nPlanted) {
      val base = freshDoc()
      words(i) = base
      var m = 1
      while (m < p.clusterSize) {
        val v = base.clone()
        var k = 0
        while (k < p.mutateWords) { v(r.nextInt(v.length)) = vocab(draw(r, cdf)); k += 1 }
        words(i + m) = v
        m += 1
      }
      i += p.clusterSize
    }
    while (i < n) { words(i) = freshDoc(); i += 1 }
    val texts = words.map(_.mkString(" "))
    // every within-cluster pair is planted; its exact Jaccard is recorded
    var c = 0
    while (c < nPlanted) {
      for (a <- c until c + p.clusterSize; b <- a + 1 until c + p.clusterSize)
        planted += ((ids(a), ids(b), jaccard(texts(a), texts(b))))
      c += p.clusterSize
    }
    Shard(ids, texts, planted.result())
  }

  // ------------------------------------------------------------ table_commits

  final case class TableParams(rows: Int, files: Int, mergeRows: Int,
                               mergeDeleteShare: Double, mergeInsertShare: Double,
                               dvRows: Int, readRows: Int)

  /** Payload of one table row; the key is kept beside it. */
  final case class TRow(grp: Int, qty: Int, v: Double, name: String)

  def tableRow(r: SplittableRandom): TRow = {
    val len = 6 + r.nextInt(10)
    val sb = new StringBuilder
    var j = 0
    while (j < len) { sb.append(('a' + r.nextInt(26)).toChar); j += 1 }
    TRow(r.nextInt(1000), r.nextInt(100000), r.nextInt(10000000) / 100.0, sb.toString)
  }

  /** Row `id` of the initial table: a function of (seed, id) alone, so the
    * engine can generate the table in parallel and the model can recompute
    * any row without storing it.
    */
  def initialRow(seed: Long, id: Long): TRow = tableRow(rng(seed, 4, id))
}
