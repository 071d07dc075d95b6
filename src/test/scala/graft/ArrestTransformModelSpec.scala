package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.ArrestPipeline
import graft.ops.{Transforms => T}

/** The reference model of [[ArrestPipeline.transform]]: the reference's
  * cleaning steps (SURVEY §3.1) as one chained DataFrame step each, in the
  * reference's order, composed from the DataFrame-level [[T]] helpers.
  */
object ChainedArrestTransform {
  import ArrestPipeline.{ArrestSchema, StringCols, UpperCols}

  def apply(raw: DataFrame): DataFrame = {
    var df = T.normalizeColumnCase(raw)
    df = T.requireColumns(df, Seq("arrest_key", "arrest_date"))
    df = (StringCols ++ Seq("law_cat_cd", "arrest_precinct", "latitude", "longitude"))
      .foldLeft(df)((d, c) => T.addMissingColumn(d, c, lit(null: String)))
    df = T.dropIfPresent(df, "lon_lat")
    df = T.filterNonBlank(
      T.dropNullKeys(df, Seq("arrest_key", "arrest_date")),
      Seq("arrest_key", "arrest_date"))
    df = df.withColumn("arrest_date",
        T.dateOrEpochMillis(col("arrest_date").cast("string")))
      .filter(col("arrest_date").isNotNull)
    df = StringCols.foldLeft(df)((d, c) =>
      d.withColumn(c, nullif(trim(coalesce(col(c).cast("string"), lit(""))), lit(""))))
    df = df.withColumn("law_cat_cd", T.lawCategoryGuard(col("law_cat_cd")))
    df = df.withColumn("perp_sex", T.sexGuard(col("perp_sex")))
    df = df.withColumn("arrest_precinct", T.lenientInt(col("arrest_precinct")))
      .withColumn("latitude", T.lenientDouble(col("latitude")))
      .withColumn("longitude", T.lenientDouble(col("longitude")))
    df = T.fillSentinels(df, Map("arrest_precinct" -> -1),
      Map("latitude" -> 0.0, "longitude" -> 0.0))
    df = df.withColumn("arrest_boro",
      T.mapWithPassthrough(upper(col("arrest_boro")), T.BoroughMap))
    df = T.upperCols(df, UpperCols)
    df.select(ArrestSchema.fieldNames.map(col).toIndexedSeq: _*)
  }
}

/** The one-select [[ArrestPipeline.transform]] against the chained model,
  * over every dirty variant of FIXTURES.md §1: same schema, same rows.
  */
class ArrestTransformModelSpec extends SparkSuite {
  import spark.implicits._

  private def json(lines: Seq[String]): DataFrame = {
    val f = Files.createTempFile("arrests", ".jsonl")
    Files.write(f, lines.mkString("\n").getBytes)
    spark.read.json(f.toString)
  }

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  private def assertSame(raw: DataFrame): Unit = {
    val got = ArrestPipeline.transform(raw)
    val want = ChainedArrestTransform(raw)
    assert(got.schema == want.schema,
      s"schema: ${got.schema.treeString} vs model ${want.schema.treeString}")
    val (g, w) = (rendered(got), rendered(want))
    assert(g.nonEmpty)
    assert(g == w, s"rows differ:\n${g.mkString("\n")}\nmodel:\n${w.mkString("\n")}")
  }

  private val full = Seq(
    """{"arrest_key":"261265483","arrest_date":"2023-01-02T00:00:00.000","pd_cd":"397","pd_desc":"robbery,open area","ky_cd":"105","ofns_desc":"robbery","law_code":"pl 1601005","law_cat_cd":"F","arrest_boro":"K","arrest_precinct":"73","jurisdiction_code":"0","age_group":"25-44","perp_sex":"M","perp_race":"black","x_coord_cd":"1007286","y_coord_cd":"183350","latitude":"40.669880","longitude":"-73.911437","lon_lat":{"type":"Point","coordinates":[-73.911437,40.66988]}}""",
    // epoch millis (string), float-leak precinct, lower-case codes
    """{"arrest_key":"K2","arrest_date":"1672617600000","law_cat_cd":"f","arrest_boro":"q","arrest_precinct":"83.0","perp_sex":"m","latitude":" ","longitude":"NaN"}""",
    // unparseable date, null/empty/whitespace keys
    """{"arrest_key":"K3","arrest_date":"not-a-date"}""",
    """{"arrest_key":null,"arrest_date":"2023-01-04"}""",
    """{"arrest_key":"","arrest_date":"2023-01-04"}""",
    """{"arrest_key":"   ","arrest_date":"2023-01-04"}""",
    """{"arrest_key":"K5","arrest_date":"  "}""",
    """{"arrest_key":"K6"}""",
    // law-cat / sex / borough domains, junk coordinates, whitespace padding
    """{"arrest_key":"K7","arrest_date":"2023-01-05","law_cat_cd":"NONE","arrest_boro":"X","perp_sex":"Z","latitude":"junk","longitude":"NaN","pd_desc":"  padded  "}""",
    """{"arrest_key":"K8","arrest_date":"2023-01-06","law_cat_cd":"","arrest_boro":null,"perp_sex":null,"arrest_precinct":"x"}""",
    """{"arrest_key":"K9","arrest_date":"2023-01-07","law_cat_cd":"9","arrest_boro":"B","perp_sex":"F","arrest_precinct":" 12 "}""",
    """{"arrest_key":"K10","arrest_date":"2023-01-08","law_cat_cd":" m ","arrest_boro":"s","perp_sex":"u"}""",
    """{"arrest_key":"K11","arrest_date":"2023-01-09","law_cat_cd":null,"arrest_boro":"M","perp_sex":" f "}""",
    // out-of-range epoch millis: null date, dropped
    """{"arrest_key":"K12","arrest_date":"99999999999999999"}""",
    // duplicate key, different payload (dedup happens at load)
    """{"arrest_key":"261265483","arrest_date":"2023-01-02","pd_desc":"second copy","law_cat_cd":"M"}""")

  test("one-select transform == chained model: dirty Socrata JSON, lon_lat struct") {
    assertSame(json(full))
  }

  test("one-select transform == chained model: upper-case headers") {
    val header = "\"([a-z_]+)\":".r
    assertSame(json(full.map(l =>
      header.replaceAllIn(l, m => "\"" + m.group(1).toUpperCase + "\":"))))
  }

  test("one-select transform == chained model: missing optional columns") {
    assertSame(json(Seq(
      """{"arrest_key":"K1","arrest_date":"2023-01-02"}""",
      """{"arrest_key":"K2","arrest_date":"1672617600000"}""",
      """{"arrest_key":" ","arrest_date":"2023-01-02"}""")))
    assertSame(json(Seq(
      """{"ARREST_KEY":"K1","ARREST_DATE":"2023-01-02","PERP_SEX":"f","LATITUDE":"40.1"}""")))
  }

  test("one-select transform == chained model: numeric keys, dates and coordinates") {
    // JSON numbers infer as long/double: numeric epoch millis, a numeric
    // key, double coordinates with NaN and a double precinct
    assertSame(json(Seq(
      """{"arrest_key":101,"arrest_date":1672617600000,"arrest_precinct":83.0,"latitude":40.5,"longitude":-73.9}""",
      """{"arrest_key":102,"arrest_date":1672704000000,"arrest_precinct":7,"latitude":"NaN","longitude":null}""",
      """{"arrest_key":null,"arrest_date":1672704000000}""")))
    val schema = StructType(Seq(
      StructField("arrest_key", DoubleType), StructField("arrest_date", StringType),
      StructField("arrest_precinct", DoubleType), StructField("latitude", DoubleType),
      StructField("longitude", FloatType), StructField("lon_lat", ArrayType(DoubleType))))
    val rows = Seq(
      Row(1.0, "2023-01-02", 83.0, Double.NaN, Float.NaN, Seq(1.0, 2.0)),
      Row(Double.NaN, "2023-01-02", 1.0, 40.0, 1.5f, null), // NaN key: na.drop drops it
      Row(null, "2023-01-02", null, null, null, null),
      Row(2.0, "2023-01-03", Double.NaN, Double.PositiveInfinity, null, null),
      Row(3.0, "bad", 1.0, 1.0, 1.0f, null))
    assertSame(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  test("one-select transform == chained model on a one-row-per-variant grid") {
    // every (law_cat, borough, sex, precinct) variant of FIXTURES.md §1
    val grid = for {
      (law, i) <- Seq("F", "f", "NONE", "", "9", null).zipWithIndex
      (boro, j) <- Seq("B", "K", "M", "Q", "S", "X", null).zipWithIndex
      (sex, k) <- Seq("m", "F", "U", "Z", null).zipWithIndex
      prec <- Seq(None, Some("73"), Some("73.0"))
    } yield (s"G$i-$j-$k-${prec.getOrElse("-")}", "2023-03-01", law, boro, sex, prec.orNull)
    assertSame(grid.toDF("arrest_key", "arrest_date", "law_cat_cd", "arrest_boro",
      "perp_sex", "arrest_precinct"))
  }
}
