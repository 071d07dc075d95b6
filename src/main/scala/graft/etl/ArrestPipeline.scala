package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Transforms => T, Warehouse => W}

/** The reference ETL pipeline (emmanuel24699/nypd-arrest-etl) re-expressed
  * as three composable `DataFrame => DataFrame` stages. Semantics follow
  * SURVEY.md §1.4/§3.1: operator order is preserved where it is
  * load-bearing; the §1.5 quirks are implemented *fixed* (documented per
  * step). The "warehouse" is a parquet directory; upsert is first-writer-
  * wins via anti-join (scripts/load.py:114-147).
  */
object ArrestPipeline {

  /** Warehouse schema — DDL at reference scripts/setup_db.py:33-54. */
  val ArrestSchema: StructType = StructType(Seq(
    StructField("arrest_key", StringType, nullable = false),
    StructField("arrest_date", DateType, nullable = false),
    StructField("pd_cd", StringType),
    StructField("pd_desc", StringType),
    StructField("ky_cd", StringType),
    StructField("ofns_desc", StringType),
    StructField("law_code", StringType),
    StructField("law_cat_cd", StringType),
    StructField("arrest_boro", StringType),
    StructField("arrest_precinct", IntegerType),
    StructField("jurisdiction_code", StringType),
    StructField("age_group", StringType),
    StructField("perp_sex", StringType),
    StructField("perp_race", StringType),
    StructField("x_coord_cd", StringType),
    StructField("y_coord_cd", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType)))

  val StringCols: Seq[String] = Seq("pd_cd", "pd_desc", "ky_cd", "ofns_desc",
    "law_code", "arrest_boro", "jurisdiction_code", "age_group", "perp_sex",
    "perp_race", "x_coord_cd", "y_coord_cd")

  val UpperCols: Seq[String] = Seq("pd_desc", "ofns_desc", "law_code",
    "age_group", "perp_race")

  /** Stage 2 — transform (scripts/transform.py:48-176, operator order from
    * SURVEY §3.1). Input: raw Socrata/CSV-shaped frame (all strings or
    * inferred); output: the 18-column cleaned frame.
    *
    * One key/date filter, then one projection with one expression per
    * output column: the step order of the reference survives inside each
    * expression (a column is trimmed before it is upper-cased, guarded
    * or mapped), and a chain of per-step `withColumn`s would re-analyze
    * an ever deeper plan at every step.
    */
  def transform(raw: DataFrame): DataFrame = {
    // P1 rename: upper-case headers → lower (transform.py:68-73)
    // P5 required-column validation (extract.py:118-122)
    val df = T.requireColumns(T.normalizeColumnCase(raw), Seq("arrest_key", "arrest_date"))
    // P2 missing expected columns read as NULL strings (transform.py:74-76);
    // P3 the nested geo struct `lon_lat` is simply never selected
    // (transform.py:94-97)
    val have = df.columns.toSet
    def in(c: String): Column = if (have(c)) col(c) else lit(null: String)
    // E4+E5 lenient date parse with epoch-millis fallback
    // (transform.py:38-46, :109-115)
    val date = T.dateOrEpochMillis(col("arrest_date").cast("string"))
    // F1 null keys (transform.py:101, `na.drop`: NaN counts as null) + F2
    // blank keys (transform.py:102-103); §1.5 fix: drop rows whose date is
    // STILL unparseable (reference would violate its NOT NULL at load)
    val keep = Seq("arrest_key", "arrest_date").map { k =>
      val present = df.schema(k).dataType match {
        case FloatType | DoubleType => col(k).isNotNull && !isnan(col(k))
        case _ => col(k).isNotNull
      }
      present && trim(col(k)) =!= ""
    }.reduce(_ && _) && date.isNotNull
    // E1 stringify + ''-for-missing → net-NULL warehouse semantics (§1.4):
    // we keep NULL (the reference's empty strings become NULL at COPY).
    def str(c: String): Column = nullif(trim(T.castToStringEmptyNull(in(c))), lit(""))
    val out: Map[String, Column] = StringCols.map(c => c -> str(c)).toMap ++
      // E10 uppercase normalization (transform.py:152-159)
      UpperCols.map(c => c -> upper(str(c))) ++ Map(
      "arrest_key" -> col("arrest_key"),
      "arrest_date" -> date,
      // E2 law-cat domain guard (transform.py:27-35 + load.py:128-131)
      "law_cat_cd" -> T.lawCategoryGuard(in("law_cat_cd")),
      // E12 sex domain guard (load.py:136-139)
      "perp_sex" -> T.sexGuard(str("perp_sex")),
      // E3 borough map with passthrough (transform.py:148-150)
      "arrest_boro" -> T.mapWithPassthrough(upper(str("arrest_boro")), T.BoroughMap),
      // E7/E8 lenient numeric casts (§1.5 fix: "83.0" → 83) + E9 sentinel
      // fills (transform.py:137, :144-145) with `na.fill`'s rules: NaN is
      // missing too for the coordinates
      "arrest_precinct" -> coalesce(T.lenientInt(in("arrest_precinct")), lit(-1)),
      "latitude" -> coalesce(nanvl(T.lenientDouble(in("latitude")), lit(null)), lit(0.0)),
      "longitude" -> coalesce(nanvl(T.lenientDouble(in("longitude")), lit(null)), lit(0.0)))
    // P4 project to the exact load schema (load.py:182-192)
    df.filter(keep).select(ArrestSchema.fieldNames.map(c => out(c).as(c)).toIndexedSeq: _*)
  }

  /** Stage 3 — load: first-writer-wins upsert into a parquet warehouse
    * (scripts/load.py:107-159). Returns inserted-row count; idempotent.
    */
  def load(cleaned: DataFrame, warehouseDir: String): Long =
    W.upsertIntoParquet(cleaned, warehouseDir,
      keys = Seq("arrest_key"),
      tiebreak = ArrestSchema.fieldNames.filterNot(_ == "arrest_key").map(col).toIndexedSeq)

  /** Incremental extract filter (extract.py:63 + :103): rows after the
    * warehouse high-water-mark. §1.5 watermark quirk fixed by `>=` + the
    * PK-dedup in [[load]].
    */
  def incrementalSource(source: DataFrame, warehouse: DataFrame): DataFrame =
    W.incrementalAfterWatermark(source, warehouse, "arrest_date",
      lit("1900-01-01").cast("date"), inclusive = true)
}
