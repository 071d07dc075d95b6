package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level transform operators from SURVEY.md §2.2/§2.3 — the cleaning
  * semantics of the reference's transform stage
  * (/root/reference/scripts/transform.py), re-expressed as pure
  * `DataFrame => DataFrame` functions over codegen'd built-in expressions.
  * No UDFs anywhere: every op stays inside whole-stage codegen so the same
  * code is viable on a 1000-executor cluster at 100 TB.
  */
object Transforms {

  // ---------------------------------------------------------------- P1
  /** Case-normalizing rename (transform.py:68-73): if the upper-case form of
    * an expected column is present and the lower-case form absent, rename.
    * Pure metadata op — zero execution cost.
    */
  def normalizeColumnCase(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    val renamed = df.columns.map { c =>
      val lower = c.toLowerCase
      if (c != lower && !have.contains(lower)) lower else c
    }
    df.toDF(renamed.toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------- P2
  /** Add an expected-but-missing column with a default (transform.py:74-76). */
  def addMissingColumn(df: DataFrame, name: String, default: Column): DataFrame =
    if (df.columns.contains(name)) df else df.withColumn(name, default)

  // ---------------------------------------------------------------- P3
  /** Drop a column if present (transform.py:94-97 drops `lon_lat`). */
  def dropIfPresent(df: DataFrame, name: String): DataFrame = df.drop(name)

  // ---------------------------------------------------------------- P4
  /** Project to an exact target column list, filling absent columns with a
    * default (load.py:182-192 `reindex(columns=..., fill_value='')`).
    * Column pruning: Catalyst pushes the projection into the scan.
    */
  def projectReorder(df: DataFrame, columns: Seq[String], fill: Column): DataFrame = {
    val have = df.columns.toSet
    df.select(columns.map(c => if (have.contains(c)) col(c) else fill.as(c)): _*)
  }

  // ---------------------------------------------------------------- P5
  /** Required-column validation (extract.py:118-122). Analysis-time check. */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
    df
  }

  // ---------------------------------------------------------------- F1
  /** Drop rows null in any of the key columns (transform.py:101). */
  def dropNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.na.drop(keys)

  // ---------------------------------------------------------------- F2
  /** Keep rows whose key columns are non-blank after trim
    * (transform.py:102-103). Pushed to the scan where possible.
    */
  def filterNonBlank(df: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.filter(trim(col(k)) =!= ""))

  // ---------------------------------------------------------------- F3
  /** High-water-mark predicate (extract.py:63 `$where arrest_date > hwm`).
    * A plain comparison: Catalyst pushes it into the parquet scan
    * (row-group + partition pruning at scale).
    */
  def watermarkFilter(df: DataFrame, tsCol: String, hwm: Column): Column =
    col(tsCol) > hwm

  // ---------------------------------------------------------------- E1
  /** Cast-to-string with missing→'' (transform.py:79-85
    * `astype(str).replace('nan','')`).
    */
  def castToStringEmptyNull(c: Column): Column =
    coalesce(c.cast("string"), lit(""))

  // ---------------------------------------------------------------- E2
  /** Law-category domain guard (transform.py:27-35 + load.py:128-131):
    * upper(x) ∈ {F,M,V,I} → upper(x), else (incl. null/''/'NONE') → 'U'.
    */
  def lawCategoryGuard(c: Column): Column =
    when(upper(c).isin("F", "M", "V", "I"), upper(c)).otherwise(lit("U"))

  /** Borough code → name with passthrough for unmapped values
    * (transform.py:20-26, :148-150). Constant map → Catalyst constant-folds
    * the CaseWhen chain; no join, no shuffle.
    */
  val BoroughMap: Map[String, String] = Map(
    "B" -> "Bronx", "K" -> "Brooklyn", "M" -> "Manhattan",
    "Q" -> "Queens", "S" -> "Staten Island")

  // ---------------------------------------------------------------- E3
  /** Dictionary lookup with passthrough: `map(m).fillna(original)`. */
  def mapWithPassthrough(c: Column, m: Map[String, String]): Column =
    coalesce(element_at(typedLit(m), c), c)

  // ---------------------------------------------------------------- E4
  /** Lenient date parse (`errors='coerce'`, transform.py:109): null on
    * failure, never throws (ANSI-safe via try_to_date).
    */
  def lenientDateParse(c: Column): Column = try_to_date(c)

  // ---------------------------------------------------------------- E5
  /** Epoch-millis fallback parse (transform.py:38-46): value may be an ISO
    * date string OR epoch milliseconds; normalize both to DateType.
    * All built-ins — the reference's row-wise Python `convert_timestamp`
    * becomes one codegen'd expression.
    */
  def dateOrEpochMillis(c: Column): Column = {
    // Totality guard: timestamp_millis THROWS on |millis| beyond the
    // representable timestamp range (long overflow at the µs conversion),
    // but `errors='coerce'` semantics require null. Clamp to the proleptic
    // year-0..9999 epoch-millis window; outside → null, like pandas NaT.
    val millis = c.try_cast("bigint")
    val inRange = millis.isNotNull &&
      millis >= lit(-62135596800000L) && millis <= lit(253402300799999L)
    coalesce(
      try_to_date(c),
      to_date(timestamp_millis(when(inRange, millis))))
  }

  // ---------------------------------------------------------------- E7
  /** Lenient double cast (transform.py:121-122). */
  def lenientDouble(c: Column): Column = c.cast("string").try_cast("double")

  // ---------------------------------------------------------------- E8
  /** Lenient int cast (transform.py:123), fixing the float-leak quirk of
    * SURVEY §1.5: "83.0" parses as 83.
    */
  def lenientInt(c: Column): Column =
    c.cast("string").try_cast("double").try_cast("int")

  // ---------------------------------------------------------------- E9
  /** Sentinel fills (transform.py:129-146 net effect, SURVEY §1.4):
    * precinct→-1, coordinates→0.0; strings stay NULL when missing.
    */
  def fillSentinels(df: DataFrame, intFills: Map[String, Int],
                    doubleFills: Map[String, Double]): DataFrame =
    df.na.fill(intFills.map { case (k, v) => k -> (v: Any) } ++
               doubleFills.map { case (k, v) => k -> (v: Any) })

  // ---------------------------------------------------------------- E10/E11
  /** Uppercase normalization over categorical columns (transform.py:152-159). */
  def upperCols(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, upper(col(c))))

  // ---------------------------------------------------------------- E12
  /** Sex domain guard (load.py:136-139): upper ∈ {M,F} → upper, else 'U'. */
  def sexGuard(c: Column): Column =
    when(upper(c).isin("M", "F"), upper(c)).otherwise(lit("U"))
}
