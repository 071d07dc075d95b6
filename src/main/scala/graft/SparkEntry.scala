package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AggOps, DedupOps, GraphOps, JoinOps, MultimodalOps, PackOps, SampleOps, ScoreOps, SimilarityOps, TextOps, ValidateOps, Transforms => T, Warehouse => W}

/** Driver contract — one `queries` entry per operator in SURVEY.md §2, each
  * with a DuckDB-equivalent `oracleSql` where ANSI-SQL-expressible.
  *
  * Determinism rules (SURVEY §5.1): every oracle query ends in ORDER BY on a
  * unique key; double aggregation goes through exact decimal arithmetic and
  * is cast back to double at the end (identical bits in Spark and DuckDB);
  * date/timestamp outputs are formatted strings or epoch-micros bigints so
  * both engines hash the same values.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.aggGroup(spark, "/root/testdata/sf0.001")

  /** Every registered query, run as `fn(spark, sfDir)` on a [[GraftSession]]
    * session or one on which [[graft.functions.GraftFunctions.register]]
    * ran: the queries install no function or rule themselves. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Queries.oracles
}

private[graft] object Queries {

  /** Exact decimal view of a double column that carries a fixed-scale value
    * (TPC-H money/discount columns). Keeps aggregation order-independent and
    * bit-identical across engines.
    */
  private def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(s"decimal($p,$s)")
  private def asDouble(c: Column): Column = c.cast("double")
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFmtSql = "%Y-%m-%d %H:%M:%S.%f"

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  /** Per-sf fixture directory for queries that write their own input or
    * sink at construction time: `target/fixtures` under the working
    * directory (the project base under sbt), so each checkout writes its
    * own.
    */
  private def fixtureDir(d: String, prefix: String): String =
    new java.io.File(s"target/fixtures/${prefix}_${new java.io.File(d).getName}")
      .getAbsolutePath

  // ================================================================ flagship
  /** TPC-H Q1: scan → pushed filter → hash agg (partial+final, single
    * shuffle on 6 grouping values) → sort. SURVEY §2.7 q_agg_group.
    */
  def aggGroup(s: SparkSession, d: String): DataFrame = {
    val price = dec(col("l_extendedprice"))
    val disc = dec(col("l_discount"))
    val tax = dec(col("l_tax"))
    li(s, d)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        asDouble(sum(price)).as("sum_base_price"),
        asDouble(sum(price * (lit(1) - disc))).as("sum_disc_price"),
        asDouble(sum(price * (lit(1) - disc) * (lit(1) + tax))).as("sum_charge"),
        (asDouble(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val aggGroupSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ================================================================ S1: scan + pushdown
  def scanPushdown(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(T.watermarkFilter(li(s, d), "l_shipdate", lit("2001-01-01").cast("timestamp")))
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"), col("l_quantity"))
      // ORDER BY every output column: lineitem carries duplicate
      // (l_orderkey, l_linenumber) pairs with DIFFERENT payloads (§5
      // gotcha), so the key pair alone leaves the tie order to file
      // layout — stable on a single-file fixture, divergent across
      // engines on a multi-file sf1 table (caught by the sf1 check)
      .orderBy("l_orderkey", "l_linenumber", "ship_day", "l_quantity")

  private val scanPushdownSql =
    """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_quantity
      |FROM lineitem WHERE l_shipdate > TIMESTAMP '2001-01-01'
      |ORDER BY l_orderkey, l_linenumber, ship_day, l_quantity""".stripMargin

  // ================================================================ S2+S5: CSV round-trip (write TSV with NULL '', read back)
  def scanCsv(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "csv_roundtrip")
    ord(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"))
      .write.mode("overwrite")
      .option("header", "true").option("sep", "\t").option("nullValue", "")
      .csv(dir)
    s.read
      .schema("o_orderkey bigint, o_orderstatus string, o_orderpriority string, o_totalprice double, o_day string")
      .option("header", "true").option("sep", "\t").option("nullValue", "")
      .csv(dir)
      .orderBy("o_orderkey")
  }

  private val scanCsvSql =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
      | strftime(o_orderdate, '%Y-%m-%d') AS o_day
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ================================================================ S3+S4: JSONL round-trip (append-shaped sink, schema'd scan)
  def scanJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "jsonl_roundtrip")
    cust(s, d).select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      .write.mode("overwrite").json(dir)
    s.read
      .schema("c_custkey bigint, c_name string, c_nationkey int, c_mktsegment string")
      .json(dir)
      .orderBy("c_custkey")
  }

  private val scanJsonlSql =
    "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer ORDER BY c_custkey"

  // ================================================================ S1: paginated-API scan (DSv2, pushdown)
  /** The reference's Socrata extract re-expressed as a real connector:
    * `graft-paged` (DataSource V2, [[graft.sources.PagedJsonTableProvider]])
    * reads JSONL "API pages" with the watermark predicate pruning whole
    * pages at planning time (the `$where arrest_date > hwm` pushdown,
    * `scripts/extract.py:63`) and pages fetched in parallel. The watermark
    * is `max(key)·3/5`, computed identically by the DuckDB oracle.
    */
  /** Shared fixture bootstrap for the paged-source queries: one on-disk
    * page dir per scale factor, written once (whichever query runs first),
    * identical shape for the file-path and HTTP-path scans.
    */
  private def pagedFixtureDir(s: SparkSession, d: String): String = {
    val dir = fixtureDir(d, "paged")
    if (!new java.io.File(dir, "_manifest.json").exists()) {
      graft.sources.PagedManifest.writeFixture(
        ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
        dir, "o_orderkey", pageSize = 2000)
    }
    dir
  }

  def scanPaged(s: SparkSession, d: String): DataFrame = {
    val dir = pagedFixtureDir(s, d)
    val hwm = ord(s, d).agg(max("o_orderkey")).head().getLong(0) * 3 / 5
    s.read.format("graft-paged").load(dir)
      .filter(col("o_orderkey") > lit(hwm))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  private val scanPagedSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderkey > (SELECT (max(o_orderkey)*3)//5 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** S1 LIVE: the same `graft-paged` connector fetching its manifest and
    * pages over real loopback HTTP (`scripts/extract.py:56-72`'s
    * `requests.get` page loop, served by an in-JDK
    * `com.sun.net.httpserver` tied to the session lifetime) — the wire
    * path, page streaming, and retry machinery all sit under this oracled
    * query. The upper-bound predicate prunes trailing pages at planning
    * time, the complement of `q_scan_paged`'s lower-bound watermark.
    */
  def scanHttp(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.LoopbackPages.serve(s, pagedFixtureDir(s, d))
    val cutoff = ord(s, d).agg(max("o_orderkey")).head().getLong(0) / 4
    s.read.format("graft-paged").load(base)
      .filter(col("o_orderkey") <= lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  private val scanHttpSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderkey <= (SELECT max(o_orderkey)//4 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** S1 FAITHFUL WIRE CONTRACT: the SoQL offset protocol the reference
    * actually speaks (`scripts/extract.py:56-72`) — manifest-less
    * `$limit`/`$offset` GETs against a rows endpoint, with the watermark
    * predicate serialized into `$where` (`scripts/extract.py:61-63`) and
    * the column list into `$select`, both interpreted SERVER-side by the
    * loopback fixture. Planning count-probes (`$select=count(1)`, itself
    * SoQL) so offset pages fetch in parallel across executors instead of
    * the reference's serial loop; a short page still terminates exactly.
    * Schema is explicit, as the reference hard-codes its column list
    * (`scripts/extract.py:33-41`).
    */
  def scanHttpOffset(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.LoopbackPages.serve(s, pagedFixtureDir(s, d))
    val hwm = ord(s, d).agg(max("o_orderkey")).head().getLong(0) * 2 / 3
    s.read.format("graft-paged")
      .option("mode", "offset").option("pageSize", "10000")
      .option("pageOrder", "o_orderkey") // $order: stable offset paging
      .schema("o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderpriority string")
      .load(s"$base/${graft.sources.LoopbackPages.SoqlPath}")
      .filter(col("o_orderkey") > lit(hwm))
      // the realistic MIXED-predicate shape: the key comparison crosses the
      // wire as $where, while this expression predicate is not
      // wire-expressible and stays residual in Spark (always true —
      // o_orderpriority is non-null — so the oracle is unchanged). The
      // residual also keeps the benchmark's count() action measuring paged
      // ROW transfer: a fully-pushable plan would collapse count() into
      // one $select=count(1) GET (which q_scan_http_agg measures).
      .filter(length(col("o_orderpriority")) >= 0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  private val scanHttpOffsetSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderkey > (SELECT (max(o_orderkey)*2)//3 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** S1 aggregate pushdown: `GROUP BY` + count/sum/max travel as
    * `$select=<aggs>&$group=...` (SoQL's native aggregation idiom) and the
    * ENTIRE aggregate runs server-side — one row per group crosses the
    * wire and Spark's own Aggregate node disappears from the plan
    * (complete pushdown, spec-pinned in SoqlSourceSpec). The summed
    * column is integral so the oracle compares exactly.
    */
  def scanHttpAgg(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.LoopbackPages.serve(s, pagedFixtureDir(s, d))
    s.read.format("graft-paged")
      .option("mode", "offset").option("pageSize", "10000")
      .schema("o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderpriority string")
      .load(s"$base/${graft.sources.LoopbackPages.SoqlPath}")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
        max("o_totalprice").as("max_price"))
      .orderBy("o_orderpriority")
  }

  private val scanHttpAggSql =
    """SELECT o_orderpriority, count(1) AS n,
      |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust, max(o_totalprice) AS max_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ================================================================ P1: rename
  def rename(s: SparkSession, d: String): DataFrame = {
    val upperCased = ord(s, d).toDF(ord(s, d).columns.map(_.toUpperCase).toIndexedSeq: _*)
    T.normalizeColumnCase(upperCased)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  private val renameSql =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders ORDER BY o_orderkey"

  // ================================================================ P2: add missing column with default
  def addDefaultCol(s: SparkSession, d: String): DataFrame =
    T.addMissingColumn(Tables.nation(s, d), "n_comment", lit(""))
      .select("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .orderBy("n_nationkey")

  private val addDefaultColSql =
    "SELECT n_nationkey, n_name, n_regionkey, '' AS n_comment FROM nation ORDER BY n_nationkey"

  // ================================================================ P3: drop column
  def dropCol(s: SparkSession, d: String): DataFrame =
    T.dropIfPresent(T.dropIfPresent(cust(s, d), "c_acctbal"), "not_a_column")
      .orderBy("c_custkey")

  private val dropColSql =
    "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer ORDER BY c_custkey"

  // ================================================================ P4: projection/reorder with fill
  def projectReorder(s: SparkSession, d: String): DataFrame =
    T.projectReorder(ord(s, d),
      Seq("o_orderkey", "o_orderstatus", "o_clerk", "o_orderpriority"), lit(""))
      .orderBy("o_orderkey")

  private val projectReorderSql =
    "SELECT o_orderkey, o_orderstatus, '' AS o_clerk, o_orderpriority FROM orders ORDER BY o_orderkey"

  // ================================================================ F1: drop-null filter
  def filterNotNull(s: SparkSession, d: String): DataFrame =
    T.dropNullKeys(
      ord(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null: String)).otherwise(col("o_orderstatus")).as("maybe_status")),
      Seq("o_orderkey", "maybe_status"))
      .orderBy("o_orderkey")

  private val filterNotNullSql =
    """SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS maybe_status
      |FROM orders WHERE o_orderkey IS NOT NULL AND (CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END) IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // ================================================================ F2: non-blank filter
  def filterNonBlank(s: SparkSession, d: String): DataFrame =
    T.filterNonBlank(
      ord(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, lit("  ")).otherwise(col("o_orderpriority")).as("maybe_blank")),
      Seq("maybe_blank"))
      .orderBy("o_orderkey")

  private val filterNonBlankSql =
    """SELECT * FROM (
      | SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN '  ' ELSE o_orderpriority END AS maybe_blank
      | FROM orders) WHERE trim(maybe_blank) <> '' ORDER BY o_orderkey""".stripMargin

  // ================================================================ F3: watermark predicate
  def filterWatermark(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(T.watermarkFilter(li(s, d), "l_shipdate", lit("1999-06-01").cast("timestamp")))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val filterWatermarkSql =
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE l_shipdate > TIMESTAMP '1999-06-01' GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ================================================================ E1: cast-to-string, missing→''
  def castString(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      T.castToStringEmptyNull(col("l_linenumber")).as("ln_str"),
      T.castToStringEmptyNull(when(col("l_linenumber") === 1, col("l_orderkey"))).as("maybe_str"))
      .orderBy("l_orderkey", "l_linenumber")

  private val castStringSql =
    """SELECT l_orderkey, l_linenumber, CAST(l_linenumber AS VARCHAR) AS ln_str,
      | COALESCE(CAST(CASE WHEN l_linenumber = 1 THEN l_orderkey END AS VARCHAR), '') AS maybe_str
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ================================================================ E2: law-category guard (domain CASE with default)
  def caseLawcat(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select(T.lawCategoryGuard(col("l_linestatus")).as("law_cat"))
      .groupBy("law_cat").agg(count(lit(1)).as("n"))
      .orderBy("law_cat")

  private val caseLawcatSql =
    """SELECT CASE WHEN UPPER(l_linestatus) IN ('F','M','V','I') THEN UPPER(l_linestatus) ELSE 'U' END AS law_cat,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ================================================================ E3: dictionary map with passthrough (borough)
  def mapBorough(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), substring(col("n_name"), 1, 1).as("code"))
      .withColumn("mapped", T.mapWithPassthrough(col("code"), T.BoroughMap))
      .orderBy("n_nationkey")

  private val mapBoroughSql =
    """SELECT n_nationkey, n_name, substring(n_name, 1, 1) AS code,
      | CASE substring(n_name, 1, 1)
      |   WHEN 'B' THEN 'Bronx' WHEN 'K' THEN 'Brooklyn' WHEN 'M' THEN 'Manhattan'
      |   WHEN 'Q' THEN 'Queens' WHEN 'S' THEN 'Staten Island'
      |   ELSE substring(n_name, 1, 1) END AS mapped
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ================================================================ E4+E6: lenient date parse + format
  def dateParse(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(
      col("o_orderkey"),
      date_format(T.lenientDateParse(date_format(col("o_orderdate"), "yyyy-MM-dd")), "yyyy-MM-dd").as("parsed_day"),
      date_format(T.lenientDateParse(col("o_orderstatus")), "yyyy-MM-dd").as("junk_day"))
      .orderBy("o_orderkey")

  private val dateParseSql =
    """SELECT o_orderkey,
      | strftime(TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE), '%Y-%m-%d') AS parsed_day,
      | strftime(TRY_CAST(o_orderstatus AS DATE), '%Y-%m-%d') AS junk_day
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ================================================================ E5: epoch-millis fallback parse
  def dateEpochMs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      unix_millis(col("ts")).as("epoch_ms"),
      date_format(T.dateOrEpochMillis(unix_millis(col("ts")).cast("string")), "yyyy-MM-dd").as("day"),
      date_format(T.dateOrEpochMillis(date_format(col("ts"), "yyyy-MM-dd")), "yyyy-MM-dd").as("day_iso"))
      .orderBy("event_id")

  private val dateEpochMsSql =
    """SELECT event_id, epoch_ms(ts) AS epoch_ms,
      | strftime(CAST(make_timestamp(epoch_ms(ts)*1000) AS DATE), '%Y-%m-%d') AS day,
      | strftime(ts, '%Y-%m-%d') AS day_iso
      |FROM events ORDER BY event_id""".stripMargin

  // ================================================================ E7: lenient double cast
  def castDouble(s: SparkSession, d: String): DataFrame =
    cust(s, d).select(
      col("c_custkey"),
      T.lenientDouble(col("c_mktsegment")).as("junk_dbl"),
      T.lenientDouble(col("c_custkey")).as("key_dbl"))
      .orderBy("c_custkey")

  private val castDoubleSql =
    """SELECT c_custkey, TRY_CAST(c_mktsegment AS DOUBLE) AS junk_dbl,
      | TRY_CAST(CAST(c_custkey AS VARCHAR) AS DOUBLE) AS key_dbl
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ================================================================ E8: lenient int cast (float-leak fix: "83.0" → 83)
  def castInt(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      T.lenientInt(concat(col("l_linenumber").cast("string"), lit(".0"))).as("ln_int"),
      T.lenientInt(col("l_returnflag")).as("junk_int"))
      .orderBy("l_orderkey", "l_linenumber")

  private val castIntSql =
    """SELECT l_orderkey, l_linenumber,
      | TRY_CAST(TRY_CAST(CAST(l_linenumber AS VARCHAR) || '.0' AS DOUBLE) AS INTEGER) AS ln_int,
      | TRY_CAST(TRY_CAST(l_returnflag AS DOUBLE) AS INTEGER) AS junk_int
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ================================================================ E9: sentinel fills
  def fillna(s: SparkSession, d: String): DataFrame =
    T.fillSentinels(
      li(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_linenumber"), lit(1)).as("precinct_like"),
        nullif(col("l_quantity"), lit(1.0)).as("coord_like")),
      intFills = Map("precinct_like" -> -1),
      doubleFills = Map("coord_like" -> 0.0))
      // total order over output cols — duplicate key pairs, see scanPushdown
      .orderBy("l_orderkey", "l_linenumber", "coord_like")

  private val fillnaSql =
    """SELECT l_orderkey, l_linenumber,
      | COALESCE(NULLIF(l_linenumber, 1), -1) AS precinct_like,
      | COALESCE(NULLIF(l_quantity, 1.0), 0.0) AS coord_like
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, coord_like""".stripMargin

  // ================================================================ E10/E11: uppercase + trim
  def upperTrim(s: SparkSession, d: String): DataFrame =
    T.upperCols(
      cust(s, d).select(col("c_custkey"), col("c_mktsegment"),
        trim(concat(lit("  "), col("c_name"), lit(" "))).as("c_trimmed")),
      Seq("c_mktsegment"))
      .orderBy("c_custkey")

  private val upperTrimSql =
    """SELECT c_custkey, UPPER(c_mktsegment) AS c_mktsegment,
      | trim('  ' || c_name || ' ') AS c_trimmed
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ================================================================ E12: sex domain guard
  def caseSex(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select(T.sexGuard(col("l_linestatus")).as("sex"), T.sexGuard(col("l_returnflag")).as("sex2"))
      .groupBy("sex", "sex2").agg(count(lit(1)).as("n"))
      .orderBy("sex", "sex2")

  private val caseSexSql =
    """SELECT CASE WHEN UPPER(l_linestatus) IN ('M','F') THEN UPPER(l_linestatus) ELSE 'U' END AS sex,
      | CASE WHEN UPPER(l_returnflag) IN ('M','F') THEN UPPER(l_returnflag) ELSE 'U' END AS sex2,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ================================================================ A1: ungrouped MAX watermark with default
  def aggMax(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("hwm"),
      coalesce(
        date_format(max(when(col("l_quantity") < 0, col("l_shipdate"))), "yyyy-MM-dd"),
        lit("1900-01-01")).as("hwm_empty"))

  private val aggMaxSql =
    """SELECT strftime(MAX(l_shipdate), '%Y-%m-%d') AS hwm,
      | COALESCE(strftime(MAX(CASE WHEN l_quantity < 0 THEN l_shipdate END), '%Y-%m-%d'), '1900-01-01') AS hwm_empty
      |FROM lineitem""".stripMargin

  // ================================================================ A2: count
  def countRows(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(count(lit(1)).as("n"))

  private val countRowsSql = "SELECT COUNT(*) AS n FROM lineitem"

  // ================================================================ D2: PK dedup with deterministic tiebreak
  /** The synthetic lineitem deliberately contains duplicate
    * (l_orderkey, l_linenumber) pairs with differing payloads, so the
    * tiebreak totally orders the row — the winner is deterministic across
    * engines and runs.
    */
  def dedupPk(s: SparkSession, d: String): DataFrame = {
    // Narrow to key + tiebreak BEFORE the dedup: the winner is decided by
    // the total-order tiebreak alone, so dropping unused columns first
    // changes no row — and it keeps the scan at 6 columns, which the
    // aggregate plan cannot recover by itself (the packed struct's
    // trailing fields participate in the ordering, so Catalyst must not
    // prune them through min()).
    val deduped = W.dedupByKey(
      li(s, d).select("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_extendedprice", "l_quantity"),
      Seq("l_orderkey"),
      Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_quantity")))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    // No persist between dedup and ORDER BY: the sort's range sampler
    // does re-execute its child (Spark's standard Sort shape), but with
    // the dedup now a partial-combining min(struct) aggregate the child
    // is ~3x cheaper than the old hash-heap pass, and a lazy cache's
    // columnar encode costs MORE than the re-execution it avoids at
    // every measured scale (sf10: 7.0-8.2 s cached vs 4.3-5.7 s plain
    // under the benched count; the earlier size-gated persist was
    // compensating for the expensive child, not for the sort).
    deduped.orderBy("l_orderkey")
  }

  private val dedupPkSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
      | SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |  row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_quantity) AS rn
      | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  // ================================================================ D1: insert-if-absent upsert (anti join)
  def upsertAnti(s: SparkSession, d: String): DataFrame = {
    val incoming = ord(s, d).filter(col("o_orderkey") % 3 === 0)
    val target = ord(s, d).filter(col("o_orderkey") % 2 === 0)
    W.upsertNewRows(incoming, target, Seq("o_orderkey"))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val upsertAntiSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
      |WHERE o_orderkey % 3 = 0
      | AND NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey % 2 = 0 AND t.o_orderkey = o.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ================================================================ I1: high-water-mark incremental read
  def incremental(s: SparkSession, d: String): DataFrame = {
    val warehouse = li(s, d).filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
    W.incrementalAfterWatermark(
      li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
      warehouse, "l_shipdate", lit("1900-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      // total order over output cols — duplicate key pairs, see scanPushdown
      .orderBy("l_orderkey", "l_linenumber", "ship_day")
  }

  private val incrementalSql =
    """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
      |FROM lineitem
      |WHERE l_shipdate > (SELECT MAX(l_shipdate) FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01')
      |ORDER BY l_orderkey, l_linenumber, ship_day""".stripMargin

  // ================================================================ joins
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    ord(s, d).join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "c_mktsegment")
      .orderBy("o_orderkey")

  private val joinBroadcastSql =
    """SELECT o_orderkey, c_name, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q5 shape: 6-table join. Dims (customer/supplier/nation/region)
    * broadcast; the only shuffle is lineitem⋈orders on orderkey + final agg.
    */
  def joinMultiway(s: SparkSession, d: String): DataFrame = {
    val revenue = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(asDouble(sum(revenue)).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val joinMultiwaySql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, customer, supplier, nation, region
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
      | AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      | AND r_name = 'ASIA'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  def joinOuter(s: SparkSession, d: String): DataFrame =
    cust(s, d).join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        asDouble(coalesce(sum(dec(col("o_totalprice"))), lit(0).cast("decimal(12,2)"))).as("total_spend"))
      .orderBy("c_custkey")

  private val joinOuterSql =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      | CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  def joinSemi(s: SparkSession, d: String): DataFrame =
    cust(s, d).join(
      ord(s, d).filter(col("o_totalprice") > 100000.0), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  private val joinSemiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Equi + range (banded) join: shipdate within [orderdate+30d, orderdate+60d].
    * The equi key carries the shuffle; the band is a post-join filter, so no
    * cross product materializes (check: plan stays SortMergeJoin/ShuffledHash
    * with join condition, not BroadcastNestedLoop).
    */
  def joinRange(s: SparkSession, d: String): DataFrame =
    li(s, d).join(ord(s, d),
      col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))
      // total order over output cols — duplicate key pairs, see scanPushdown
      .orderBy("l_orderkey", "l_linenumber", "ship_day", "order_day")

  /** As-of join: each event paired with the customer's LATEST order at or
    * before the event timestamp ([[graft.ops.JoinOps.asofJoin]] — union +
    * one keyed shuffle + carry-forward window, no pair join). Right side
    * pre-deduped per (custkey, orderdate) for determinism; inner-ASOF
    * semantics (events with no prior order drop), matching DuckDB's
    * native ASOF JOIN in the oracle.
    */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val r = ord(s, d).groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
    graft.ops.JoinOps.asofJoin(
      Tables.events(s, d).select("event_id", "user_id", "ts"), r,
      "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("o_orderkey", "o_orderdate"))
      .filter(col("asof").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("asof.o_orderkey").as("o_orderkey"),
        col("asof.o_orderdate").as("o_orderdate"))
      .orderBy("event_id")
  }

  private val joinAsofSql =
    """WITH r AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |           FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_orderdate
      |FROM events e ASOF JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  private val joinRangeSql =
    """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
      | strftime(o_orderdate, '%Y-%m-%d') AS order_day
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | AND l_shipdate BETWEEN o_orderdate + INTERVAL 30 DAY AND o_orderdate + INTERVAL 60 DAY
      |ORDER BY l_orderkey, l_linenumber, ship_day, order_day""".stripMargin

  // ================================================================ windows
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    li(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        row_number().over(w).as("rn"), rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy("l_suppkey", "rn")
  }

  private val windowRankSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn, rnk, drnk FROM (
      | SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |  row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
      | FROM lineitem
      | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
      |) WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin

  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        asDouble(sum(dec(col("o_totalprice"))).over(w)).as("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val windowRunningSql =
    """SELECT o_custkey, o_orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  def windowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("event_id")
  }

  private val windowLagSql =
    """SELECT event_id, user_id,
      | lag(event_type, 1) OVER w AS prev_type, lead(event_type, 1) OVER w AS next_type
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  // ================================================================ top-k (TakeOrderedAndProject)
  def topk(s: SparkSession, d: String): DataFrame =
    ord(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  private val topkSql =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ================================================================ set ops
  def unionAll(s: SparkSession, d: String): DataFrame = {
    val a = cust(s, d).filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), lit("a").as("src"))
    val b = cust(s, d).filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("b").as("src"))
    a.unionByName(b).orderBy("c_custkey", "src")
  }

  private val unionAllSql =
    """SELECT c_custkey, 'a' AS src FROM customer WHERE c_custkey % 5 = 0
      |UNION ALL SELECT c_custkey, 'b' AS src FROM customer WHERE c_custkey % 7 = 0
      |ORDER BY c_custkey, src""".stripMargin

  def intersectOp(s: SparkSession, d: String): DataFrame =
    cust(s, d).filter(col("c_custkey") % 2 === 0).select("c_custkey")
      .intersect(cust(s, d).filter(col("c_custkey") % 3 === 0).select("c_custkey"))
      .orderBy("c_custkey")

  private val intersectSql =
    """SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
      |INTERSECT SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
      |ORDER BY c_custkey""".stripMargin

  def exceptOp(s: SparkSession, d: String): DataFrame =
    cust(s, d).filter(col("c_custkey") % 2 === 0).select("c_custkey")
      .except(cust(s, d).filter(col("c_custkey") % 6 === 0).select("c_custkey"))
      .orderBy("c_custkey")

  private val exceptSql =
    """SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
      |EXCEPT SELECT c_custkey FROM customer WHERE c_custkey % 6 = 0
      |ORDER BY c_custkey""".stripMargin

  // ================================================================ rollup / cube
  def rollupOp(s: SparkSession, d: String): DataFrame =
    li(s, d).rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  private val rollupSql =
    """SELECT COALESCE(l_returnflag, '(all)') AS flag, COALESCE(l_linestatus, '(all)') AS status,
      | COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  def cubeOp(s: SparkSession, d: String): DataFrame =
    li(s, d).cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  private val cubeSql =
    """SELECT COALESCE(l_returnflag, '(all)') AS flag, COALESCE(l_linestatus, '(all)') AS status,
      | COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube): by-flag, by-status, and
    * grand total in one pass.
    */
  def groupingSetsOp(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  private val groupingSetsSql =
    """SELECT COALESCE(l_returnflag, '(all)') AS flag, COALESCE(l_linestatus, '(all)') AS status,
      | COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY flag, status""".stripMargin

  /** Exact median (interpolating percentile) per group — Spark `percentile`
    * == DuckDB `quantile_cont`. l_quantity is whole-valued so the midpoint
    * interpolation is exact in double.
    */
  def percentileOp(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("med_qty"),
        percentile(col("l_quantity"), lit(0.9)).as("p90_qty"))
      .orderBy("l_returnflag")

  private val percentileSql =
    """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty,
      | quantile_cont(l_quantity, 0.9) AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Ordered distinct string aggregation (listagg shape): deterministic via
    * sort-before-join on both engines.
    */
  def stringAggOp(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy("l_returnflag")
      .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_linestatus")).as("n_status"))
      .orderBy("l_returnflag")

  private val stringAggSql =
    """SELECT l_returnflag,
      | string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      | COUNT(DISTINCT l_linestatus) AS n_status
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Conditional aggregation: count_if + filtered decimal-exact revenue. */
  def condAggOp(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy("l_returnflag")
      .agg(count_if(col("l_discount") > 0.05).as("n_disc"),
        asDouble(sum(when(col("l_discount") > 0.05, dec(col("l_extendedprice")))
          .otherwise(dec(lit(0))))).as("disc_rev"))
      .orderBy("l_returnflag")

  private val condAggSql =
    """SELECT l_returnflag,
      | COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
      | CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(12,2))
      |               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS disc_rev
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Pivot (long→wide conditional counts): order status columns per
    * priority. Explicit value list keeps the schema static (no extra
    * distinct-scan job — the 100 TB form).
    */
  def pivotOp(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f"),
        coalesce(col("O"), lit(0L)).as("o"),
        coalesce(col("P"), lit(0L)).as("p"))
      .orderBy("o_orderpriority")

  private val pivotSql =
    """SELECT o_orderpriority,
      | CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
      | CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
      | CAST(SUM(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Scalar-UDF surface (SURVEY §2.7 last row): a Scala UDF computing
    * Levenshtein edit distance, differentially checked against DuckDB's
    * BUILTIN levenshtein — the oracle exercises the UDF round-trip
    * (serialization, null handling, codegen boundary), exact integers.
    * Built-ins beat UDFs in the engine itself; this pins the escape hatch.
    */
  def udfScalarOp(s: SparkSession, d: String): DataFrame = {
    val lev = udf { (a: String, b: String) =>
      if (a == null || b == null) null.asInstanceOf[Integer]
      else {
        var prev = Array.tabulate(b.length + 1)(identity)
        var curr = new Array[Int](b.length + 1)
        var i = 1
        while (i <= a.length) {
          curr(0) = i
          var j = 1
          while (j <= b.length) {
            val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
            curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
            j += 1
          }
          val t = prev; prev = curr; curr = t
          i += 1
        }
        Integer.valueOf(prev(b.length))
      }
    }
    cust(s, d).filter(col("c_custkey") < 2000)
      .select(col("c_custkey"), lev(col("c_name"), col("c_mktsegment")).as("dist"))
      .orderBy("c_custkey")
  }

  private val udfScalarSql =
    """SELECT c_custkey, CAST(levenshtein(c_name, c_mktsegment) AS INT) AS dist
      |FROM customer WHERE c_custkey < 2000
      |ORDER BY c_custkey""".stripMargin

  /** Distribution-window completions: ntile / percent_rank / cume_dist. */
  def windowDistOp(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    ord(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("o_orderkey")
  }

  private val windowDistSql =
    """SELECT o_orderkey, o_orderpriority, CAST(ntile(4) OVER w AS INT) AS nt,
      | percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Regex scalar family: extract + global replace (codegen'd built-ins). */
  def regexOp(s: SparkSession, d: String): DataFrame =
    cust(s, d).select(col("c_custkey"), col("c_name"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("num"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"))
      .orderBy("c_custkey")

  private val regexSql =
    """SELECT c_custkey, c_name, regexp_extract(c_name, '([0-9]+)', 1) AS num,
      | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Calendar bucketing via date_trunc — the partition-pruning-friendly
    * form of time grouping.
    */
  def dateTruncOp(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"))
      .orderBy("month")

  private val dateTruncSql =
    """SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ================================================================ distinct / approx distinct
  def distinctOp(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"))

  private val distinctSql =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps,
      | COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
      |FROM lineitem""".stripMargin

  /** HLL++ approximate distinct — no DuckDB oracle (approx ≠ approx);
    * bounded-error property is unit-tested instead.
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))

  // ================================================================ math scalars
  def mathOp(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_quantity") - 25.0).as("abs_dev"),
      floor(col("l_extendedprice")).as("price_floor"),
      ceil(col("l_extendedprice")).as("price_ceil"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      (col("l_orderkey") % 97).as("key_mod"),
      greatest(col("l_quantity"), lit(10.0)).as("qty_hi"),
      least(col("l_quantity"), lit(10.0)).as("qty_lo"),
      signum(col("l_quantity") - 25.0).as("dev_sign"))
      // total order for comparison — qty_sqrt/price_floor are injective
      // enough in (l_quantity, l_extendedprice) that remaining ties have
      // equal values in EVERY output column (duplicate key pairs, see
      // scanPushdown)
      .orderBy("l_orderkey", "l_linenumber", "qty_sqrt", "price_floor")

  private val mathSql =
    """SELECT l_orderkey, l_linenumber,
      | abs(l_quantity - 25.0) AS abs_dev,
      | CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      | CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      | sqrt(l_quantity) AS qty_sqrt,
      | l_orderkey % 97 AS key_mod,
      | greatest(l_quantity, 10.0) AS qty_hi,
      | least(l_quantity, 10.0) AS qty_lo,
      | CASE WHEN l_quantity - 25.0 > 0 THEN 1.0 WHEN l_quantity - 25.0 < 0 THEN -1.0 ELSE 0.0 END AS dev_sign
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_sqrt, price_floor""".stripMargin

  // ================================================================ array scalars (embeddings)
  def arrayOp(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).as("first_elem"),
      array_max(col("embedding")).as("max_elem"),
      array_min(col("embedding")).as("min_elem"),
      size(filter(col("embedding"), x => x > 0.0f)).as("n_positive"))
      .orderBy("vec_id")

  private val arrayOpSql =
    """SELECT vec_id, len(embedding) AS dim, embedding[1] AS first_elem,
      | list_max(embedding) AS max_elem, list_min(embedding) AS min_elem,
      | len(list_filter(embedding, x -> x > 0.0)) AS n_positive
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ================================================================ JSON scalars (events.props)
  def jsonOp(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_get"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k_struct"))
      .orderBy("event_id")

  private val jsonOpSql =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_get,
      | CAST(json_extract_string(props, '$.k') AS INT) AS k_struct
      |FROM events ORDER BY event_id""".stripMargin

  // ================================================================ streaming-shaped (batch oracle forms)
  /** Tumbling window agg — batch form of the Structured Streaming query
    * (stream↔batch equivalence is unit-tested; see graft.streaming).
    * 6-hour buckets are epoch-aligned in Spark and (since 2000-01-03 is
    * midnight-aligned) in DuckDB's time_bucket too.
    */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("value"), 18, 6))).as("sum_value"))
      .select(date_format(col("window.start"), TsFmt).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private val streamTumblingSql =
    s"""SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '$TsFmtSql') AS win_start,
       | event_type, COUNT(*) AS n,
       | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Session windows (30-minute gap) — batch form; DuckDB oracle is the
    * classic gaps-and-islands rewrite.
    */
  def streamSession(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), TsFmt).as("session_start"),
        date_format(col("session_window.end"), TsFmt).as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private val streamSessionSql =
    s"""WITH marked AS (
       | SELECT user_id, ts,
       |  CASE WHEN lag(ts) OVER w IS NULL
       |        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
       | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       | SELECT user_id, ts,
       |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
       | FROM marked)
       |SELECT user_id, strftime(MIN(ts), '$TsFmtSql') AS session_start,
       | strftime(MAX(ts) + INTERVAL 30 MINUTE, '$TsFmtSql') AS session_end,
       | COUNT(*) AS n_events
       |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ================================================================ north-star: dedup family
  /** Exact full-content dedup on documents (deterministic winner). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    DedupOps.exactDedup(Tables.documents(s, d), Seq("text"), Seq(col("doc_id")))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  private val dedupExactSql =
    """SELECT doc_id, source, n_chars FROM (
      | SELECT doc_id, source, n_chars, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      | FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Content-hash dedup: dedup key is sha256(text) — at scale the wide text
    * column never reaches the shuffle.
    */
  def dedupHash(s: SparkSession, d: String): DataFrame =
    DedupOps.exactDedup(
      Tables.documents(s, d).withColumn("content_sha", DedupOps.contentHash(col("text"))),
      Seq("content_sha"), Seq(col("doc_id")))
      .select("doc_id", "content_sha")
      .orderBy("doc_id")

  private val dedupHashSql =
    """SELECT doc_id, content_sha FROM (
      | SELECT doc_id, sha256(text) AS content_sha,
      |  row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      | FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Exact 3-gram Jaccard near-dup pairs, blocked by source. The oracle
    * is the prefix-filter join of [[prefixJaccardSql]] within each source.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    // Adaptive exact verification (DedupOps.jaccardPairsBlocked): this
    // corpus's trigram universe fits a dictionary, so pairs are verified
    // by bitset popcounts; a diverse corpus would fall back to the sorted
    // merge-scan kernel. Identical output either way — the oracle is the
    // quadratic set-Jaccard in DuckDB.
    DedupOps.jaccardPairsBlocked(Tables.documents(s, d), "doc_id", "text",
        "source", n = 3, threshold = 0.6,
        candidatePairBudget = Some(JaccardCandidateBudget))
      .orderBy("id_a", "id_b")

  private val ngramJaccardSql = {
    val (ctes, pairs) = prefixJaccardSql("0.6", Some("source"))
    s"WITH $ctes\n$pairs ORDER BY id_a, id_b"
  }

  /** An exact trigram Jaccard self-join at threshold `t` (a SQL decimal
    * literal, so `CEIL(t * sz)` is exact) in DuckDB, as its CTEs `sh` …
    * `bits` and the (id_a, id_b, jac) query over them: a prefix-filter
    * join. Candidates share one of their rarest-first prefix tokens (and
    * the `block` column's value, when given), and each candidate's overlap
    * is counted exactly over per-doc token-id bit words. Equal to the
    * quadratic all-pairs SQL (checked at sf0.001 and sf0.01), it runs in
    * seconds at sf0.1, where the quadratic form times out.
    */
  private def prefixJaccardSql(t: String, block: Option[String]): (String, String) = {
    val blk = block.fold("")(b => s", $b")
    val sameBlock = block.fold("")(b => s" AND a.$b = b.$b")
    val ctes =
      s"""sh AS (
        | SELECT doc_id$blk,
        |  list_distinct(list_transform(range(1, greatest(len(text)-2, 1)+1),
        |    i -> substring(text, CAST(i AS INT), 3))) AS s
        | FROM documents),
        |tok AS (SELECT doc_id$blk, len(s) AS sz, unnest(s) AS t FROM sh),
        |tf AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY t),
        |pre AS (
        | SELECT doc_id$blk, sz, t FROM (
        |  SELECT tok.*,
        |   row_number() OVER (PARTITION BY tok.doc_id ORDER BY tf.f, tok.t) AS pos
        |  FROM tok JOIN tf USING (t))
        | WHERE pos <= sz - CEIL($t * sz) + 1),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
        | FROM pre a JOIN pre b ON a.t = b.t AND a.doc_id < b.doc_id$sameBlock
        | WHERE b.sz >= CEIL($t * a.sz) AND a.sz >= CEIL($t * b.sz)),
        |tid AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS i FROM tf),
        |wd AS (
        | SELECT tok.doc_id, tid.i // 62 AS w,
        |  bit_or(CAST(1 AS BIGINT) << CAST(tid.i % 62 AS BIGINT)) AS b
        | FROM tok JOIN tid USING (t) GROUP BY tok.doc_id, tid.i // 62),
        |bits AS (
        | SELECT d.doc_id, list(COALESCE(wd.b, CAST(0 AS BIGINT)) ORDER BY g.w) AS ws
        | FROM (SELECT DISTINCT doc_id FROM tok) d
        | CROSS JOIN (SELECT unnest(range((SELECT MAX(i) FROM tid) // 62 + 1)) AS w) g
        | LEFT JOIN wd ON wd.doc_id = d.doc_id AND wd.w = g.w
        | GROUP BY d.doc_id)""".stripMargin
    val pairs =
      s"""SELECT id_a, id_b, jac FROM (
        | SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) AS jac FROM (
        |  SELECT c.id_a, c.id_b, c.sz_a, c.sz_b,
        |   list_sum(list_transform(list_zip(a.ws, b.ws), x -> bit_count(x[1] & x[2]))) AS inter
        |  FROM cand c JOIN bits a ON a.doc_id = c.id_a JOIN bits b ON b.doc_id = c.id_b))
        |WHERE jac >= $t""".stripMargin
    (ctes, pairs)
  }

  /** MinHash+LSH near-dup candidates — hash-dependent, so no SQL oracle;
    * recall vs exact Jaccard is unit-tested (DedupSpec).
    */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    DedupOps.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.7)
      .orderBy("id_a", "id_b")

  /** Incremental corpus-vs-batch near-dup pairs through the PERSISTED
    * signature path ([[graft.ops.DedupOps.minhashLshPairsAgainstSignatures]])
    * — the daily-crawl ingest shape: even doc_ids play the standing corpus
    * (its text never re-shingled at steady state), odd doc_ids the new
    * batch; only cross pairs emit. Hash-seeded like `q_dedup_minhash`, so
    * no SQL oracle — the decomposition equivalence (old ∪ cross ∪
    * batch-internal = pairs of the union) and signature-path identity are
    * spec-proved in `DedupSpec`.
    */
  def dedupIncr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    DedupOps.minhashLshPairsAgainstSignatures(
        DedupOps.minhashSignatures(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          n = 3, k = 64),
        DedupOps.minhashSignatures(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          n = 3, k = 64),
        k = 64, bands = 8, threshold = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** The PERSISTED-signature daily loop ([[graft.ops.DedupOps
    * .incrementalDedupRound]]), end to end: round 1 ingests the even-id
    * half of `documents` into a signature table (batch-internal pairs),
    * round 2 ingests the odd-id half against it — corpus×batch cross
    * pairs plus batch-internal pairs, with the batch's signatures
    * appended first-writer-wins so a crash-rerun appends nothing
    * (replay idempotence spec-proved in `DedupSpec`). Returns round 2's
    * pairs — the same decomposition `q_dedup_incr` computes from raw
    * text, now through the stored-signature path.
    */
  def dedupLifecycle(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "siglife")
    // the query is a pure function of the fixtures: reset the table so a
    // re-run replays the same two rounds
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val docs = Tables.documents(s, d)
    DedupOps.incrementalDedupRound(docs.filter(col("doc_id") % 2 === 0), dir,
      "doc_id", "text", n = 3, k = 64, bands = 8, threshold = 0.7).count()
    DedupOps.incrementalDedupRound(docs.filter(col("doc_id") % 2 === 1), dir,
        "doc_id", "text", n = 3, k = 64, bands = 8, threshold = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** GLOBAL exact Jaccard join — no blocking column; the engine picks the
    * tier. The oracle is an independent DuckDB prefix-filter join:
    * candidates share one of their rarest-first prefix tokens, and each
    * candidate's overlap is counted exactly over per-doc token-id bit
    * words. Equal to the quadratic all-pairs SQL (checked at sf0.001 and
    * sf0.01), it runs in seconds at sf0.1, where the quadratic form times
    * out.
    */
  /** STATED CANDIDATE BUDGET for the global-Jaccard family at scale:
    * ~3×10⁹ evaluated candidate pairs — the measured sf1 (50k-doc)
    * workload (2.61×10⁹) that fits the 32-core per-query budget, rounded
    * up so the cap NEVER binds at or below sf1: every oracled gate tier
    * stays exact. On the adversarially dense 100× corpus (213.6×10⁹
    * measured candidates — exponent ~1.9/decade, the family's true scale
    * ceiling) the density-adaptive per-token cap binds, bounding the
    * quadratic stage to sf1-like cost plus linear overhead; the drop is
    * logged and probed ([[graft.ops.DedupOps.lastCapReport]] — no silent
    * caps), with the recall contract documented at the operator.
    */
  val JaccardCandidateBudget: Long = 3000000000L

  def dedupJaccardGlobal(s: SparkSession, d: String): DataFrame =
    DedupOps.jaccardPairsGlobal(Tables.documents(s, d), "doc_id", "text",
      n = 3, threshold = 0.8,
      candidatePairBudget = Some(JaccardCandidateBudget))
      .orderBy("id_a", "id_b")

  private val dedupJaccardGlobalSql = {
    val (ctes, pairs) = prefixJaccardSql("0.8", None)
    s"WITH $ctes\n$pairs ORDER BY id_a, id_b"
  }

  /** Connected components over an adversarial max-diameter graph: chain
    * consecutive doc_ids within each `lang`, so every component is a path
    * whose diameter is the whole group. Label propagation would need
    * ~|group| rounds; the large-star/small-star alternation
    * ([[graft.ops.GraphOps.connectedComponents]]) finishes in O(log²).
    * Oracle: component min == group min, directly expressible as a window.
    */
  def dedupCluster(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val edges = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("prev", lag("doc_id", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("src"), col("doc_id").as("dst"))
    GraphOps.dedupClusters(edges, "src", "dst")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  private val dedupClusterSql =
    """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang) AS cluster_id
      |FROM documents
      |QUALIFY COUNT(*) OVER (PARTITION BY lang) > 1
      |ORDER BY doc_id""".stripMargin

  /** Cluster resolution through the SQL surface: the same adversarial
    * chain graph as [[dedupCluster]], but built as a SQL view and resolved
    * with the `graft_components` TVF — near-dup removal expressible
    * end-to-end in SQL like the rest of the engine. Oracle: the DuckDB
    * recursive-CTE transitive closure (the [[dedupNear]] oracle shape).
    */
  def componentsSql(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("cc_docs")
    s.sql(
      """CREATE OR REPLACE TEMP VIEW cc_edges AS
        |SELECT prev AS src, doc_id AS dst FROM (
        |  SELECT doc_id,
        |    LAG(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS prev
        |  FROM cc_docs)
        |WHERE prev IS NOT NULL""".stripMargin)
    s.sql(
      """SELECT node AS doc_id, component AS cluster_id
        |FROM graft_components('cc_edges', 'src', 'dst')
        |ORDER BY doc_id""".stripMargin)
  }

  private val componentsSqlOracle =
    """WITH RECURSIVE e0 AS (
      | SELECT prev AS src, doc_id AS dst FROM (
      |  SELECT doc_id,
      |   LAG(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS prev
      |  FROM documents)
      | WHERE prev IS NOT NULL),
      |e AS (SELECT src AS a, dst AS b FROM e0
      |      UNION ALL SELECT dst, src FROM e0),
      |reach(node, label) AS (
      | SELECT a, a FROM e
      | UNION
      | SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.node)
      |SELECT node AS doc_id, MIN(label) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** End-to-end near-dup REMOVAL: exact Jaccard pairs (≥0.8 on 3-shingles)
    * → connected components → keep the smallest doc_id per cluster plus all
    * untouched docs. The oracle recomputes the same pipeline in DuckDB,
    * with the pairs from the [[dedupJaccardGlobal]] oracle's prefix-filter
    * join (materialized once, not per recursion step) and the transitive
    * closure as a recursive CTE — a full differential of pair generation
    * AND cluster resolution AND the final anti-join.
    */
  def dedupNear(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = DedupOps.jaccardPairsGlobal(docs, "doc_id", "text",
      n = 3, threshold = 0.8,
      candidatePairBudget = Some(JaccardCandidateBudget))
    GraphOps.dropNearDuplicates(docs, "doc_id", pairs, "id_a", "id_b")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  private val dedupNearSql = {
    val (ctes, pairs) = prefixJaccardSql("0.8", None)
    s"""WITH RECURSIVE $ctes,
      |p AS MATERIALIZED (SELECT id_a, id_b FROM ($pairs)),
      |e AS (SELECT id_a AS a, id_b AS b FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |reach(node, label) AS (
      | SELECT a, a FROM e
      | UNION
      | SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.node),
      |comp AS (SELECT node, MIN(label) AS c FROM reach GROUP BY node)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
      |WHERE comp.node IS NULL OR comp.node = comp.c
      |ORDER BY d.doc_id""".stripMargin
  }

  /** EXACT Levenshtein-≤1 similarity self-join over customer names via
    * FastSS deletion-neighborhood blocking ([[graft.ops.DedupOps
    * .editDistancePairs]]) — the edit-distance member of the dedup family,
    * oracled against DuckDB's quadratic levenshtein join.
    */
  def dedupEditdist(s: SparkSession, d: String): DataFrame =
    DedupOps.editDistancePairs(cust(s, d), "c_custkey", "c_name")
      .orderBy("id_a", "id_b")

  private val dedupEditdistSql =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      | CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs — hash-dependent, no SQL oracle; unit-tested.
    * Cost-tiered ([[graft.ops.DedupOps.simhashPairsAuto]]): single-slice
    * blocking at fixture scale, Manku block-combination keys above
    * 100k docs — result-identical (both schemes are full-recall by
    * pigeonhole + exact-Hamming-verified), purely a bucket-quadratic
    * cost choice, spec-pinned equal in DedupSpec.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    DedupOps.simhashPairsAuto(Tables.documents(s, d), "doc_id", "text", maxDistance = 8)
      .orderBy("id_a", "id_b")

  /** Embedding-cosine near-dup pairs blocked by label — ADAPTIVE
    * ([[graft.ops.SimilarityOps.cosinePairsAbove]]): exact within-label
    * all-pairs at fixture scale (this oracle tier), IVF-cluster candidate
    * blocking + exact-cosine verify above 100k rows, where the fixed
    * label cardinality would make within-block pairs O(n²/|labels|).
    * The scale tier's pair space grows linearly (cluster count scales
    * with n) — measured in BENCH_SCALE; recall/precision property-specs
    * in SimilaritySpec.
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    SimilarityOps.cosinePairsAbove(Tables.embeddings(s, d), "label", 0.35)
      .orderBy("id_a", "id_b")

  /** The embedding near-dup SCALE tier run directly on the fixture:
    * IVF-cluster-blocked candidates (16 clusters, 4 probes), exact
    * cosine verify, global (no label constraint). Centroid-seeded — no
    * SQL oracle; SimilaritySpec pins full-probe == brute-force pairs and
    * bounds partial-probe recall, BENCH_SCALE measures the linear
    * candidate growth the clustering buys.
    */
  def dedupEmbeddingIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // the same corpus-proportional sizing the auto tier uses, so this
    // query's ScaleBench wall measures the scale path, not a pinned c
    val c = math.max(16L,
      emb.count() / SimilarityOps.CosineClusterTargetRows).toInt
    SimilarityOps.cosinePairsClustered(emb, None, 0.35,
      c = c, nprobe = 4, iters = 2)
      .orderBy("id_a", "id_b")
  }

  private val dedupEmbeddingSql =
    """SELECT id_a, id_b, cos FROM (
      | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
      | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
      |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin

  // ================================================================ north-star: similarity search
  /** Brute-force exact top-10 cosine neighbours for query vectors 0-4. */
  def similarityTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
      .orderBy("query_id", "rnk")
  }

  private val similarityTopkSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
      |scored AS (
      | SELECT query_id, vec_id,
      |  list_sum(list_transform(list_zip(q_emb, embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |  / (sqrt(list_sum(list_transform(q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS score
      | FROM embeddings CROSS JOIN q WHERE query_id <> vec_id)
      |SELECT query_id, vec_id, score, rnk FROM (
      | SELECT query_id, vec_id, score,
      |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
      | FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** RHP-LSH approximate top-k — bucket layout is hash-defined, no SQL
    * oracle; recall vs brute force is unit-tested (SimilaritySpec).
    */
  def similarityLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    SimilarityOps.lshTopK(emb.filter(col("vec_id") < 5), emb, 10,
      dim = 64, bits = 4, tables = 8)
      .orderBy("query_id", "rnk")
  }

  /** IVF top-10 (16 lists, 4 probed, 2 Lloyd's rounds) — the clustered
    * ANN scale path; exact-equivalence at full probe is spec-verified,
    * recall at partial probe is the approximation trade. No SQL oracle
    * (centroid-dependent); rows-only check.
    */
  def similarityIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    SimilarityOps.ivfTopK(emb.filter(col("vec_id") < 5), emb, 10,
      c = 16, nprobe = 4, iters = 2)
      .orderBy("query_id", "rnk")
  }

  /** PERSISTENT IVF index lifecycle ([[graft.ops.SimilarityOps
    * .ivfIndexBuild]]): build on 3/4 of the corpus (centroids +
    * cluster-clustered assignments as versioned tables), APPEND the rest
    * against the frozen centroids (O(batch) — the signature-table
    * pattern), then probe top-10 for queries 0-4 with the probed
    * clusters pruning assignment FILES through the manifest. Centroid-
    * seeded — no SQL oracle; SimilaritySpec pins full-probe == brute
    * force over the whole corpus, partial-probe == the unpruned
    * recomputation, and append replay idempotence.
    */
  def similarityIvfIncr(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "ivf_index")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val emb = Tables.embeddings(s, d)
    SimilarityOps.ivfIndexBuild(emb.filter(col("vec_id") % 4 =!= 0), dir,
      c = 16, iters = 2)
    SimilarityOps.ivfIndexAppend(emb.filter(col("vec_id") % 4 === 0), dir,
      txn = Some("q_similarity_ivf_incr" -> 1L))
    SimilarityOps.ivfIndexTopK(emb.filter(col("vec_id") < 5), dir, 10, nprobe = 4)
      .orderBy("query_id", "rnk")
  }

  // ================================================================ north-star: text analysis
  /** Token frequencies: tokenize → explode (generator) → hash agg → top-100. */
  def textTokens(s: SparkSession, d: String): DataFrame =
    // explode the raw split and drop empties AFTER — a codegen'd row filter,
    // vs. filter() over the array which is an interpreted higher-order fn.
    Tables.documents(s, d)
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  private val textTokensSql =
    """SELECT token, COUNT(*) AS n FROM (
      | SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
      |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** Per-document quality signals (length/punct/stopword/uniqueness). */
  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_obs"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.stopwordCount(col("text")).as("n_stopwords"),
      TextOps.uniqueTokenRatio(col("text")).as("uniq_ratio"),
      TextOps.meanTokenLength(col("text")).as("mean_tok_len"))
      .orderBy("doc_id")

  private val textQualitySql =
    """WITH t AS (
      | SELECT doc_id, len(text) AS n_chars_obs,
      |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      | FROM documents)
      |SELECT doc_id, n_chars_obs, len(toks) AS n_tokens,
      | len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','that','for','on','with','as'], x))) AS n_stopwords,
      | CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS uniq_ratio,
      | CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / greatest(len(toks), 1) AS mean_tok_len
      |FROM t ORDER BY doc_id""".stripMargin

  /** Stopword-vote language ID with fixed tie priority (en>es>fr>de>zh). */
  def textLangid(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("lang_label"),
        TextOps.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  private val textLangidSql = {
    val hits = TextOps.LangStopwords.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''), x -> list_contains($arr, x))) AS c_$lang"
    }.mkString(", ")
    val langs = TextOps.LangStopwords.map(_._1)
    val caseChain = langs.map { l =>
      val others = langs.filterNot(_ == l).map(o => s"c_$o")
      s"WHEN c_$l > 0 AND c_$l >= greatest(${others.mkString(", ")}) THEN '$l'"
    }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang AS lang_label, $hits FROM documents)
       |SELECT doc_id, lang_label, CASE $caseChain ELSE 'und' END AS lang_guess
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Content-defined chunking (Gear CDC, [[graft.ops.TextOps.cdcChunks]]):
    * dedup-stable chunk rows over the documents table — min 64 / avg ≈128 /
    * max 512 codepoints. No SQL oracle (a stateful rolling-hash scan with
    * conditional resets is not expressible in DuckDB SQL); the driver
    * records a rows-only check and `CdcChunkSpec` property-tests the
    * contract: exact reassembly, length bounds, determinism, and the
    * boundary re-alignment that makes CDC worth its name.
    */
  def chunkCdc(s: SparkSession, d: String): DataFrame =
    TextOps.cdcChunks(Tables.documents(s, d), "doc_id", "text",
        minSize = 64, maskBits = 6, maxSize = 512)
      .select("doc_id", "chunk_idx", "chunk_len", "chunk_fp")
      .orderBy("doc_id", "chunk_idx")

  /** Polynomial rolling-hash fingerprint (mod 1e9+7), identical fold in
    * both engines.
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  private val textFingerprintSql =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(list_filter(string_split(text, ''), c -> c <> ''),
      |       c -> CAST(unicode(c) AS BIGINT))),
      |   (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Dedup-canonicalizing text scrub (lowercase, digits→0, punctuation→
    * space, whitespace collapse) plus the content hash of the scrubbed
    * form — the normalize-then-hash prelude of every exact-dedup pass.
    */
  def textScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.scrub(col("text")).as("scrubbed"),
        DedupOps.contentHash(TextOps.scrub(col("text"))).as("content_sha"))
      .orderBy("doc_id")

  private val textScrubSql =
    """SELECT doc_id,
      | trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   '[0-9]', '0', 'g'), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS scrubbed,
      | sha256(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   '[0-9]', '0', 'g'), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS content_sha
      |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF ([[graft.ops.ScoreOps.tfIdf]]): top-200 highest-scoring
    * (token, doc) cells. `ln` outputs are quantized to 9 decimals on BOTH
    * sides: libm implementations legitimately disagree by 1 ulp (Spark's
    * Catalyst log uses fdlibm-derived StrictMath, DuckDB uses glibc;
    * measured ~0.03% of arguments differ, clustered near 1.0 — exactly the
    * idf range), and 9-decimal quantization absorbs that while still
    * pinning ~15 significant digits of a [0, ~10] score.
    */
  def tfidf(s: SparkSession, d: String): DataFrame =
    ScoreOps.tfIdf(Tables.documents(s, d), "doc_id", "text")
      .select(col("token"), col("doc_id"), col("tf"), col("df"),
        round(col("tfidf"), 9).as("tfidf"))
      .orderBy(col("tfidf").desc, col("token"), col("doc_id"))
      .limit(200)

  private val tfidfSql =
    """WITH tok AS (
      | SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
      |tf AS (
      | SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT token, doc_id, tf, df,
      | round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 9) AS tfidf
      |FROM tf JOIN df USING (token) CROSS JOIN n
      |ORDER BY tfidf DESC, token, doc_id LIMIT 200""".stripMargin

  /** Okapi BM25 ([[graft.ops.ScoreOps.bm25]]) of every document against a
    * fixed 3-term query; top-100. The oracle mirrors the exact double op
    * sequence, down to spelling k1+1 as `(1.2 + 1.0)` so both engines
    * constant-fold the same addition.
    */
  def bm25Query(s: SparkSession, d: String): DataFrame =
    ScoreOps.bm25(Tables.documents(s, d), "doc_id", "text",
      Seq("spark", "query", "fast"))
      .select(col("doc_id"), round(col("score"), 9).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(100)

  private val bm25Sql =
    """WITH tok AS (
      | SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
      |toks AS (SELECT doc_id, token FROM tok WHERE token <> ''),
      |lens AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
      |corpus AS (
      | SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |  (SELECT CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) FROM lens) AS avg_len),
      |tf AS (
      | SELECT doc_id, token, COUNT(*) AS tf FROM toks
      | WHERE token IN ('spark', 'query', 'fast') GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      | SELECT doc_id, token,
      |  ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
      |  ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
      |   (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avg_len)))) AS s
      | FROM tf JOIN df USING (token) JOIN lens USING (doc_id) CROSS JOIN corpus)
      |SELECT doc_id,
      | round(COALESCE(MAX(s) FILTER (WHERE token = 'spark'), 0.0) +
      |       COALESCE(MAX(s) FILTER (WHERE token = 'query'), 0.0) +
      |       COALESCE(MAX(s) FILTER (WHERE token = 'fast'), 0.0), 9) AS score
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  /** Concat-and-chunk sequence packing ([[graft.ops.PackOps]]): shard by
    * `source`, lay docs out by doc_id, cut every 1000 tokens. Pure integer
    * window math — exact everywhere; parallelism = number of shards.
    */
  def packChunks(s: SparkSession, d: String): DataFrame =
    PackOps.packByTokenBudget(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
      "source", "doc_id", TextOps.tokenCount(col("text")), 1000L)
      .select("doc_id", "source", "chunk_id", "chunk_off", "n_chunks")
      .orderBy("doc_id")

  private val packChunksSql =
    """WITH t AS (
      | SELECT doc_id, source,
      |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      | FROM documents),
      |c AS (
      | SELECT doc_id, source, tok,
      |  CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok AS tok_before
      | FROM t)
      |SELECT doc_id, source,
      | tok_before // 1000 AS chunk_id,
      | tok_before % 1000 AS chunk_off,
      | CASE WHEN tok = 0 THEN CAST(1 AS BIGINT)
      |      ELSE (tok_before % 1000 + tok + 999) // 1000 END AS n_chunks
      |FROM c ORDER BY doc_id""".stripMargin

  /** Equi-key-free interval-overlap join ([[graft.ops.JoinOps
    * .intervalJoin]]): click events vs view events within ±2 minutes,
    * binned at 5 minutes so it runs as a hash join on bin id instead of
    * the nested-loop a bare theta predicate would plan. Oracle is the
    * plain quadratic theta join (DuckDB's IEJoin handles it at sf scale).
    */
  def joinInterval(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def side(tp: String, p: String) = ev.filter(col("event_type") === tp)
      .select(col("event_id").as(s"${p}_id"),
        unix_micros(col("ts")).as(s"${p}_start"),
        (unix_micros(col("ts")) + lit(120000000L)).as(s"${p}_end"))
    JoinOps.intervalJoin(side("click", "a"), "a_start", "a_end",
        side("view", "b"), "b_start", "b_end", binWidth = 300000000L)
      .select("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  private val joinIntervalSql =
    """SELECT a.event_id AS a_id, b.event_id AS b_id
      |FROM events a, events b
      |WHERE a.event_type = 'click' AND b.event_type = 'view'
      |  AND epoch_us(a.ts) <= epoch_us(b.ts) + 120000000
      |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 120000000
      |ORDER BY a_id, b_id""".stripMargin

  /** Declarative data-quality gate ([[graft.ops.ValidateOps]]): all four
    * row predicates evaluate in ONE scan+aggregate pass, plus a keyed
    * uniqueness check — the reference's scattered required-column guards
    * (extract.py:118-122, import_csv.py:37-41) as a single report. The
    * (l_orderkey, l_linenumber) key is genuinely duplicated in the test
    * data, so the uniqueness row exercises the failing path.
    */
  def validate(s: SparkSession, d: String): DataFrame = {
    val liDf = li(s, d)
    ValidateOps.checkRows(liDf, Seq(
        "quantity_positive" -> (col("l_quantity") > 0),
        "shipdate_not_null" -> col("l_shipdate").isNotNull,
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "discount_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1.0)))
      .unionByName(ValidateOps.checkUnique(liDf,
        "orderkey_linenumber_unique", Seq("l_orderkey", "l_linenumber")))
      .orderBy("check")
  }

  private val validateSql =
    """WITH checks AS (
      | SELECT 'quantity_positive' AS chk, COUNT(*) AS total,
      |  CAST(SUM(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT) AS violations
      | FROM lineitem
      | UNION ALL
      | SELECT 'shipdate_not_null', COUNT(*),
      |  CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
      | FROM lineitem
      | UNION ALL
      | SELECT 'returnflag_domain', COUNT(*),
      |  CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS BIGINT)
      | FROM lineitem
      | UNION ALL
      | SELECT 'discount_range', COUNT(*),
      |  CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 1.0 THEN 0 ELSE 1 END) AS BIGINT)
      | FROM lineitem
      | UNION ALL
      | SELECT 'orderkey_linenumber_unique', CAST(SUM(n) AS BIGINT),
      |  CAST(SUM(n - 1) AS BIGINT)
      | FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber))
      |SELECT chk AS "check", total, violations, violations = 0 AS passed
      |FROM checks ORDER BY "check"""".stripMargin

  /** One-pass per-column profile ([[graft.ops.ValidateOps.profileStats]]):
    * null + exact-distinct counts for eight lineitem columns in a single
    * scan/aggregate (Spark's multi-distinct Expand), where the DuckDB
    * oracle spells the same result as eight UNION ALL re-scans. The
    * `approx = true` HLL path is spec-checked against exact cardinalities
    * (within 10 %) rather than oracled.
    */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")

  def profile(s: SparkSession, d: String): DataFrame =
    ValidateOps.profileStats(li(s, d), profileCols).orderBy("col_name")

  private val profileSql = profileCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Word-bigram counts (LM statistics / benchmark-contamination n-grams):
    * adjacent-token pairs per document, hash-aggregated corpus-wide.
    */
  def textBigrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(slice(t, 1, size(t) - 1), (x, i) -> concat(x, ' ', element_at(t, i + 2)))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)

  private val textBigramsSql =
    """SELECT bigram, COUNT(*) AS n FROM (
      | SELECT unnest(list_transform(range(1, len(t)),
      |   i -> t[i] || ' ' || t[i + 1])) AS bigram
      | FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |       FROM documents))
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin

  /** Gopher-rule repetition signals ([[graft.ops.TextOps.repetitionStats]]):
    * per-doc duplicated-bigram mass from ONE codegen'd pass over the text —
    * no explode, no shuffle, scan-speed at any corpus size. The oracle
    * recomputes the same four counters the expensive way (unnest → per-doc
    * bigram group-by) in DuckDB.
    */
  def repSignals(s: SparkSession, d: String): DataFrame = {
    val st = TextOps.repetitionStats(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      st.getItem(0).as("n_bigrams"),
      st.getItem(1).as("distinct_bigrams"),
      st.getItem(2).as("top_bigram_n"),
      st.getItem(3).as("dup_bigram_n"),
      (st.getItem(3).cast("double") /
        greatest(st.getItem(0), lit(1L)).cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  private val repSignalsSql =
    """WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM t),
      |c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, COUNT(*) AS distinct_bigrams,
      |        MAX(n) AS top_bigram_n,
      |        CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS dup_bigram_n
      |      FROM c GROUP BY 1)
      |SELECT t.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
      |  COALESCE(distinct_bigrams, 0) AS distinct_bigrams,
      |  COALESCE(top_bigram_n, 0) AS top_bigram_n,
      |  COALESCE(dup_bigram_n, 0) AS dup_bigram_n,
      |  CAST(COALESCE(dup_bigram_n, 0) AS DOUBLE) /
      |    CAST(GREATEST(COALESCE(n_bigrams, 0), 1) AS DOUBLE) AS dup_frac
      |FROM t LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination ([[graft.ops.TextOps.decontaminate]]): drop
    * every training doc sharing ANY word 4-gram with the eval slice
    * (source = src0). Eval n-grams are broadcast, so the train side stays
    * map-only — the operative property at 100 TB. n = 4 splits this corpus
    * non-trivially (49 of 475 docs contaminated at sf0.01).
    */
  def decontaminateQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.decontaminate(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "text", "doc_id", n = 4)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    """WITH t AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
      |g AS (SELECT doc_id, source, unnest(list_transform(range(1, len(ts) - 2), i -> array_to_string(ts[i:i+3], ' '))) AS ng FROM t),
      |bad AS (SELECT DISTINCT doc_id FROM g WHERE source <> 'src0'
      |        AND ng IN (SELECT ng FROM g WHERE source = 'src0'))
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic training-order shuffle
    * ([[graft.ops.SampleOps.deterministicShuffle]]): Lehmer-hash sort key →
    * shard + in-shard position, all-integer and layout-independent — what
    * `orderBy(rand())` cannot give you (partition-seeded, unreproducible).
    */
  def shuffleShard(s: SparkSession, d: String): DataFrame =
    SampleOps.deterministicShuffle(
      Tables.documents(s, d).select("doc_id", "source"),
      "doc_id", seed = 7L, shards = 8)
      .orderBy("shard", "pos")

  private val shuffleShardSql =
    """WITH k AS (SELECT doc_id, source,
      |        ((((doc_id % 2147483647) * 48271 + 7) % 2147483647) * 48271)
      |          % 2147483647 AS key FROM documents)
      |SELECT doc_id, source, CAST(key % 8 AS INTEGER) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS INTEGER) AS pos
      |FROM k ORDER BY shard, pos""".stripMargin

  /** PII redaction ([[graft.ops.TextOps.redactEmails]] /
    * [[TextOps.redactPhonePrefix]]): phone-shaped and email-in-context
    * strings are synthesized deterministically from key/name (the table has
    * no real PII), then masked. Patterns are the RE2∩Java regex subset, so
    * the oracle runs the identical expressions.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val p = lpad(col("c_custkey").cast("string"), 12, "0")
    val phone = concat_ws("-", substring(p, 1, 2), substring(p, 3, 3),
      substring(p, 6, 3), substring(p, 9, 4))
    val note = concat(lit("contact "), lower(col("c_name")),
      lit("@example.com for segment "), col("c_mktsegment"))
    cust(s, d).select(
      col("c_custkey"),
      TextOps.redactPhonePrefix(phone).as("phone_masked"),
      TextOps.redactEmails(note).as("note_masked"))
      .orderBy("c_custkey")
  }

  private val piiScrubSql =
    """WITH p AS (SELECT c_custkey, c_name, c_mktsegment,
      |        lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS d FROM customer)
      |SELECT c_custkey,
      |  regexp_replace(substr(d, 1, 2) || '-' || substr(d, 3, 3) || '-' || substr(d, 6, 3) || '-' || substr(d, 9, 4),
      |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-', 'XX-XXX-XXX-', 'g') AS phone_masked,
      |  regexp_replace('contact ' || lower(c_name) || '@example.com for segment ' || c_mktsegment,
      |    '[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+', '[EMAIL]', 'g') AS note_masked
      |FROM p ORDER BY c_custkey""".stripMargin

  /** Curriculum-mixture sampling ([[graft.ops.SampleOps.weightedSample]]):
    * per-source keep-weights (src1 50%, src2 25%, src3 10%, others dropped)
    * as exact integer Lehmer thresholds — the oracle applies the identical
    * integer arithmetic, so membership matches bit-for-bit.
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    SampleOps.weightedSample(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      "doc_id", col("source"),
      Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1), seed = 11L)
      .orderBy("doc_id")

  private val sampleWeightedSql =
    """WITH k AS (SELECT doc_id, source, n_chars,
      |        ((((doc_id % 2147483647) * 48271 + 11) % 2147483647) * 48271)
      |          % 2147483647 AS key FROM documents)
      |SELECT doc_id, source, n_chars FROM k
      |WHERE key < CASE source WHEN 'src1' THEN 1073741823
      |                        WHEN 'src2' THEN 536870911
      |                        WHEN 'src3' THEN 214748364 ELSE -1 END
      |ORDER BY doc_id""".stripMargin

  /** Winsorized robust aggregate: clip `l_quantity` to its global exact
    * [p05, p95] before averaging — the outlier-robust mean every feature
    * pipeline wants. Quantiles are computed ONCE (two-row aggregate,
    * broadcast back as a scalar subquery), so the pass over the fact table
    * stays narrow; quantity values are integral doubles, making the
    * interpolated percentile exact in IEEE arithmetic on both engines.
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val q = li(s, d).agg(
      percentile(col("l_quantity"), lit(0.05)).as("lo"),
      percentile(col("l_quantity"), lit(0.95)).as("hi"))
    li(s, d).crossJoin(broadcast(q))
      .select(col("l_returnflag"),
        greatest(least(col("l_quantity"), col("hi")), col("lo")).as("wq"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("wq")).as("sum_wq"))
      .withColumn("mean_wq", col("sum_wq") / col("n"))
      .orderBy("l_returnflag")

  }

  private val winsorizeSql =
    """WITH q AS (SELECT quantile_cont(l_quantity, 0.05) AS lo,
      |                  quantile_cont(l_quantity, 0.95) AS hi FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  SUM(GREATEST(LEAST(l_quantity, hi), lo)) AS sum_wq,
      |  SUM(GREATEST(LEAST(l_quantity, hi), lo)) / COUNT(*) AS mean_wq
      |FROM lineitem, q GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** C4/Gopher-style composite quality gate: ONE codegen'd projection
    * computes token stats AND bigram-repetition stats per document (two
    * native kernels, no explode/shuffle), then a row filter keeps docs with
    * enough tokens, enough lexical diversity, and low duplicated-bigram
    * mass. The whole gate runs at scan speed — the property that matters
    * when filtering a 100 TB crawl.
    */
  def qualityFilter(s: SparkSession, d: String): DataFrame = {
    val st = TextOps.stats(col("text"))
    val rp = TextOps.repetitionStats(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        st.getItem(0).as("n_tokens"),
        (st.getItem(2).cast("double") /
          greatest(st.getItem(0), lit(1L)).cast("double")).as("uniq_ratio"),
        (rp.getItem(3).cast("double") /
          greatest(rp.getItem(0), lit(1L)).cast("double")).as("dup_frac"))
      .filter(col("n_tokens") >= 30 && col("uniq_ratio") >= 0.35 &&
        col("dup_frac") <= 0.15)
      .orderBy("doc_id")
  }

  private val qualityFilterSql =
    """WITH t AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM t),
      |c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      |r AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
      |        CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS dup_n
      |      FROM c GROUP BY 1),
      |s AS (SELECT t.doc_id, t.source, CAST(len(ts) AS BIGINT) AS n_tokens,
      |        CAST(len(list_distinct(ts)) AS DOUBLE) / GREATEST(len(ts), 1) AS uniq_ratio,
      |        CAST(COALESCE(dup_n, 0) AS DOUBLE) / GREATEST(COALESCE(n_bigrams, 0), 1) AS dup_frac
      |      FROM t LEFT JOIN r USING (doc_id))
      |SELECT doc_id, source, n_tokens, uniq_ratio, dup_frac FROM s
      |WHERE n_tokens >= 30 AND uniq_ratio >= 0.35 AND dup_frac <= 0.15
      |ORDER BY doc_id""".stripMargin

  /** Spark 4 VARIANT path: build a nested JSON document per event, parse it
    * into the binary VARIANT type, and extract typed paths with
    * `variant_get` — the open-schema column Spark 4 ships for
    * semi-structured data (shredded storage, path pushdown). Values
    * round-trip exactly: numeric JSON text parses to int64/decimal/double
    * per the Variant spec, and doubles printed shortest-round-trip parse
    * back to the identical bits.
    */
  def variantOp(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      // to_json(struct(...)) rather than string concat: strings are
      // JSON-escaped and null fields are OMITTED (ignoreNullFields), so a
      // null column yields variant_get = NULL — matching the oracle's
      // per-column nulls — instead of nulling the whole document
      parse_json(to_json(struct(
        col("user_id").as("u"),
        col("event_type").as("t"),
        struct(col("value").as("v"),
          get_json_object(col("props"), "$.k").cast("int").as("k")).as("m")))).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.u", "bigint").as("u"),
        variant_get(col("v"), "$.t", "string").as("t"),
        variant_get(col("v"), "$.m.v", "double").as("mv"),
        variant_get(col("v"), "$.m.k", "int").as("mk"))
      .orderBy("event_id")

  private val variantOpSql =
    """SELECT event_id, user_id AS u, event_type AS t, "value" AS mv,
      | CAST(json_extract_string(props, '$.k') AS INT) AS mk
      |FROM events ORDER BY event_id""".stripMargin

  /** Per-group top-k through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.TopKPerGroup]] → [[graft.plans.TopKStrategy]] →
    * [[graft.plans.TopKPerGroupExec]], from the graft install table):
    * bounded k-row heaps on both sides of one hash exchange — the shuffle
    * moves ≤ k rows per (group, partition) instead of the whole table, and
    * nothing is ever fully sorted. Oracle = the window row_number form.
    */
  def topkGroup(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPlans.topKPerGroup(
      ord(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      Seq("o_orderpriority"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 5)
      .orderBy("o_orderpriority", "rnk")

  private val topkGroupSql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice, rnk FROM (
      | SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
      | FROM orders) WHERE rnk <= 5
      |ORDER BY o_orderpriority, rnk""".stripMargin

  /** Per-source document cap — the pretraining mixture-control op ("at
    * most N docs per source, best first"): top-30 per source by length
    * with an id tiebreak, through the bounded custom operator — at corpus
    * scale the shuffle moves ≤ 30 rows per (source, map partition), never
    * the corpus. Oracle = the window row_number form.
    */
  def capPerSource(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPlans.topKPerGroup(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), k = 30)
      .orderBy("source", "rnk")

  private val capPerSourceSql =
    """SELECT doc_id, source, n_chars, rnk FROM (
      | SELECT doc_id, source, n_chars,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
      | FROM documents) WHERE rnk <= 30
      |ORDER BY source, rnk""".stripMargin

  /** EXACT corpus heavy hitters via the two-pass Misra–Gries pipeline
    * ([[graft.functions.MisraGries.exactHeavyHitters]]): pass 1 is a
    * bounded-state MG summary (mergeable in any tree shape) whose tracked
    * keys provably superset every token with count above the error bound;
    * pass 2 exact-counts only those candidates. Exact and
    * layout-independent, so the plain GROUP BY/HAVING oracle matches —
    * while at 100 TB the shuffle carries constant-size summaries instead
    * of every distinct token. Capacity is DERIVED from the observed n
    * (escalating past the 8192 default once n/(cap+1) reaches minFreq),
    * so this same entry runs unchanged at any scale factor.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame =
    graft.functions.MisraGries.exactHeavyHitters(
      Tables.documents(s, d)
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token") =!= ""),
      col("token"), minFreq = 50L)
      .withColumnRenamed("key", "token")
      .orderBy(col("n").desc, col("token"))

  private val heavyHittersSql =
    """SELECT token, COUNT(*) AS n FROM (
      | SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
      |WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 50
      |ORDER BY n DESC, token""".stripMargin

  /** SCD-2 dimension maintenance ([[graft.ops.Warehouse.scd2Apply]]):
    * customer order-priority history, change-compressed with validity
    * intervals. Updates are applied in TWO batches split at 1996-01-01 and
    * the oracle is the single-pass compression of the full stream — the
    * incremental path must equal the batch recompute exactly.
    */
  def scd2(s: SparkSession, d: String): DataFrame = {
    val upd = W.dedupByKey(
      ord(s, d).select(col("o_custkey").as("cust"),
        col("o_orderdate").as("eff"), col("o_orderpriority").as("prio"),
        col("o_orderkey")),
      Seq("cust", "eff"), Seq(col("o_orderkey"))).drop("o_orderkey")
    val early = upd.filter(col("eff") < lit("1996-01-01"))
    val late = upd.filter(col("eff") >= lit("1996-01-01"))
    val dim0 = W.scd2Apply(early.limit(0), early, "cust", "eff", Seq("prio"))
      .drop("valid_to", "is_current")
    W.scd2Apply(dim0, late, "cust", "eff", Seq("prio"))
      .select(col("cust"), date_format(col("eff"), "yyyy-MM-dd").as("eff_day"),
        col("prio"), date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to_day"),
        col("is_current"))
      .orderBy("cust", "eff_day")
  }

  private val scd2Sql =
    """WITH u AS (
      | SELECT o_custkey AS cust, o_orderdate AS eff, o_orderpriority AS prio
      | FROM (SELECT o_custkey, o_orderdate, o_orderpriority,
      |        row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                           ORDER BY o_orderkey) AS rn
      |       FROM orders) WHERE rn = 1),
      |c AS (
      | SELECT cust, eff, prio,
      |  lag(prio) OVER (PARTITION BY cust ORDER BY eff) AS prev
      | FROM u),
      |k AS (SELECT cust, eff, prio FROM c WHERE prev IS NULL OR prev <> prio)
      |SELECT cust, strftime(eff, '%Y-%m-%d') AS eff_day, prio,
      | strftime(lead(eff) OVER (PARTITION BY cust ORDER BY eff), '%Y-%m-%d') AS valid_to_day,
      | lead(eff) OVER (PARTITION BY cust ORDER BY eff) IS NULL AS is_current
      |FROM k ORDER BY cust, eff_day""".stripMargin

  /** Full CRUD merge ([[graft.ops.Warehouse.applyChanges]]): apply a CDC
    * changelog to an orders snapshot — tombstones (status 'F') delete,
    * matched keys take the changed price, new keys insert, untouched rows
    * pass through. One full-outer hash join moving (key + one packed
    * struct); the oracle is the equivalent FULL JOIN + CASE. The price
    * bump multiplies by an exact double literal so both engines compute
    * the identical IEEE product.
    */
  def mergeCdc(s: SparkSession, d: String): DataFrame = {
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val changes = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"))
    W.applyChanges(snap, changes, Seq("o_orderkey"),
        deleteCond = col("o_orderstatus") === "F")
      .orderBy("o_orderkey")
  }

  // matched-marker is the JOIN KEY (never null on the s side by
  // construction), not the del flag — a future fixture with NULL statuses
  // would null the flag on matched rows and silently flip the CASE
  private val mergeCdcSql =
    """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey, o_orderstatus,
      |             o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
      |             o_orderstatus = 'F' AS del
      |      FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
      |FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
      |WHERE s.o_orderkey IS NULL OR NOT coalesce(s.del, FALSE)
      |ORDER BY o_orderkey""".stripMargin

  /** Partition-pruned CDC apply ([[graft.ops.Warehouse
    * .applyChangesPartitioned]]) as a driver-verified ROUND-TRIP: write an
    * orders snapshot Hive-partitioned by priority, apply the same
    * changelog as `q_merge_cdc` (tombstones delete, matched keys take the
    * bumped price, new keys insert), read the table back. Each touched
    * `o_orderpriority=value` dir merges and swaps independently — the
    * 100 TB shape where a batch rewrites only the partitions it names —
    * and the oracle computes the expected END STATE with the same
    * FULL JOIN + CASE as `q_merge_cdc`, priority carried through. The
    * changelog names only TWO of the five priorities, so the other three
    * partitions genuinely pass through the pruned path untouched — their
    * rows reach the oracled result only via the unread original files.
    */
  def mergeCdcPart(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "cdc_part")
    // cast pins the stored type: if a fixture vintage ever ships
    // o_totalprice as DECIMAL, merged partitions would otherwise rewrite
    // as DOUBLE (the * 1.1 changes side) while untouched partitions kept
    // DECIMAL files — a readback-breaking per-partition type fork
    ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val changes = ord(s, d).filter(col("o_orderkey") % 2 === 0 &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"), col("o_orderpriority"))
    W.applyChangesPartitioned(changes, dir, "o_orderpriority",
      Seq("o_orderkey"), Seq(col("o_orderstatus")),
      deleteCond = col("o_orderstatus") === "F")
    s.read.parquet(dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** Schema-evolving CDC merge ([[graft.ops.Warehouse.applyChangesEvolve]],
    * the Delta `mergeSchema` analog): the snapshot has only
    * (o_orderkey, o_orderstatus); the changelog arrives with a NEW
    * o_totalprice column. Evolution appends it to the output schema —
    * matched/inserted rows take the changelog value, pass-through rows
    * carry NULL — while tombstones and the matched/insert resolution
    * behave exactly as `q_merge_cdc`. The oracle computes the same
    * widened FULL JOIN end state.
    */
  def mergeCdcEvolve(s: SparkSession, d: String): DataFrame = {
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_orderstatus")
    val changes = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    W.applyChangesEvolve(snap, changes, Seq("o_orderkey"),
        deleteCond = col("o_orderstatus") === "F")
      .orderBy("o_orderkey")
  }

  private val mergeCdcEvolveSql =
    """WITH t AS (SELECT o_orderkey, o_orderstatus
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey, o_orderstatus,
      |             CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |             o_orderstatus = 'F' AS del
      |      FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE NULL END AS o_totalprice
      |FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
      |WHERE s.o_orderkey IS NULL OR NOT coalesce(s.del, FALSE)
      |ORDER BY o_orderkey""".stripMargin

  /** Profile-ADVISED join ([[graft.ops.ValidateOps.adviseJoin]] →
    * [[graft.ops.ValidateOps.advisedJoin]]): the profiler loop closed.
    * The build side's row count and the probe key's (rows, distinct,
    * top-1 count) — the same O(1) scalars a cost-based optimizer reads
    * from table stats — feed the advisor; customer is broadcast-small at
    * every test sf, so the verdict is Broadcast and the executed plan
    * carries no shuffle of orders at all (plan-pinned in
    * `IntervalValidateSpec`; the Salted/Plain verdicts are pinned there
    * too). The oracle is the strategy-invariant plain join.
    */
  def joinAdvised(s: SparkSession, d: String): DataFrame = {
    val V = graft.ops.ValidateOps
    val build = cust(s, d).withColumnRenamed("c_custkey", "o_custkey")
    val probeProfile = V.profileStats(ord(s, d), Seq("o_custkey")).head()
    val top = ord(s, d).groupBy("o_custkey").count()
      .agg(max("count")).head().getLong(0)
    val stats = V.KeyStats(probeProfile.getAs[Long]("n_rows"),
      probeProfile.getAs[Long]("n_distinct"), top)
    val strategy = V.adviseJoin(build.count(), stats)
    V.advisedJoin(ord(s, d), build.select("o_custkey", "c_mktsegment"),
        Seq("o_custkey"), strategy)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  private val joinAdvisedSql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Two-batch CDC apply to a plain parquet warehouse
    * ([[graft.ops.Warehouse.applyChangesParquet]]): batch `p1` then `p2`
    * merge into the directory in order, each behind the crash-safe staged
    * swap — later batches shadow earlier ones per key and tombstones drop
    * keys — and the query reads the directory back with no library on
    * the read path. The oracle computes the same sequential two-batch end
    * state with cascaded FULL JOIN + CASE, later batch first; the
    * versioned table's merge-on-read (`q_vtable_mor`) must reach it too.
    */
  def mergeMor(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "mor")
    // the overwrite resets the base: the query is a pure function of the
    // fixture tables, not of how many times it has run
    ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .write.mode("overwrite").parquet(dir)
    val p1 = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
        (col("o_orderstatus") === "F").as("del"))
    val p2 = ord(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.2)).as("o_totalprice"),
        (col("o_orderstatus") === "O").as("del"))
    Seq(p1, p2).foreach(W.applyChangesParquet(_, dir, Seq("o_orderkey"),
      Seq(col("o_orderstatus")), col("del")))
    s.read.parquet(dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val mergeMorSql =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                  CAST(o_totalprice AS DOUBLE) AS pr
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.1 AS DOUBLE) AS pr,
      |              o_orderstatus = 'F' AS del
      |       FROM orders WHERE o_orderkey % 2 = 0),
      |s2 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.2 AS DOUBLE) AS pr,
      |              o_orderstatus = 'O' AS del
      |       FROM orders WHERE o_orderkey % 5 = 0)
      |SELECT coalesce(t.k, s1.k, s2.k) AS o_orderkey,
      | CASE WHEN s2.k IS NOT NULL THEN s2.st
      |      WHEN s1.k IS NOT NULL THEN s1.st ELSE t.st END AS o_orderstatus,
      | CASE WHEN s2.k IS NOT NULL THEN s2.pr
      |      WHEN s1.k IS NOT NULL THEN s1.pr ELSE t.pr END AS o_totalprice
      |FROM t FULL JOIN s1 ON t.k = s1.k
      |       FULL JOIN s2 ON coalesce(t.k, s1.k) = s2.k
      |WHERE CASE WHEN s2.k IS NOT NULL THEN NOT coalesce(s2.del, FALSE)
      |           WHEN s1.k IS NOT NULL THEN NOT coalesce(s1.del, FALSE)
      |           ELSE TRUE END
      |ORDER BY o_orderkey""".stripMargin

  private val mergeCdcPartSql =
    """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey, o_orderstatus,
      |             o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
      |             o_orderpriority, o_orderstatus = 'F' AS del
      |      FROM orders WHERE o_orderkey % 2 = 0
      |        AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
      |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
      |FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
      |WHERE s.o_orderkey IS NULL OR NOT coalesce(s.del, FALSE)
      |ORDER BY o_orderkey""".stripMargin

  /** Versioned-table time travel ([[graft.ops.VersionedTable]]): the
    * metadata-commit lakehouse core. An orders snapshot becomes version 1,
    * two CDC merges land as versions 2 and 3 — each a stats-pruned
    * copy-on-write commit that rewrites only key-intersecting files — and
    * the query reads BOTH `asOf = 2` and the current version: the v2 rows
    * prove an already-superseded state stays exactly reproducible (its
    * files are immutable until vacuum), the v3 rows prove the sequential
    * merge end state. The oracle recomputes both states as chained
    * FULL JOIN + CASE merges.
    */
  /** Build the shared versioned-orders fixture: v1 = snapshot (keys with
    * `o_orderkey % 3 ≠ 0`, price pinned double, range-clustered on the
    * key so merge pruning has tight intervals), v2 = merge of the
    * `% 2 = 0` changelog (price × 1.1, 'F' tombstones), v3 = merge of
    * the `% 5 = 0` changelog (price × 1.2, 'O' tombstones). Rebuilt from
    * scratch on every call — each consuming query stays a pure function
    * of the fixture tables.
    */
  private def buildOrdersVtable(s: SparkSession, d: String, dir: String): Unit = {
    val VT = graft.ops.VersionedTable
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    val p1 = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
        (col("o_orderstatus") === "F").as("del"))
    val p2 = ord(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.2)).as("o_totalprice"),
        (col("o_orderstatus") === "O").as("del"))
    // orders keys are unique → the dedup exchange is a semantic no-op;
    // take the caller-guaranteed-unique merge path
    VT.commitMergeUnique(p1, dir, Seq("o_orderkey"), col("del"))
    VT.commitMergeUnique(p2, dir, Seq("o_orderkey"), col("del"))
  }

  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable")
    buildOrdersVtable(s, d, dir)
    VT.read(s, dir, asOf = Some(2L)).withColumn("ver", lit(2L))
      .unionByName(VT.read(s, dir).withColumn("ver", lit(3L)))
      .select("ver", "o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("ver", "o_orderkey")
  }

  private val timeTravelSql =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                  CAST(o_totalprice AS DOUBLE) AS pr
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.1 AS DOUBLE) AS pr,
      |              o_orderstatus = 'F' AS del
      |       FROM orders WHERE o_orderkey % 2 = 0),
      |s2 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.2 AS DOUBLE) AS pr,
      |              o_orderstatus = 'O' AS del
      |       FROM orders WHERE o_orderkey % 5 = 0),
      |v2 AS (SELECT coalesce(t.k, s1.k) AS k,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.st ELSE t.st END AS st,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.pr ELSE t.pr END AS pr
      |       FROM t FULL JOIN s1 ON t.k = s1.k
      |       WHERE s1.k IS NULL OR NOT coalesce(s1.del, FALSE)),
      |v3 AS (SELECT coalesce(v2.k, s2.k) AS k,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.st ELSE v2.st END AS st,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.pr ELSE v2.pr END AS pr
      |       FROM v2 FULL JOIN s2 ON v2.k = s2.k
      |       WHERE s2.k IS NULL OR NOT coalesce(s2.del, FALSE))
      |SELECT CAST(2 AS BIGINT) AS ver, k AS o_orderkey, st AS o_orderstatus,
      |       pr AS o_totalprice FROM v2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT) AS ver, k AS o_orderkey, st AS o_orderstatus,
      |       pr AS o_totalprice FROM v3
      |ORDER BY ver, o_orderkey""".stripMargin

  /** Zone-map data skipping on the versioned table
    * ([[graft.ops.VersionedTable.readPruned]]): lineitem is written
    * range-clustered on `l_orderkey` so each file carries a tight manifest
    * [min, max]; a BETWEEN read then OPENS only the files whose interval
    * intersects — the same stats-skipping idea as parquet row-group
    * pruning, one level up where it saves the file open itself (and, on
    * object storage, the GET). The exact predicate still applies to
    * survivors, so the result is precisely the filtered table — the oracle
    * is the plain WHERE aggregate; `VersionedTableSpec` pins that files
    * genuinely drop.
    */
  def statsPrune(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_prune")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = li(s, d).select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    VT.create(base, dir, statsCols = Seq("l_orderkey"))
    VT.readPruned(s, dir, "l_orderkey", lit(1000L), lit(3000L))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("l_extendedprice")))).as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val statsPruneSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Predicate-driven data skipping ([[graft.ops.VersionedTable
    * .readWhere]]): an ARBITRARY filter Column — two range conjuncts on
    * the clustered key, an equality on an un-stats'd column, and an IN
    * list — is mined for prunable intervals; files whose manifest stats
    * cannot satisfy them are never opened, and the full predicate
    * re-applies to survivors. The oracle is simply the same WHERE clause:
    * correctness is independent of how well extraction pruned.
    */
  def pruneWhere(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_where")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_extendedprice"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    VT.create(base, dir, statsCols = Seq("l_orderkey"))
    VT.readWhere(s, dir,
        col("l_orderkey") >= 500L && col("l_orderkey") < 2500L &&
          col("l_returnflag") =!= "N" && col("l_linenumber").isin(1, 2, 3))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("l_extendedprice")))).as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val pruneWhereSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey >= 500 AND l_orderkey < 2500
      |  AND l_returnflag <> 'N' AND l_linenumber IN (1, 2, 3)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** OPTIMIZER-integrated data skipping ([[graft.plans.VtableSkipping]]):
    * the same pruning as `q_prune_where`, but driven from PURE SQL — a
    * plain `WHERE` over the `graft_vtable` table function, with no
    * cooperation from the caller. The injected rule fires on
    * `Filter(cond, taggedRelation)` after Catalyst's own pushdown
    * batches, mines the conjuncts, and swaps the scan's file index for
    * the manifest survivors — the Filter stays, so the oracle is again
    * just the same WHERE clause. This is the UX a lakehouse owes its SQL
    * users: data skipping nobody has to ask for.
    */
  def pruneSql(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_sql")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_extendedprice"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    VT.create(base, dir, statsCols = Seq("l_orderkey"))
    s.sql(
      s"""SELECT l_returnflag, COUNT(*) AS n,
         | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         |FROM graft_vtable('$dir')
         |WHERE l_orderkey BETWEEN 500 AND 2499 AND l_linenumber IN (1, 2, 3)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  private val pruneSqlSql =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 500 AND 2499 AND l_linenumber IN (1, 2, 3)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Metadata-only aggregates ([[graft.plans.VtableMetadataAgg]]): an
    * ungrouped, unfiltered COUNT/MIN/MAX over a versioned table is
    * answered straight from the manifest — the optimizer rule replaces
    * the whole Aggregate with a one-row local relation, so NO parquet
    * file opens and NO scan job runs (the spec pins the plan). At 100 TB
    * this is the difference between an instant catalog answer and a
    * full-table scan for `SELECT COUNT(*)`. The oracle recomputes the
    * same aggregates the hard way over the raw table.
    */
  def aggMeta(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_meta")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val base = li(s, d).select(col("l_orderkey"), col("l_returnflag"))
      .repartitionByRange(4, col("l_orderkey"))
    VT.create(base, dir, statsCols = Seq("l_orderkey"))
    s.sql(
      s"""SELECT COUNT(*) AS n, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx,
         |       COUNT(l_orderkey) AS nn
         |FROM graft_vtable('$dir')""".stripMargin)
  }

  private val aggMetaSql =
    """SELECT COUNT(*) AS n, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx,
      |       COUNT(l_orderkey) AS nn
      |FROM lineitem""".stripMargin

  /** Incremental materialized-view maintenance ([[graft.ops.ViewOps]]):
    * a grouped SUM/COUNT view over a versioned orders table is kept
    * current by folding each commit's CHANGE DATA FEED (pre-image
    * encoded, so updates retract their old contribution) instead of
    * re-aggregating the table — the classic IVM algebra, run through the
    * whole lakehouse loop: the view is itself a versioned table, each
    * refresh is one stats-pruned merge touching only changed groups, and
    * the refresh cursor lives in the view manifest's transaction ledger
    * (the fourth `refresh()` is a deliberate replay and must no-op).
    * The oracle re-derives the FINAL source state with chained FULL JOIN
    * folds (same shape as `q_time_travel`) and aggregates it from
    * scratch — the folded view must equal that exactly. The measure is
    * integer cents (`floor(price*100+0.5)`) so the incremental sum is
    * associative and replay-stable across engines.
    */
  def ivm(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val src = fixtureDir(d, "vtable_ivm")
    val view = fixtureDir(d, "vtable_ivm_view")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(view), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, src, statsCols = Seq("o_orderkey"))
    def refresh(): Long = graft.ops.ViewOps.refreshAggView(s, src, view,
      groupCols = Seq("o_orderstatus"),
      measures = Seq("cents"), appId = "q_ivm")
    refresh() // bootstrap from v1
    val p1 = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (cents(col("o_totalprice")) + lit(1000L)).as("cents"),
        (col("o_orderstatus") === "F").as("del"))
    VT.commitMergeUnique(p1, src, Seq("o_orderkey"), col("del"))
    refresh() // fold CDF v1→v2
    val p2 = ord(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (cents(col("o_totalprice")) * lit(2L)).as("cents"),
        (col("o_orderstatus") === "O").as("del"))
    VT.commitMergeUnique(p2, src, Seq("o_orderkey"), col("del"))
    refresh() // fold CDF v2→v3
    refresh() // replay: ledger-skipped no-op
    // coalesce(1) + in-partition sort: same deterministic total order as
    // orderBy on this O(groups) frame without the range-sampling job
    graft.ops.ViewOps.present(VT.read(s, view), Seq("cents"))
      .select(col("o_orderstatus"), col("n"),
        col("sum_cents").cast("double").as("sum_cents"))
      .coalesce(1).sortWithinPartitions("o_orderstatus")
  }

  /** AUTOMATIC MATERIALIZED-VIEW REWRITE ([[graft.plans
    * .VtableViewRewrite]]): a grouped SUM/COUNT over a versioned fact
    * table is answered from its IVM-maintained view instead of the scan —
    * the O(groups)-vs-O(table) read that makes maintained aggregates pay
    * off at 100 TB. The query builds the fact table in two commits with a
    * view refresh after each (bootstrap + one incremental fold), then
    * runs a plain SQL GROUP BY through the `graft_vtable` TVF. The plan
    * is REQUIRED to scan the view (not just produce matching values), so
    * the correctness gate also gates the rewrite firing; the ledger
    * freshness check is what licenses it. The oracle recomputes the
    * aggregate from the base table.
    */
  def mvRewrite(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val src = fixtureDir(d, "vtable_mv")
    val view = fixtureDir(d, "vtable_mv_view")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(view), true)
    def slice(r: Int) = ord(s, d).filter(col("o_orderkey") % 3 === r)
      .select(col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).as("cents"))
    VT.create(slice(0).repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), src, statsCols = Seq("o_orderkey"))
    def refresh(): Long = graft.ops.ViewOps.refreshAggView(s, src, view,
      groupCols = Seq("o_orderpriority"),
      measures = Seq("cents"), appId = "q_mv")
    refresh() // bootstrap from v1
    VT.commitAppend(slice(1), src) // v2
    refresh() // incremental: signed file-level delta, no key shuffle
    val q = s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(cents) AS DOUBLE) AS sum_cents
         |FROM graft_vtable('$src')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    val scans = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.getTagValue(VT.pruneTag).isDefined =>
        lr.getTagValue(VT.pruneTag).get._1
    }.toSet
    require(scans == Set(view),
      s"q_mv_rewrite: the aggregate must be answered from the maintained " +
        s"view, but the plan scans $scans")
    q
  }

  private val mvRewriteSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |            AS DOUBLE) AS sum_cents
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val ivmSql =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) + 1000 AS c,
      |              o_orderstatus = 'F' AS del
      |       FROM orders WHERE o_orderkey % 2 = 0),
      |s2 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS c,
      |              o_orderstatus = 'O' AS del
      |       FROM orders WHERE o_orderkey % 5 = 0),
      |v2 AS (SELECT coalesce(t.k, s1.k) AS k,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.st ELSE t.st END AS st,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.c ELSE t.c END AS c
      |       FROM t FULL JOIN s1 ON t.k = s1.k
      |       WHERE s1.k IS NULL OR NOT coalesce(s1.del, FALSE)),
      |v3 AS (SELECT coalesce(v2.k, s2.k) AS k,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.st ELSE v2.st END AS st,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.c ELSE v2.c END AS c
      |       FROM v2 FULL JOIN s2 ON v2.k = s2.k
      |       WHERE s2.k IS NULL OR NOT coalesce(s2.del, FALSE))
      |SELECT st AS o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM v3 GROUP BY st ORDER BY st""".stripMargin

  /** The METADATA-SCALE path of the versioned table, end to end: with the
    * inline-manifest bound lowered, the fixture's appends cross into
    * O(delta) manifests + a parquet CHECKPOINT of the file list
    * ([[graft.ops.VersionedTable]]'s Delta-log/`_last_checkpoint` layer),
    * the merge finds its touched files via a SPARK JOB over the
    * checkpoint relation (not a driver loop over parsed JSON), and the
    * final `readWhere` prunes files through the same distributed tier.
    * The oracle recomputes the final table state with one FULL JOIN fold
    * and aggregates the same key slice — every answer must survive the
    * metadata format change byte-for-byte. Measure is integer cents so
    * sums are exact across engines.
    */
  def vtableCkpt(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_ckpt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val knobs = Seq("spark.graft.vtable.inlineMaxFiles" -> "4",
      "spark.graft.vtable.checkpointInterval" -> "2",
      "spark.graft.vtable.distributedPruneThreshold" -> "6")
    val olds = knobs.map { case (k, _) => k -> s.conf.getOption(k) }
    knobs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
      def slice(r: Int) = ord(s, d).filter(col("o_orderkey") % 4 === r)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"))
        .repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      VT.create(slice(1), dir, statsCols = Seq("o_orderkey"))
      Seq(2, 3, 0).foreach(r => VT.commitAppend(slice(r), dir))
      val chg = ord(s, d).filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (cents(col("o_totalprice")) * lit(2L)).as("cents"),
          (col("o_orderstatus") === "F").as("del"))
      VT.commitMergeUnique(chg, dir, Seq("o_orderkey"), col("del"))
      VT.readWhere(s, dir,
          col("o_orderkey") >= lit(100L) && col("o_orderkey") <= lit(5000L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("double").as("sum_cents"))
        .orderBy("o_orderstatus")
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private val vtableCkptSql =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |              FROM orders),
      |chg AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 2 AS c,
      |               o_orderstatus = 'F' AS del
      |        FROM orders WHERE o_orderkey % 7 = 0),
      |fin AS (SELECT coalesce(chg.k, base.k) AS k,
      |               CASE WHEN chg.k IS NOT NULL THEN chg.st ELSE base.st END AS st,
      |               CASE WHEN chg.k IS NOT NULL THEN chg.c ELSE base.c END AS c
      |        FROM base FULL JOIN chg ON base.k = chg.k
      |        WHERE chg.k IS NULL OR NOT coalesce(chg.del, FALSE))
      |SELECT st AS o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM fin WHERE k BETWEEN 100 AND 5000
      |GROUP BY st ORDER BY st""".stripMargin

  /** SQL `MERGE INTO` on a versioned table ([[graft.sql.GraftDml]]): the
    * reference's upsert is a SQL statement (reference/scripts/load.py:
    * 114-147, `INSERT ... ON CONFLICT (arrest_key) DO NOTHING` over a
    * staging table); here the PARSED statement — not a library call —
    * routes through the copy-on-write versioned merge, and the target is
    * addressed by CATALOG NAME (`graft_register_vtable`), not a path.
    * Same FULL JOIN + CASE oracle family as `q_merge_cdc`. Measure is
    * integer cents so every value is engine-exact.
    */
  def mergeSql(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_dml_merge")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    val name = s"orders_dml_${new java.io.File(d).getName}"
    s.sql(s"SELECT * FROM graft_register_vtable('$name', '$dir')").collect()
    ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (cents(col("o_totalprice")) + lit(1000L)).as("cents"),
        (col("o_orderstatus") === "F").as("del"))
      .createOrReplaceTempView("merge_sql_src")
    graft.sql.GraftSql.sql(s,
      s"""MERGE INTO graft_vtable('$name') AS t
         |USING (SELECT o_orderkey, o_orderstatus, cents, del
         |       FROM merge_sql_src) AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    VT.read(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("cents").cast("double").as("cents"))
      .orderBy("o_orderkey")
  }

  private val mergeSqlSql =
    """WITH t AS (SELECT o_orderkey, o_orderstatus,
      |                  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey, o_orderstatus,
      |             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) + 1000 AS c,
      |             o_orderstatus = 'F' AS del
      |      FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      | CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.c ELSE t.c END AS DOUBLE) AS cents
      |FROM t FULL JOIN s ON t.o_orderkey = s.o_orderkey
      |WHERE s.o_orderkey IS NULL OR NOT coalesce(s.del, FALSE)
      |ORDER BY o_orderkey""".stripMargin

  /** SQL `UPDATE` on a versioned table: the parsed statement rewrites
    * ONLY the files whose manifest interval can hold a matching row
    * (mined `o_orderkey` range → file pruning; the exact WHERE still
    * applies per row), carrying the rest by reference — Delta-style
    * UPDATE semantics reachable from a plain SQL string. Oracle applies
    * the same CASE to every row.
    */
  def updateSql(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_dml_update")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val snap = ord(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    graft.sql.GraftSql.sql(s,
      s"""UPDATE graft_vtable('$dir')
         |SET cents = cents * 2
         |WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
         |  AND o_orderstatus = 'O'""".stripMargin).collect()
    VT.read(s, dir).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("double").as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  private val updateSqlSql =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |              FROM orders)
      |SELECT st AS o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN k >= 1000 AND k <= 3000 AND st = 'O'
      |                     THEN c * 2 ELSE c END) AS DOUBLE) AS sum_cents
      |FROM base GROUP BY st ORDER BY st""".stripMargin

  /** SQL `DELETE` on a versioned table: the minable `o_orderkey` bound
    * prunes untouched files; the unminable `% 2` conjunct rides along as
    * the exact per-row predicate. History is preserved — the pre-delete
    * version still time-travels (spec-pinned; the oracle checks the end
    * state).
    */
  def deleteSql(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_dml_delete")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val snap = ord(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    graft.sql.GraftSql.sql(s,
      s"""DELETE FROM graft_vtable('$dir')
         |WHERE o_orderkey <= 3000 AND o_orderkey % 2 = 0""".stripMargin).collect()
    VT.read(s, dir).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("double").as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  private val deleteSqlSql =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                     CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |              FROM orders)
      |SELECT st AS o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM base WHERE NOT (k <= 3000 AND k % 2 = 0)
      |GROUP BY st ORDER BY st""".stripMargin

  /** SQL DDL end to end ([[graft.sql.GraftDml]] CREATE/DROP): the whole
    * table LIFECYCLE without one library call — `DROP TABLE IF EXISTS
    * ... PURGE` (re-runnable fixture), `CREATE TABLE ... STATS
    * (c_custkey) AS <query>` (creates the versioned table at the
    * catalog-default location and registers the name), `MERGE INTO` the
    * NAME, and a grouped SELECT through the `graft_vtable` TVF — the SQL
    * analog of the reference's setup_db.py DDL + load.py upsert
    * (reference/scripts/setup_db.py:33-54, load.py:114-147). The oracle
    * recomputes the CTAS + merge from scratch in DuckDB.
    */
  def ddlSql(s: SparkSession, d: String): DataFrame = {
    val name = s"cust_ddl_${new java.io.File(d).getName}"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    cust(s, d).createOrReplaceTempView("ddl_src")
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$name') STATS (c_custkey) AS
         |SELECT c_custkey, c_nationkey,
         |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
         |FROM ddl_src WHERE c_custkey % 3 <> 0""".stripMargin).collect()
    G.sql(s,
      s"""MERGE INTO graft_vtable('$name') AS t
         |USING (SELECT c_custkey, c_nationkey,
         |              CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500 AS cents,
         |              c_nationkey % 2 = 0 AS del
         |       FROM ddl_src WHERE c_custkey % 2 = 0) AS s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    s.sql(
      s"""SELECT c_nationkey, COUNT(*) AS n,
         |       CAST(SUM(cents) AS DOUBLE) AS sum_cents
         |FROM graft_vtable('$name')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** V2 `TableCatalog` end to end ([[graft.catalog.GraftTableCatalog]]):
    * the versioned table addressed as `graft.<name>` through SPARK'S OWN
    * analyzer — CTAS with `CLUSTER BY` (the layout contract: every write
    * through the catalog range-clusters, so manifest intervals are tight
    * from the first commit), `INSERT INTO` through the V1Write bridge,
    * `DELETE … WHERE` through `SupportsDelete`, and a final narrow
    * SELECT — no `graft_vtable()` TVF anywhere. Plan-asserted inside the
    * query: the catalog read swaps to the SAME tagged parquet relation
    * the TVF produces ([[graft.plans.VtableCatalogReads]]) AND
    * manifest-prunes below the table's file count
    * ([[graft.plans.VtableSkipping]] firing through the catalog
    * spelling). Reference analog: the warehouse IS a named catalog
    * table (reference/scripts/setup_db.py:33, load.py:114).
    */
  def catalogSql(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftTableCatalog].getName)
    val name = s"cust_cat_${new java.io.File(d).getName}".replace('.', '_')
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    cust(s, d).createOrReplaceTempView("cat_src")
    s.sql(
      s"""CREATE TABLE graft.`$name` CLUSTER BY (c_custkey)
         |AS SELECT c_custkey, c_nationkey,
         |          CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
         |   FROM cat_src WHERE c_custkey % 3 <> 0""".stripMargin).collect()
    s.sql(
      s"""INSERT INTO graft.`$name`
         |SELECT c_custkey, c_nationkey,
         |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500
         |FROM cat_src WHERE c_custkey % 3 = 0""".stripMargin).collect()
    s.sql(s"DELETE FROM graft.`$name` WHERE c_custkey BETWEEN 100 AND 199")
      .collect()
    val q = s.sql(
      s"""SELECT c_custkey, c_nationkey, cents
         |FROM graft.`$name`
         |WHERE c_custkey >= 50 AND c_custkey < 400
         |ORDER BY c_custkey""".stripMargin)
    // plan-assert on an ORDER-BY-free probe: the sort's exchange would AQE-
    // wrap the executed plan and hide the scan from a pre-execution collect
    def filesScanned(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
    val total = filesScanned(s.sql(s"SELECT c_custkey FROM graft.`$name`"))
    val pruned = filesScanned(s.sql(
      s"SELECT c_custkey FROM graft.`$name` " +
        "WHERE c_custkey >= 50 AND c_custkey < 400"))
    require(pruned > 0,
      "q_catalog_sql: the catalog read must swap to the native parquet scan")
    require(pruned < total,
      s"q_catalog_sql: expected a manifest-pruned scan, got $pruned/$total files")
    q
  }

  private val catalogSqlSql =
    """WITH base AS (SELECT c_custkey, c_nationkey,
      |                     CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |              FROM customer),
      |t AS (SELECT c_custkey, c_nationkey, cents FROM base
      |      WHERE c_custkey % 3 <> 0
      |      UNION ALL
      |      SELECT c_custkey, c_nationkey, cents + 500 FROM base
      |      WHERE c_custkey % 3 = 0)
      |SELECT c_custkey, c_nationkey, cents FROM t
      |WHERE NOT (c_custkey BETWEEN 100 AND 199)
      |  AND c_custkey >= 50 AND c_custkey < 400
      |ORDER BY c_custkey""".stripMargin

  /** `MERGE INTO graft.<name>` through SPARK'S OWN MERGE grammar and the
    * V2 catalog — no TVF, no front-parsed statement head: the analyzer
    * resolves target and source, and [[graft.plans.VtableCatalogDml]]
    * rewrites the resolved plan into the library's
    * [[graft.ops.VersionedTable.commitMerge]] (the Delta
    * DeltaAnalysis→MergeIntoCommand playbook — the table skips
    * `SupportsRowLevelOperations`, whose group-based rewrite would
    * re-plan the merge as a self-join + full-group rewrite the library
    * commit already beats). Plan-asserted IN the query: the merge's
    * key range [500, 999] touches a strict subset of the CLUSTER BY
    * range-clustered base files; the rest must carry into v2 BY
    * REFERENCE (the same stats-pruned touched-file detection as every
    * other merge spelling). Reference analog: the upsert is the
    * reference's core operator (reference/scripts/load.py:114-147).
    */
  def catalogMerge(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftTableCatalog].getName)
    val name = s"cust_catm_${new java.io.File(d).getName}".replace('.', '_')
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    cust(s, d).createOrReplaceTempView("catm_src")
    s.sql(
      s"""CREATE TABLE graft.`$name` CLUSTER BY (c_custkey)
         |AS SELECT c_custkey, c_nationkey,
         |          CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
         |   FROM catm_src WHERE c_custkey % 3 <> 0""".stripMargin).collect()
    // scale-relative key band [max/3, max/2]: touches a strict subset of
    // the range-clustered files at every SF (an absolute band would miss
    // the table entirely at small scales)
    val maxK = cust(s, d).agg(max(col("c_custkey"))).head()
      .get(0).asInstanceOf[Number].longValue
    val (lo, hi) = (maxK / 3, maxK / 2)
    val VT = graft.ops.VersionedTable
    val dir = graft.ops.GraftCatalog.lookup(s, name).get
    val vPre = VT.currentVersion(s, dir).get // CTAS = create + append
    s.sql(
      s"""MERGE INTO graft.`$name` AS t
         |USING (SELECT c_custkey, c_nationkey,
         |              CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500 AS cents,
         |              c_nationkey % 2 = 0 AS del
         |       FROM catm_src WHERE c_custkey BETWEEN $lo AND $hi) AS st
         |ON t.c_custkey = st.c_custkey
         |WHEN MATCHED AND st.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val v1 = VT.readManifest(s, dir, vPre).files.map(_.path).toSet
    val v2 = VT.readManifest(s, dir, vPre + 1).files.map(_.path).toSet
    require(v1.intersect(v2).nonEmpty,
      "q_catalog_merge: the bounded-key merge must carry untouched base " +
        "files by reference (stats-pruned touched-file detection)")
    require(v1.diff(v2).nonEmpty,
      "q_catalog_merge: the merge must rewrite at least one touched file")
    s.sql(
      s"""SELECT c_nationkey, COUNT(*) AS n,
         |       CAST(SUM(cents) AS DOUBLE) AS sum_cents
         |FROM graft.`$name`
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  private val catalogMergeSql =
    """WITH t AS (SELECT c_custkey, c_nationkey,
      |                  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |           FROM customer WHERE c_custkey % 3 <> 0),
      |s AS (SELECT c_custkey, c_nationkey,
      |             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500 AS cents,
      |             c_nationkey % 2 = 0 AS del
      |      FROM customer
      |      WHERE c_custkey BETWEEN
      |              (SELECT CAST(FLOOR(MAX(c_custkey) / 3.0) AS BIGINT) FROM customer)
      |          AND (SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) FROM customer)),
      |m AS (SELECT coalesce(t.c_custkey, s.c_custkey) AS k,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
      |            ELSE t.c_nationkey END AS nk,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.cents ELSE t.cents END AS c
      |      FROM t FULL JOIN s ON t.c_custkey = s.c_custkey
      |      WHERE t.c_custkey IS NULL OR s.c_custkey IS NULL
      |         OR NOT coalesce(s.del, FALSE))
      |SELECT nk AS c_nationkey, COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM m GROUP BY nk ORDER BY nk""".stripMargin

  /** `MERGE WITH SCHEMA EVOLUTION INTO graft.<t>` through Spark's own
    * grammar: the source carries a column the target lacks; Spark's
    * ResolveMergeIntoSchemaEvolution (gated on the table's
    * AUTOMATIC_SCHEMA_EVOLUTION capability) computes the AddColumn
    * change, drives it through [[graft.catalog.GraftTableCatalog]]
    * `.alterTable` — an O(1) [[graft.ops.VersionedTable.commitAddColumns]]
    * metadata commit, NO data rewritten — then re-resolves the merge
    * against the widened relation. Carried base files lack the column on
    * disk and read NULL through the evolved manifest schema (parquet's
    * missing-column rule), which the grouped result exercises: rows the
    * merge never touched must aggregate with NULL `seg`. Delta parity:
    * `spark.databricks.delta.schema.autoMerge` / WITH SCHEMA EVOLUTION.
    */
  def catalogMergeEvolve(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftTableCatalog].getName)
    val name = s"cust_catme_${new java.io.File(d).getName}".replace('.', '_')
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    cust(s, d).createOrReplaceTempView("catme_src")
    s.sql(
      s"""CREATE TABLE graft.`$name` CLUSTER BY (c_custkey)
         |AS SELECT c_custkey, c_nationkey
         |   FROM catme_src WHERE c_custkey % 3 <> 0""".stripMargin).collect()
    val maxK = cust(s, d).agg(max(col("c_custkey"))).head()
      .get(0).asInstanceOf[Number].longValue
    val (lo, hi) = (maxK / 3, maxK / 2)
    val VT = graft.ops.VersionedTable
    val dir = graft.ops.GraftCatalog.lookup(s, name).get
    val vPre = VT.currentVersion(s, dir).get
    val preFiles = VT.readManifest(s, dir, vPre).files.map(_.path).toSet
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$name` AS t
         |USING (SELECT c_custkey, c_nationkey,
         |              c_custkey % 5 AS seg
         |       FROM catme_src WHERE c_custkey BETWEEN $lo AND $hi) AS st
         |ON t.c_custkey = st.c_custkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    // evolution is METADATA-ONLY (an addColumns commit) + an ordinary
    // merge: exactly two commits, and the untouched base files carry by
    // reference into the final version — no table-wide rewrite
    val vPost = VT.currentVersion(s, dir).get
    require(vPost == vPre + 2,
      s"q_catalog_merge_evolve: expected ALTER + MERGE = 2 commits, got " +
        s"${vPost - vPre}")
    require(VT.readMeta(s, dir, vPre + 1).op == "addColumns",
      "q_catalog_merge_evolve: the evolution commit must be the O(1) " +
        "addColumns metadata commit")
    val postFiles = VT.readManifest(s, dir, vPost).files.map(_.path).toSet
    require(preFiles.intersect(postFiles).nonEmpty,
      "q_catalog_merge_evolve: untouched base files must carry by " +
        "reference through the evolved schema")
    s.sql(
      s"""SELECT c_nationkey, COUNT(*) AS n, COUNT(seg) AS n_seg,
         |       CAST(SUM(seg) AS DOUBLE) AS sum_seg
         |FROM graft.`$name`
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  private val catalogMergeEvolveSql =
    """WITH t AS (SELECT c_custkey, c_nationkey FROM customer
      |           WHERE c_custkey % 3 <> 0),
      |s AS (SELECT c_custkey, c_nationkey, c_custkey % 5 AS seg
      |      FROM customer
      |      WHERE c_custkey BETWEEN
      |              (SELECT CAST(FLOOR(MAX(c_custkey) / 3.0) AS BIGINT) FROM customer)
      |          AND (SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) FROM customer)),
      |m AS (SELECT coalesce(t.c_custkey, s.c_custkey) AS k,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
      |            ELSE t.c_nationkey END AS nk,
      |       s.seg AS seg
      |      FROM t FULL JOIN s ON t.c_custkey = s.c_custkey)
      |SELECT nk AS c_nationkey, COUNT(*) AS n, COUNT(seg) AS n_seg,
      |       CAST(SUM(seg) AS DOUBLE) AS sum_seg
      |FROM m GROUP BY nk ORDER BY nk""".stripMargin

  /** SQL TABLE MAINTENANCE end to end ([[graft.sql.GraftDml]] OPTIMIZE /
    * ALTER / RESTORE / VACUUM, over the DML from `q_ddl_sql`): fragment a
    * table with a CTAS + `INSERT INTO` + a disjoint-slice MERGE, `OPTIMIZE` the small
    * files away (logical no-op the oracle never sees), widen the schema
    * with a metadata-only `ALTER TABLE ... ADD COLUMNS`, fill the new
    * column with `UPDATE`, `DELETE` a slice, roll the delete back with
    * `RESTORE TABLE ... TO VERSION AS OF`, and `VACUUM` the superseded
    * versions — then read the final state. Every lakehouse maintenance
    * verb reachable from pure SQL; the oracle recomputes the surviving
    * logical content directly (Delta analogs: OPTIMIZE [ZORDER], ALTER
    * TABLE ADD COLUMNS, RESTORE, VACUUM).
    */
  /** Metadata-only column evolution from SQL ([[graft.sql.GraftDml]]
    * `ALTER TABLE ... RENAME COLUMN / DROP COLUMN` →
    * [[graft.ops.VersionedTable.commitRenameColumn]]/[[graft.ops.VersionedTable.commitDropColumn]]
    * — the Delta column-mapping idea): rename a column (O(1) commit, the
    * physical name inside every shared file never changes), UPDATE
    * through the new name, drop a column (bytes stay dead in place), then
    * RE-ADD a column of the dropped name — which must read NULL
    * everywhere, never the dropped bytes (the resurrection hazard this
    * design exists to kill; the oracle pins it via `CAST(NULL AS ...)`)
    * — and append through the evolved schema. `ColumnMappingSpec` pins
    * the byte-identical no-rewrite invariants file-level.
    */
  def colmapSql(s: SparkSession, d: String): DataFrame = {
    val name = s"cust_colmap_${new java.io.File(d).getName}"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    Tables.customer(s, d).createOrReplaceTempView("colmap_src")
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$name') STATS (c_custkey) AS
         |SELECT c_custkey, c_nationkey,
         |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
         |FROM colmap_src""".stripMargin).collect()
    G.sql(s,
      s"ALTER TABLE graft_vtable('$name') RENAME COLUMN cents TO amount").collect()
    G.sql(s,
      s"UPDATE graft_vtable('$name') SET amount = amount + 5 " +
        "WHERE c_nationkey < 10").collect()
    G.sql(s,
      s"ALTER TABLE graft_vtable('$name') DROP COLUMN c_nationkey").collect()
    G.sql(s,
      s"ALTER TABLE graft_vtable('$name') ADD COLUMNS (c_nationkey BIGINT)")
      .collect()
    G.sql(s,
      s"INSERT INTO graft_vtable('$name') " +
        "SELECT CAST(-1 AS BIGINT) AS c_custkey, CAST(0 AS BIGINT) AS amount, " +
        "CAST(7 AS BIGINT) AS c_nationkey").collect()
    s.sql(
      s"""SELECT c_custkey, amount, c_nationkey
         |FROM graft_vtable('$name')
         |ORDER BY c_custkey""".stripMargin)
  }

  private val colmapSqlSql =
    """SELECT c_custkey,
      |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
      |         + CASE WHEN c_nationkey < 10 THEN 5 ELSE 0 END AS amount,
      |       CAST(NULL AS BIGINT) AS c_nationkey
      |FROM customer
      |UNION ALL
      |SELECT -1, 0, 7
      |ORDER BY c_custkey""".stripMargin

  def maintenanceSql(s: SparkSession, d: String): DataFrame = {
    val name = s"ord_maint_${new java.io.File(d).getName}"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    Tables.orders(s, d).createOrReplaceTempView("maint_src")
    val slice =
      """SELECT o_orderkey, o_custkey,
        |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |FROM maint_src WHERE o_orderkey % 7 = """.stripMargin
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$name') STATS (o_orderkey) AS
         |${slice}0""".stripMargin).collect()
    // a CHECK constraint published before the churn: every later
    // INSERT/MERGE/UPDATE below runs with in-frame enforcement live
    G.sql(s,
      s"""ALTER TABLE graft_vtable('$name')
         |ADD CONSTRAINT cents_pos CHECK (cents >= 0)""".stripMargin).collect()
    G.sql(s,
      s"INSERT INTO graft_vtable('$name') ${slice}1").collect()
    G.sql(s,
      s"""MERGE INTO graft_vtable('$name') AS t
         |USING (${slice}2) AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    G.sql(s, s"OPTIMIZE graft_vtable('$name')").collect()
    // predicate-scoped compaction: file-granularity, row-preserving — the
    // oracle is unchanged, the verb runs oracled-live
    G.sql(s,
      s"OPTIMIZE graft_vtable('$name') WHERE (o_orderkey < 1000)").collect()
    G.sql(s, s"ALTER TABLE graft_vtable('$name') ADD COLUMNS (flag STRING)").collect()
    // versions are data-dependent (OPTIMIZE no-ops when already packed),
    // so the RESTORE target is the UPDATE's returned version, not a literal
    val vAfterUpdate = G.sql(s,
      s"UPDATE graft_vtable('$name') SET flag = 'dec' WHERE o_custkey % 10 = 0")
      .head().getLong(0)
    G.sql(s, s"DELETE FROM graft_vtable('$name') WHERE o_orderkey % 7 = 2").collect()
    G.sql(s,
      s"RESTORE TABLE graft_vtable('$name') TO VERSION AS OF $vAfterUpdate").collect()
    // wall-clock retention first (keeps everything committed just now),
    // then the count form does the actual reclamation
    G.sql(s, s"VACUUM graft_vtable('$name') RETAIN 48 HOURS").collect()
    G.sql(s, s"VACUUM graft_vtable('$name') RETAIN 2 VERSIONS").collect()
    s.sql(
      s"""SELECT o_orderkey, o_custkey, cents, flag
         |FROM graft_vtable('$name')
         |ORDER BY o_orderkey""".stripMargin)
  }

  private val maintenanceSqlSql =
    """SELECT o_orderkey, o_custkey,
      |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |       CASE WHEN o_custkey % 10 = 0 THEN 'dec' END AS flag
      |FROM orders WHERE o_orderkey % 7 IN (0, 1, 2)
      |ORDER BY o_orderkey""".stripMargin

  /** Predicate-scoped overwrite from SQL ([[graft.sql.GraftDml]]
    * `INSERT INTO ... REPLACE WHERE (<cond>) <query>` →
    * [[graft.ops.VersionedTable.commitReplaceWhere]] — the Delta
    * `replaceWhere` idea): build a table in two append commits (disjoint
    * key ranges, so the second commit's files provably cannot hold a
    * matching row), then replace one key range with re-derived content as
    * ONE commit. Files outside the predicate's mined range carry by
    * reference — never read — which is what makes a daily re-materialization
    * of one date slice O(slice), not O(table), at 100 TB
    * (`SqlDmlSpec` pins the byte-identical carry and the in-frame
    * containment guard; this query pins the end-to-end SQL content).
    */
  def replaceWhereSql(s: SparkSession, d: String): DataFrame = {
    val name = s"ord_replw_${new java.io.File(d).getName}"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    Tables.orders(s, d).createOrReplaceTempView("replw_src")
    val body =
      """SELECT o_orderkey, o_custkey,
        |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |FROM replw_src WHERE """.stripMargin
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$name') STATS (o_orderkey) AS
         |${body}o_orderkey < 8000""".stripMargin).collect()
    G.sql(s,
      s"INSERT INTO graft_vtable('$name') ${body}o_orderkey >= 8000").collect()
    G.sql(s,
      s"""INSERT INTO graft_vtable('$name')
         |REPLACE WHERE (o_orderkey BETWEEN 1000 AND 3000)
         |SELECT o_orderkey, o_custkey,
         |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 7 AS cents
         |FROM replw_src
         |WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin).collect()
    s.sql(
      s"""SELECT o_orderkey, o_custkey, cents
         |FROM graft_vtable('$name')
         |ORDER BY o_orderkey""".stripMargin)
  }

  private val replaceWhereSqlSql =
    """SELECT o_orderkey, o_custkey,
      |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |         + CASE WHEN o_orderkey BETWEEN 1000 AND 3000 THEN -7 ELSE 0 END AS cents
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Zero-copy SHALLOW CLONE from SQL ([[graft.sql.GraftDml]]
    * `CREATE TABLE … SHALLOW CLONE graft_vtable('src', v)` →
    * [[graft.ops.VersionedTable.shallowClone]]): snapshot `customer` into
    * a table, DELETE a slice (v2), clone the table PINNED AT v1 — one
    * metadata commit, zero data bytes copied — then mutate the clone
    * independently and read it. The oracle sees BOTH pinning proofs in
    * one result: rows the source deleted at v2 are present (the clone
    * took v1), rows the clone deleted are absent, and the source is
    * untouched by construction (`SqlDmlSpec` pins the zero-copy and
    * independence invariants file-level).
    */
  def cloneSql(s: SparkSession, d: String): DataFrame = {
    val suffix = new java.io.File(d).getName
    val src = s"cl_src_$suffix"; val dst = s"cl_dst_$suffix"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$dst') PURGE").collect()
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$src') PURGE").collect()
    Tables.customer(s, d).createOrReplaceTempView("clone_src_v")
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$src') STATS (c_custkey) AS
         |SELECT c_custkey, c_nationkey,
         |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
         |FROM clone_src_v""".stripMargin).collect()
    G.sql(s,
      s"DELETE FROM graft_vtable('$src') WHERE c_custkey % 5 = 0").collect()
    G.sql(s,
      s"CREATE TABLE graft_vtable('$dst') SHALLOW CLONE graft_vtable('$src', 1)")
      .collect()
    G.sql(s,
      s"DELETE FROM graft_vtable('$dst') WHERE c_nationkey >= 13").collect()
    s.sql(
      s"""SELECT c_custkey, c_nationkey, cents
         |FROM graft_vtable('$dst')
         |ORDER BY c_custkey""".stripMargin)
  }

  private val cloneSqlSql =
    """SELECT c_custkey, c_nationkey,
      |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |FROM customer WHERE c_nationkey < 13
      |ORDER BY c_custkey""".stripMargin

  /** POSITIONAL DELETION VECTORS ([[graft.ops.VersionedTable.commitDeleteDv]]
    * / [[graft.ops.VersionedTable.materializeDvs]] — the Delta DV /
    * Iceberg positional-delete idea): on a DV-enabled table
    * (`graft.dvs.enabled`), `DELETE WHERE` writes an O(matched-rows)
    * `(file, row_index)` sidecar — NO base file is rewritten (byte-pinned
    * in `DeletionVectorSpec`) — reads filter the base scan by the
    * vectors' positions (`graft_dv_live`), and
    * `OPTIMIZE` materializes them back into clean base files. The query
    * asserts the delete really was a DV commit and that materialization
    * empties the vector set without changing the answer; the oracle
    * recomputes the surviving rows directly.
    */
  def deleteDv(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "dv_tbl")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    VT.create(cust(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).cast("long").as("cents"))
      .repartitionByRange(4, col("c_custkey"))
      .sortWithinPartitions("c_custkey"),
      dir, statsCols = Seq("c_custkey"),
      props = Map(VT.DvsEnabledProp -> "true"))
    val G = graft.sql.GraftSql
    G.sql(s, s"DELETE FROM graft_vtable('$dir') WHERE c_nationkey >= 13")
      .collect()
    require(VT.readManifest(s, dir, VT.currentVersion(s, dir).get).dvs.nonEmpty,
      "q_delete_dv: the delete must land as a deletion-vector commit")
    val preMat = VT.read(s, dir).count()
    G.sql(s, s"OPTIMIZE graft_vtable('$dir')").collect()
    require(VT.readManifest(s, dir, VT.currentVersion(s, dir).get).dvs.isEmpty,
      "q_delete_dv: OPTIMIZE must materialize the deletion vectors")
    require(VT.read(s, dir).count() == preMat,
      "q_delete_dv: materialization changed the answer")
    s.sql(
      s"""SELECT c_custkey, c_nationkey, cents
         |FROM graft_vtable('$dir')
         |ORDER BY c_custkey""".stripMargin)
  }

  private val deleteDvSql =
    """SELECT c_custkey, c_nationkey,
      |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |FROM customer WHERE c_nationkey < 13
      |ORDER BY c_custkey""".stripMargin

  /** DV-routed SQL `UPDATE` ([[graft.ops.VersionedTable.commitUpdateDv]]
    * — the Delta DV-enabled UPDATE): the matched rows' positions land in
    * a sidecar and their updated images APPEND; every base file stays
    * BYTE-STABLE (require-pinned in the query via manifest paths — the
    * CoW UPDATE would rewrite the touched files), then the CDF window
    * across the DV commit composes exactly, and OPTIMIZE materializes
    * without changing the answer. `DeletionVectorSpec` pins the
    * size+mtime byte-stability file-level.
    */
  def updateDv(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "dv_upd_tbl")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    VT.create(cust(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).cast("long").as("cents"))
      .repartitionByRange(4, col("c_custkey"))
      .sortWithinPartitions("c_custkey"),
      dir, statsCols = Seq("c_custkey"),
      props = Map(VT.DvsEnabledProp -> "true",
        // auto-materialize policy: the update below kills ~12/25 of the
        // nation keys' rows — past this threshold, so the fold must FIRE
        VT.AutoMaterializeDvsProp -> "0.3"))
    val base = VT.readManifest(s, dir, 1L).files.map(_.path).toSet
    val G = graft.sql.GraftSql
    G.sql(s,
      s"""UPDATE graft_vtable('$dir') SET cents = cents + 777
         |WHERE c_nationkey >= 13""".stripMargin).collect()
    val m2 = VT.readManifest(s, dir, 2L)
    require(m2.dvs.nonEmpty,
      "q_update_dv: the update must land as a deletion-vector commit")
    require(base.subsetOf(m2.files.map(_.path).toSet),
      "q_update_dv: a DV update must keep EVERY base file (O(matched) " +
        "appends only — byte-stability is spec-pinned)")
    // the dead-ratio policy fired as a post-commit layout fold: v3 is a
    // dv_materialize commit and the DV debt is gone — the answer (and
    // the CDF window below) must not see it
    require(VT.currentVersion(s, dir).contains(3L) &&
        VT.readMeta(s, dir, 3L).op == "dv_materialize",
      "q_update_dv: graft.autoMaterializeDvs.deadRatio=0.3 must fold the " +
        "DVs right after the over-threshold update")
    // the CDF window across the DV update composes exactly: one update
    // row per matched key, nothing else
    val feed = VT.changesBetween(s, dir, 1L, 2L, Seq("c_custkey"))
    require(feed.filter(col("change_type") =!= "update").count() == 0L,
      "q_update_dv: the composed CDF window must contain only updates")
    val preMat = VT.read(s, dir).count()
    G.sql(s, s"OPTIMIZE graft_vtable('$dir')").collect()
    require(VT.readManifest(s, dir, VT.currentVersion(s, dir).get).dvs.isEmpty,
      "q_update_dv: OPTIMIZE must materialize the deletion vectors")
    require(VT.read(s, dir).count() == preMat,
      "q_update_dv: materialization changed the answer")
    s.sql(
      s"""SELECT c_custkey, c_nationkey, cents
         |FROM graft_vtable('$dir')
         |ORDER BY c_custkey""".stripMargin)
  }

  private val updateDvSql =
    """SELECT c_custkey, c_nationkey,
      |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) +
      |         CASE WHEN c_nationkey >= 13 THEN 777 ELSE 0 END AS cents
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** DV COMPOSITION ([[graft.ops.VersionedTable.commitUpdateDv]] /
    * [[graft.ops.VersionedTable.commitDeleteDv]]): (1) a positional
    * UPDATE lands on a MERGE-ON-READ table — the patch already recorded
    * its matched rows as deletion-vector positions, so the update adds
    * its own positions to the same set in one commit; and
    * (2) a positional DELETE lands on a SHALLOW CLONE — the DV sidecar
    * is clone-owned and addresses the shared path-absolute source files
    * (`DvSet.fileKey`), so the source stays byte-identical while the clone
    * diverges O(matched rows). Delta analog: DVs compose with cloned
    * tables the same way. The grouped read of the CLONE is the oracled
    * answer; require-pins assert the mechanics (the patch and the update
    * are one commit each, both as DVs; source row count untouched).
    */
  def dvCompose(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "dv_comp_tbl")
    val cloneDir = fixtureDir(d, "dv_comp_clone")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(cloneDir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    VT.create(cust(s, d)
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).cast("long").as("cents"))
      .repartitionByRange(4, col("c_custkey"))
      .sortWithinPartitions("c_custkey"),
      dir, statsCols = Seq("c_custkey"),
      props = Map(VT.DvsEnabledProp -> "true"))                     // v1
    val maxK = cust(s, d).agg(max(col("c_custkey"))).head()
      .get(0).asInstanceOf[Number].longValue
    val (lo, hi) = (maxK / 3, maxK / 2)
    // patch: band upsert (+500 cents) with nationkey%7 tombstones
    VT.commitPatch(cust(s, d)
      .filter(col("c_custkey").between(lo, hi))
      .select(col("c_custkey"), col("c_nationkey"),
        (cents(col("c_acctbal")).cast("long") + 500).as("cents"),
        (col("c_nationkey") % 7 === 0).as("del")),
      dir, Seq("c_custkey"), Seq.empty, col("del"))                 // v2
    val mp = VT.readManifest(s, dir, 2L)
    require(mp.op == "patch" && mp.dvs.size == 1,
      "q_dv_compose: the band upsert must land as a patch's deletion vector")
    // positional UPDATE on the patched state: one more DV commit (v3)
    val v = VT.commitUpdateDv(s, dir, col("c_custkey") % 11 === 0,
      Seq("cents" -> (col("cents") + 7)))
    require(v == 3L, s"q_dv_compose: the DV update must be version 3, got $v")
    require(VT.readManifest(s, dir, v).dvs.size == 2,
      "q_dv_compose: the update must add its deletion vector to the patch's")
    val srcRows = VT.read(s, dir).count()
    // positional DELETE on a shallow CLONE of the folded state
    VT.materializeDvs(s, dir)                                       // v4
    VT.shallowClone(s, dir, cloneDir)
    VT.commitDeleteDv(s, cloneDir, col("c_nationkey") % 5 === 0)
    require(VT.read(s, dir).count() == srcRows,
      "q_dv_compose: a clone's positional delete must not touch the source")
    VT.read(s, cloneDir)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum("cents").cast("double").as("sum_cents"))
      .orderBy("c_nationkey")
  }

  private val dvComposeSql =
    """WITH t AS (SELECT c_custkey, c_nationkey,
      |                  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |           FROM customer WHERE c_custkey % 3 <> 0),
      |s AS (SELECT c_custkey, c_nationkey,
      |             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500 AS cents,
      |             c_nationkey % 7 = 0 AS del
      |      FROM customer
      |      WHERE c_custkey BETWEEN
      |              (SELECT CAST(FLOOR(MAX(c_custkey) / 3.0) AS BIGINT) FROM customer)
      |          AND (SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) FROM customer)),
      |m AS (SELECT coalesce(t.c_custkey, s.c_custkey) AS k,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
      |            ELSE t.c_nationkey END AS nk,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.cents ELSE t.cents END AS c
      |      FROM t FULL JOIN s ON t.c_custkey = s.c_custkey
      |      WHERE NOT coalesce(s.del, FALSE)),
      |u AS (SELECT k, nk, CASE WHEN k % 11 = 0 THEN c + 7 ELSE c END AS c
      |      FROM m),
      |d AS (SELECT * FROM u WHERE nk % 5 <> 0)
      |SELECT nk AS c_nationkey, COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM d GROUP BY nk ORDER BY nk""".stripMargin

  /** AUTO-COMPACTION ([[graft.ops.VersionedTable.AutoCompactProp]] — the
    * Delta `autoCompact` idea): a table created with
    * `graft.autoCompact.enabled=true` bin-packs its small files as an
    * amortized best-effort post-commit step, so steady small-batch
    * ingestion (streaming sinks, CDC micro-batches) self-heals the
    * small-file tail without an external maintenance scheduler. The
    * query ingests 8 one-file appends, require-pins that the trigger
    * FIRED (a `compact` op in history) and that the file count stayed
    * bounded, and reads the final content — which the compaction must
    * not have changed (the oracle recomputes it from scratch).
    */
  def autoCompact(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_autocompact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val base = cust(s, d).filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).cast("long").as("cents"))
    VT.create(base.repartitionByRange(2, col("c_custkey"))
        .sortWithinPartitions("c_custkey"),
      dir, statsCols = Seq("c_custkey"),
      props = Map(VT.AutoCompactProp -> "true",
        "graft.autoCompact.every" -> "4",
        "graft.autoCompact.minFiles" -> "4"))
    val rest = cust(s, d).filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).cast("long").as("cents"))
    (0 until 8).foreach(i =>
      VT.commitAppend(rest.filter(col("c_custkey") % 8 === i).coalesce(1), dir))
    val ops = VT.history(s, dir).map(_._2)
    require(ops.contains("compact"),
      s"q_auto_compact: the amortized trigger must have fired, got $ops")
    val files = VT.readManifest(s, dir,
      VT.currentVersion(s, dir).get).files.size
    require(files < 8,
      s"q_auto_compact: 8 one-file appends must not accumulate, got $files")
    s.sql(
      s"""SELECT c_custkey, c_nationkey, cents
         |FROM graft_vtable('$dir')
         |ORDER BY c_custkey""".stripMargin)
  }

  private val autoCompactSql =
    """SELECT c_custkey, c_nationkey,
      |       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** `TIMESTAMP AS OF` time travel
    * ([[graft.ops.VersionedTable.versionAtTimestamp]] /
    * [[graft.ops.VersionedTable.readAsOfTimestamp]]): snapshot `nation`,
    * mutate it (v2), then read the table AS OF v1's adjusted commit
    * instant taken from [[graft.ops.VersionedTable.commitTimestamps]] —
    * wall-clock resolution is deterministic DATA-wise because the commit
    * instant is read back from the ledger itself, so the oracle is
    * simply the pre-mutation content. The adjusted sequence is strictly
    * increasing even under clock ties (the Delta in-commit-timestamp
    * idea), so "the table as of t" is never ambiguous.
    */
  def timeTravelTs(s: SparkSession, d: String): DataFrame = {
    val name = s"tt_ts_${new java.io.File(d).getName}"
    val G = graft.sql.GraftSql
    G.sql(s, s"DROP TABLE IF EXISTS graft_vtable('$name') PURGE").collect()
    Tables.nation(s, d).createOrReplaceTempView("tt_ts_src")
    G.sql(s,
      s"""CREATE TABLE graft_vtable('$name') STATS (n_nationkey) AS
         |SELECT n_nationkey, n_name FROM tt_ts_src""".stripMargin).collect()
    G.sql(s,
      s"UPDATE graft_vtable('$name') SET n_name = concat(n_name, '!') " +
        "WHERE n_nationkey % 2 = 0").collect()
    val dir = graft.ops.GraftCatalog.resolveDir(s, name)
    val ts1 = graft.ops.VersionedTable.commitTimestamps(s, dir).head._2
    graft.ops.VersionedTable.readAsOfTimestamp(s, dir, ts1)
      .orderBy("n_nationkey")
  }

  private val timeTravelTsSql =
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"

  private val ddlSqlSql =
    """WITH t AS (SELECT c_custkey, c_nationkey,
      |                  CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |           FROM customer WHERE c_custkey % 3 <> 0),
      |s AS (SELECT c_custkey, c_nationkey,
      |             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 500 AS cents,
      |             c_nationkey % 2 = 0 AS del
      |      FROM customer WHERE c_custkey % 2 = 0),
      |m AS (SELECT coalesce(t.c_custkey, s.c_custkey) AS k,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
      |            ELSE t.c_nationkey END AS nk,
      |       CASE WHEN s.c_custkey IS NOT NULL THEN s.cents ELSE t.cents END AS c
      |      FROM t FULL JOIN s ON t.c_custkey = s.c_custkey
      |      WHERE s.c_custkey IS NULL OR NOT coalesce(s.del, FALSE))
      |SELECT nk AS c_nationkey, COUNT(*) AS n, CAST(SUM(c) AS DOUBLE) AS sum_cents
      |FROM m GROUP BY nk ORDER BY nk""".stripMargin

  /** STREAMING change-data-feed source ([[graft.sources.VtableCdfSource]]
    * — the Delta `readChangeFeed` analog): `readStream.format(
    * "graft-vtable-cdf")` over a versioned table, offsets = table
    * versions, each commit replayed as a deterministic manifest diff
    * materialized to `_cdf/` change files (computing the diff's FULL
    * OUTER join inside the streaming plan would make it a stream-stream
    * join whose outer rows wait forever on a watermark — the same reason
    * Delta materializes CDC files). The query drains one commit window
    * with Trigger.AvailableNow into a memory sink; the oracle re-derives
    * the same insert/update/delete classification with a LEFT JOIN of
    * the changelog against the base (all changes originate changelog-
    * side), no-op tombstones and no-op updates dropped exactly as the
    * file-diff drops them.
    */
  /** STREAMING SINK into a versioned table
    * ([[graft.sources.VtableSink]] — `writeStream.format("graft-vtable")`,
    * the write side whose read side is `q_cdf_stream`): bootstrap a table
    * from a snapshot slice, stream a CDC changelog through the sink in
    * merge mode (updates + tombstones + inserts, one AvailableNow drain),
    * and read the final state through the TVF. Exactly-once is the
    * table's own txn ledger (appId × batchId), so the engine's replayed
    * batches no-op at the commit. The oracle recomputes the merged final
    * state directly from `orders`.
    */
  def streamSink(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val src = fixtureDir(d, "sink_stream_src")
    val tbl = fixtureDir(d, "sink_stream_tbl")
    val ckpt = fixtureDir(d, "sink_stream_ckpt")
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(src, tbl, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    VT.create(ord(s, d).filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), tbl, statsCols = Seq("o_orderkey"))
    // the changelog: every even key — updates for the snapshot's %8==0,
    // tombstones for its %8==4, inserts for the %4==2 keys it never had
    ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (cents(col("o_totalprice")) + lit(500L)).as("cents"),
        (col("o_orderkey") % 8 === 4).as("del"))
      .write.mode("overwrite").parquet(src)
    s.readStream.schema("o_orderkey bigint, cents bigint, del boolean")
      .parquet(src)
      .writeStream.format("graft-vtable")
      .option("dir", tbl).option("mode", "merge").option("keys", "o_orderkey")
      .option("deleteCond", "del").option("appId", "q_stream_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.sql(
      s"""SELECT o_orderkey, cents FROM graft_vtable('$tbl')
         |ORDER BY o_orderkey""".stripMargin)
  }

  private val streamSinkSql =
    """SELECT o_orderkey,
      |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) + 500 AS cents
      |FROM orders WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 2
      |ORDER BY o_orderkey""".stripMargin

  /** STREAMING TABLE source ([[graft.sources.VtableTableSource]] —
    * Delta's default `readStream` on a table): `readStream.format(
    * "graft-vtable")` emits the table's initial SNAPSHOT, then each
    * commit's APPENDED rows, payload schema only — the common front door
    * for downstream training-data pipelines ("the table, as it grows"),
    * vs the CDF source's full change semantics. Offsets are versions;
    * two `Trigger.AvailableNow` drains against one checkpoint prove
    * snapshot-then-follow exactly-once (the second drain emits only the
    * two append commits, and an interleaved `commitCompact` — a byte
    * rewrite, not a row change — must contribute NOTHING). The oracle is
    * the final logical table content, which equals the drained output
    * precisely because snapshot + appends partition the rows.
    */
  def streamTable(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val tbl = fixtureDir(d, "tbl_stream_src")
    val out = fixtureDir(d, "tbl_stream_out")
    val ckpt = fixtureDir(d, "tbl_stream_ckpt")
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(tbl, out, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    def slice(cond: Column) = ord(s, d).filter(cond)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(slice(col("o_orderkey") % 3 === 1), tbl,
      statsCols = Seq("o_orderkey"))
    def drain(): Unit =
      s.readStream.format("graft-vtable").option("dir", tbl).load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain() // snapshot
    VT.commitAppend(slice(
      col("o_orderkey") % 3 === 2 && col("o_orderkey") % 2 === 0), tbl)
    VT.commitAppend(slice(
      col("o_orderkey") % 3 === 2 && col("o_orderkey") % 2 =!= 0), tbl)
    VT.commitCompact(s, tbl) // layout only: invisible to the stream
    drain() // the two appends, exactly-once
    s.read.parquet(out).select("o_orderkey", "cents").orderBy("o_orderkey")
  }

  private val streamTableSql =
    """SELECT o_orderkey,
      |       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey % 3 <> 0
      |ORDER BY o_orderkey""".stripMargin

  def cdfStream(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_cdf_src")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("cents"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    val chg = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (cents(col("o_totalprice")) + lit(1000L)).as("cents"),
        (col("o_orderstatus") === "F").as("del"))
    VT.commitMergeUnique(chg, dir, Seq("o_orderkey"), col("del"))
    val q = s.readStream.format("graft-vtable-cdf")
      .option("dir", dir).option("keys", "o_orderkey")
      .option("startingVersion", "1")
      .load()
      .writeStream.outputMode("append").format("memory")
      .queryName("q_cdf_stream_sink")
      .option("checkpointLocation", s"$dir/_q_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table("q_cdf_stream_sink")
      .select(col("change_type"), col("o_orderkey"), col("o_orderstatus"),
        col("cents").cast("double").as("cents"), col("_commit_version"))
      .orderBy("o_orderkey")
  }

  private val cdfStreamSql =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) + 1000 AS c,
      |             o_orderstatus = 'F' AS del
      |      FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT CASE WHEN t.k IS NULL THEN 'insert'
      |            WHEN s.del THEN 'delete' ELSE 'update' END AS change_type,
      |       s.k AS o_orderkey,
      |       CASE WHEN t.k IS NOT NULL AND s.del THEN t.st ELSE s.st END AS o_orderstatus,
      |       CAST(CASE WHEN t.k IS NOT NULL AND s.del THEN t.c ELSE s.c END AS DOUBLE) AS cents,
      |       CAST(2 AS BIGINT) AS _commit_version
      |FROM s LEFT JOIN t ON s.k = t.k
      |WHERE NOT (t.k IS NULL AND s.del)
      |  AND NOT (t.k IS NOT NULL AND NOT s.del AND t.st = s.st AND t.c = s.c)
      |ORDER BY o_orderkey""".stripMargin

  /** Merge-on-read on the VERSIONED table ([[graft.ops.VersionedTable
    * .commitPatch]]): two CDC batches land as patch commits — each
    * records its matched rows' positions as a deletion vector and appends
    * its live rows, so no existing file is rewritten (spec asserts
    * byte-stability) — and the read filters the positions, honoring
    * tombstones, with every patch state time-travelable. Same cascaded
    * FULL JOIN oracle as `q_merge_mor`: the fold must reach the state the
    * two batches' sequential copy-on-write apply writes there.
    */
  def vtableMor(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_mor")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val snap = ord(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    VT.create(snap, dir, statsCols = Seq("o_orderkey"))
    val p1 = ord(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"),
        (col("o_orderstatus") === "F").as("del"))
    val p2 = ord(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * lit(1.2)).as("o_totalprice"),
        (col("o_orderstatus") === "O").as("del"))
    VT.commitPatch(p1, dir, Seq("o_orderkey"), Seq(col("o_orderstatus")), col("del"))
    VT.commitPatch(p2, dir, Seq("o_orderkey"), Seq(col("o_orderstatus")), col("del"))
    VT.read(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Change data feed ([[graft.ops.VersionedTable.changesBetween]]): what
    * happened between version 1 and version 3 of the versioned orders
    * table, one row per changed key with insert / update / delete
    * classification — the downstream-incremental primitive (a consumer
    * folds the delta instead of re-diffing snapshots). Because data files
    * are immutable, the Spark path reads ONLY the files the two manifests
    * do not share; the oracle recomputes the same classification as a
    * FULL JOIN of the v1 and v3 states, no-op keys dropped via
    * IS NOT DISTINCT FROM.
    */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    val VT = graft.ops.VersionedTable
    val dir = fixtureDir(d, "vtable_cdf")
    buildOrdersVtable(s, d, dir)
    VT.changesBetween(s, dir, 1L, 3L, Seq("o_orderkey"))
      .orderBy("change_type", "o_orderkey")
  }

  private val changeFeedSql =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |                  CAST(o_totalprice AS DOUBLE) AS pr
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |s1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.1 AS DOUBLE) AS pr,
      |              o_orderstatus = 'F' AS del
      |       FROM orders WHERE o_orderkey % 2 = 0),
      |s2 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |              o_totalprice * CAST(1.2 AS DOUBLE) AS pr,
      |              o_orderstatus = 'O' AS del
      |       FROM orders WHERE o_orderkey % 5 = 0),
      |v2 AS (SELECT coalesce(t.k, s1.k) AS k,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.st ELSE t.st END AS st,
      |        CASE WHEN s1.k IS NOT NULL THEN s1.pr ELSE t.pr END AS pr
      |       FROM t FULL JOIN s1 ON t.k = s1.k
      |       WHERE s1.k IS NULL OR NOT coalesce(s1.del, FALSE)),
      |v3 AS (SELECT coalesce(v2.k, s2.k) AS k,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.st ELSE v2.st END AS st,
      |        CASE WHEN s2.k IS NOT NULL THEN s2.pr ELSE v2.pr END AS pr
      |       FROM v2 FULL JOIN s2 ON v2.k = s2.k
      |       WHERE s2.k IS NULL OR NOT coalesce(s2.del, FALSE)),
      |d AS (SELECT
      |        CASE WHEN t.k IS NULL THEN 'insert'
      |             WHEN v3.k IS NULL THEN 'delete'
      |             WHEN t.st IS NOT DISTINCT FROM v3.st
      |              AND t.pr IS NOT DISTINCT FROM v3.pr THEN NULL
      |             ELSE 'update' END AS change_type,
      |        coalesce(t.k, v3.k) AS o_orderkey,
      |        CASE WHEN v3.k IS NULL THEN t.st ELSE v3.st END AS o_orderstatus,
      |        CASE WHEN v3.k IS NULL THEN t.pr ELSE v3.pr END AS o_totalprice
      |      FROM t FULL JOIN v3 ON t.k = v3.k)
      |SELECT * FROM d WHERE change_type IS NOT NULL
      |ORDER BY change_type, o_orderkey""".stripMargin

  /** Symmetric int8 embedding quantization ([[graft.ops.SimilarityOps
    * .quantizeInt8]]) — 4× smaller vector storage. First 8 code values are
    * flattened to scalar columns (the driver's pandas compare cannot sort
    * array cells); d0 spot-checks the dequantized reconstruction. All math
    * is max/div/floor — exact on every engine, no round() halfway hazards.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val q = SimilarityOps.quantizeInt8(Tables.embeddings(s, d), "embedding")
    val qCols = (0 until 8).map(i => element_at(col("qvec"), i + 1).as(s"q$i"))
    q.select(col("vec_id") +: col("scale") +: qCols :+
        (element_at(col("qvec"), 1).cast("double") * col("scale")).as("d0"): _*)
      .orderBy("vec_id")
  }

  private val embedQuantizeSql = {
    val dims = (0 until 8).map { i =>
      s"""CASE WHEN scale = 0 THEN 0
         |  ELSE CAST(greatest(-127, least(127,
         |    floor(CAST(embedding[${i + 1}] AS DOUBLE) / scale + 0.5))) AS BIGINT)
         |  END AS q$i""".stripMargin
    }.mkString(",\n ")
    s"""WITH q AS (
       | SELECT vec_id, embedding,
       |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
       | FROM embeddings)
       |SELECT vec_id, scale,
       | $dims,
       | CASE WHEN scale = 0 THEN 0.0
       |  ELSE CAST(CAST(greatest(-127, least(127,
       |    floor(CAST(embedding[1] AS DOUBLE) / scale + 0.5))) AS BIGINT) AS DOUBLE) * scale
       |  END AS d0
       |FROM q ORDER BY vec_id""".stripMargin
  }

  /** Skew-proof salted aggregation ([[graft.ops.AggOps.saltedAggregate]]):
    * o_orderpriority has only 5 values — every row funnels to 5 reducers in
    * a naive plan; salting spreads each hot key over 32 buckets first. The
    * oracle is the PLAIN group-by: salting must be row-invisible.
    */
  def aggSalted(s: SparkSession, d: String): DataFrame =
    AggOps.saltedAggregate(ord(s, d), Seq("o_orderpriority"), Seq(
        ("n", "count", lit(1)),
        ("sum_price", "sum", dec(col("o_totalprice"))),
        ("max_date", "max", col("o_orderdate"))))
      .select(col("o_orderpriority"), col("n"),
        asDouble(col("sum_price")).as("sum_price"),
        date_format(col("max_date"), "yyyy-MM-dd").as("max_day"))
      .orderBy("o_orderpriority")

  private val aggSaltedSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      | strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_day
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Incremental aggregate maintenance ([[graft.ops.AggOps]]): partial
    * states from two date-split batches, merged — must hash-match the
    * from-scratch single-pass aggregate, which is exactly what the oracle
    * computes.
    */
  def incrAgg(s: SparkSession, d: String): DataFrame = {
    val liDf = li(s, d)
    val specs = Seq(
      ("n", "count", lit(1)),
      ("sum_qty", "sum", dec(col("l_quantity"))),
      ("min_ship", "min", col("l_shipdate")),
      ("max_ship", "max", col("l_shipdate")))
    val early = col("l_shipdate") < lit("1995-01-01")
    val a = AggOps.partialState(liDf.filter(early), Seq("l_returnflag"), specs)
    val b = AggOps.partialState(liDf.filter(!early), Seq("l_returnflag"), specs)
    AggOps.mergeStates(Seq(a, b), Seq("l_returnflag"), specs)
      .select(col("l_returnflag"), col("n"), asDouble(col("sum_qty")).as("sum_qty"),
        date_format(col("min_ship"), TsFmt).as("min_ship"),
        date_format(col("max_ship"), TsFmt).as("max_ship"))
      .orderBy("l_returnflag")
  }

  private val incrAggSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       | strftime(MIN(l_shipdate), '$TsFmtSql') AS min_ship,
       | strftime(MAX(l_shipdate), '$TsFmtSql') AS max_ship
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ================================================================ north-star: multimodal
  /** Binary-column metadata path (oracle-able: byte length + sha256). */
  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    MultimodalOps.attachBinary(Tables.documents(s, d), "text", "text/plain")
      .select("doc_id", "media_type", "n_bytes", "content_sha")
      .orderBy("doc_id")

  private val multimodalMetaSql =
    """SELECT doc_id, 'text/plain' AS media_type, octet_length(encode(text)) AS n_bytes,
      | sha256(text) AS content_sha
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Partition-wise REAL image decode: deterministic PNGs synthesized from
    * doc ids ([[MultimodalOps.pngFor]] / [[MultimodalOps.wavFor]] /
    * [[MultimodalOps.mjpegFor]]) flow through the real in-JDK codecs —
    * `javax.imageio` for PNG rows (true pixel dimensions + luminance
    * histogram), `javax.sound.sampled` for WAV rows (sample rate + frame
    * count + 8-segment RMS profile), and JPEG frame-splitting for MJPEG
    * video rows (frame dims + per-frame luminance profile).
    * No SQL oracle (DuckDB has no media codecs); the decode contracts
    * (decoded == synthesized) are spec-verified in `MultimodalSpec`, the
    * driver records a rows-only check. The 8-bin feature vector is
    * flattened to scalar columns f0..f7 here: the driver's rows-only
    * check sorts with pandas, which cannot sort array cells.
    */
  def multimodalDecode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ids ≡0 (mod 3) decode as PNG through javax.imageio, ≡1 as WAV
    // through javax.sound.sampled, ≡2 as MJPEG video frame-split through
    // the JDK JPEG codec — all REAL in-JDK codecs; one row per doc
    val media = MultimodalOps.synthesizeImages(
        docs.filter(col("doc_id") % 3 === 0), "doc_id")
      .union(MultimodalOps.synthesizeAudio(
        docs.filter(col("doc_id") % 3 === 1), "doc_id"))
      .union(MultimodalOps.synthesizeVideo(
        docs.filter(col("doc_id") % 3 === 2), "doc_id"))
    val decoded = MultimodalOps.decodeFeatures(media).toDF()
    val featCols = (0 until 8).map(i => col("features").getItem(i).as(s"f$i"))
    decoded
      .select(col("doc_id") +: col("media_type") +: col("n_bytes") +:
        col("width") +: col("height") +: featCols: _*)
      .orderBy("doc_id")
  }

  // ================================================================ round-2: stats from exact moments
  /** Sample stddev + Pearson correlation derived from EXACT decimal moments
    * (Σx, Σx², Σy, Σy², Σxy): the only double arithmetic is the final
    * closed-form formula, evaluated with the identical expression tree in
    * DuckDB — bit-identical without float-tolerance compares. (A streaming
    * `stddev_samp`/`corr` would accumulate doubles in engine-specific
    * order and never hash-match.)
    */
  def stddevCorr(s: SparkSession, d: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    // The discriminants n·Σab − Σa·Σb stay in DECIMAL (exact): leaving them
    // in doubles exposes the `a*b − c*d` shape, which DuckDB's C++ may
    // FMA-contract (one rounding instead of two) while the JVM never does —
    // a data-dependent last-ulp mismatch. Decimal sizes are chosen so every
    // product/difference fits 38 digits (no Spark precision-loss rounding).
    val nDec = col("nl").cast("decimal(10,0)")
    def disc(sab: Column, sa: Column, sb: Column): Column =
      (sab * nDec - sa * sb).cast("decimal(38,4)")
    li(s, d).groupBy("l_returnflag")
      .agg(count(lit(1)).as("nl"),
        sum(x).cast("decimal(18,2)").as("sx"), sum(x * x).cast("decimal(24,4)").as("sxx"),
        sum(y).cast("decimal(18,2)").as("sy"), sum(y * y).cast("decimal(24,4)").as("syy"),
        sum(x * y).cast("decimal(24,4)").as("sxy"))
      .select(col("l_returnflag"), col("nl"),
        disc(col("sxx"), col("sx"), col("sx")).as("d1"),
        disc(col("syy"), col("sy"), col("sy")).as("d2"),
        disc(col("sxy"), col("sx"), col("sy")).as("dxy"))
      // double arithmetic only below: cast / divide / sqrt / one multiply —
      // none of which an FMA contraction can reshape
      .select(col("l_returnflag"),
        sqrt(asDouble(col("d1")) / asDouble(col("nl") * (col("nl") - lit(1L)))).as("stddev_qty"),
        (asDouble(col("dxy")) /
          (sqrt(asDouble(col("d1"))) * sqrt(asDouble(col("d2"))))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val stddevCorrSql =
    """WITH m AS (
      | SELECT l_returnflag, COUNT(*) AS nl,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sx,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(24,4)) AS sxx,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sy,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(24,4)) AS syy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(24,4)) AS sxy
      | FROM lineitem GROUP BY l_returnflag),
      |d AS (
      | SELECT l_returnflag, nl,
      |  CAST(sxx * CAST(nl AS DECIMAL(10,0)) - sx * sx AS DECIMAL(38,4)) AS d1,
      |  CAST(syy * CAST(nl AS DECIMAL(10,0)) - sy * sy AS DECIMAL(38,4)) AS d2,
      |  CAST(sxy * CAST(nl AS DECIMAL(10,0)) - sx * sy AS DECIMAL(38,4)) AS dxy
      | FROM m)
      |SELECT l_returnflag,
      | sqrt(CAST(d1 AS DOUBLE) / CAST(nl * (nl - 1) AS DOUBLE)) AS stddev_qty,
      | (CAST(dxy AS DOUBLE) /
      |   (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))) AS corr_qty_price
      |FROM d ORDER BY l_returnflag""".stripMargin

  // ================================================================ round-2: SQL subquery surface
  private def registerTpch(s: SparkSession, d: String): Unit = {
    cust(s, d).createOrReplaceTempView("customer")
    ord(s, d).createOrReplaceTempView("orders")
    li(s, d).createOrReplaceTempView("lineitem")
  }

  /** Correlated EXISTS / NOT EXISTS — planned as left-semi + left-anti
    * joins by Catalyst (no per-row subquery execution).
    */
  def subqueryExists(s: SparkSession, d: String): DataFrame = {
    registerTpch(s, d)
    s.sql(subqueryExistsSql)
  }

  private val subqueryExistsSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F' AND o2.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Uncorrelated scalar subquery → one-row broadcast into the filter. */
  def subqueryScalar(s: SparkSession, d: String): DataFrame = {
    registerTpch(s, d)
    s.sql(subqueryScalarSql)
  }

  private val subqueryScalarSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) / 2
      |ORDER BY o_orderkey""".stripMargin

  /** CTE feeding a join + reaggregation (WITH surface). */
  def cteQuery(s: SparkSession, d: String): DataFrame = {
    registerTpch(s, d)
    s.sql(cteSql)
  }

  private val cteSql =
    """WITH big AS (
      | SELECT o_custkey, COUNT(*) AS n_big FROM orders
      | WHERE o_totalprice > 200000 GROUP BY o_custkey)
      |SELECT c.c_mktsegment, COUNT(*) AS n_cust,
      | CAST(SUM(b.n_big) AS BIGINT) AS n_orders
      |FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  // ================================================================ round-2: unpivot
  /** Wide→long relational unpivot (`Dataset.unpivot`, the melt shape). */
  def unpivotOp(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      // total order over output cols — duplicate key pairs, see scanPushdown
      .orderBy("l_orderkey", "l_linenumber", "metric", "val")

  private val unpivotSql =
    """SELECT * FROM (
      | SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
      |  FROM lineitem WHERE l_orderkey < 100
      | UNION ALL
      | SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_orderkey < 100
      | UNION ALL
      | SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem WHERE l_orderkey < 100)
      |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin

  // ================================================================ round-2: time-series completion
  /** Dense daily spine + cumulative gap fill (TimeOps): every (customer,
    * day) row carries spend-to-date; days without orders repeat the last
    * value. Decimal running sum — engine-deterministic.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val daily = ord(s, d).filter(col("o_custkey") < 20)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("v"))
    val spine = graft.ops.TimeOps.dailySpine(
      daily.select("k").distinct(), "k", "1992-01-01", "1998-12-31")
    graft.ops.TimeOps.gapFillCumulative(spine, daily, "k", "day", "v")
      .select(col("k"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        asDouble(col("cum")).as("cum_spend"))
      .orderBy("k", "day_s")
  }

  private val gapFillSql =
    """WITH daily AS (
      | SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      | FROM orders WHERE o_custkey < 20 GROUP BY 1, 2),
      |spine AS (
      | SELECT k, CAST(gs.d AS DATE) AS day
      | FROM (SELECT DISTINCT k FROM daily),
      |  generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY) gs(d))
      |SELECT s.k, strftime(s.day, '%Y-%m-%d') AS day_s,
      | CAST(SUM(dl.v) OVER (PARTITION BY s.k ORDER BY s.day) AS DOUBLE) AS cum_spend
      |FROM spine s LEFT JOIN daily dl ON s.k = dl.k AND s.day = dl.day
      |ORDER BY s.k, day_s""".stripMargin

  /** Trailing 30-day spend per customer day — a RANGE window frame over
    * day numbers (value-based frame, not ROWS).
    */
  def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val daily = ord(s, d).filter(col("o_custkey") < 200)
      .groupBy(col("o_custkey").as("k"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("v"))
    daily.select(col("k"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        asDouble(graft.ops.TimeOps.trailingRangeSum("k", "day", "v", 30))
          .as("trail30"))
      .orderBy("k", "day_s")
  }

  private val windowRangeFrameSql =
    """WITH daily AS (
      | SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS v
      | FROM orders WHERE o_custkey < 200 GROUP BY 1, 2)
      |SELECT k, strftime(day, '%Y-%m-%d') AS day_s,
      | CAST(SUM(v) OVER (PARTITION BY k
      |   ORDER BY date_diff('day', DATE '1970-01-01', day)
      |   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail30
      |FROM daily ORDER BY k, day_s""".stripMargin

  // ================================================================ round-2: bloom-reduced join
  /** Bloom-filter semi-join reduction (BloomOps): lineitem is pre-filtered
    * by a bloom of the selective orders' keys before the join shuffle.
    * False positives die in the exact join — the oracle is the PLAIN join,
    * proving result equivalence.
    */
  def bloomJoinQ(s: SparkSession, d: String): DataFrame = {
    val bigOrders = ord(s, d).filter(col("o_totalprice") > 450000)
      .select(col("o_orderkey").as("bo_orderkey"), col("o_totalprice"))
    graft.ops.BloomOps
      .bloomJoin(li(s, d), bigOrders, "l_orderkey", "bo_orderkey",
        expectedItems = 20000L, fpp = 0.01)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        max(col("o_totalprice")).as("o_totalprice"))
      .orderBy("l_orderkey")
  }

  private val bloomJoinSql =
    """SELECT l_orderkey, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | MAX(o_totalprice) AS o_totalprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 450000
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // ================================================================ round-2: scalar function packs
  /** String-function pack over customer (pad/translate/reverse/repeat/
    * split/ascii/concat_ws) — one codegen'd projection.
    */
  def stringPack(s: SparkSession, d: String): DataFrame =
    cust(s, d).select(col("c_custkey"),
      lpad(col("c_name"), 25, "*").as("padded"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"),
      reverse(col("c_name")).as("rev"),
      repeat(substring(col("c_name"), 1, 4), 2).as("rep"),
      element_at(split(col("c_name"), "#"), 1).as("prefix"),
      ascii(col("c_name")).as("a1"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
      .orderBy("c_custkey")

  private val stringPackSql =
    """SELECT c_custkey,
      | lpad(c_name, 25, '*') AS padded,
      | translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
      | reverse(c_name) AS rev,
      | repeat(substring(c_name, 1, 4), 2) AS rep,
      | split_part(c_name, '#', 1) AS prefix,
      | ascii(c_name) AS a1,
      | concat_ws('|', c_mktsegment, c_name) AS joined
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Calendar-arithmetic pack over orders (+interval, last_day, datediff,
    * quarter, ymd extracts).
    */
  def dateArith(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(col("o_orderkey"),
      date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"),
      date_format(last_day(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("eom"),
      datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_99"),
      quarter(col("o_orderdate")).as("qtr"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("dom"))
      .orderBy("o_orderkey")

  private val dateArithSql =
    """SELECT o_orderkey,
      | strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
      | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
      | date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_99,
      | quarter(o_orderdate) AS qtr,
      | year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS dom
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Sliding event-time windows (6h width, 3h slide — every event lands in
    * exactly width/slide = 2 windows). Batch form of
    * `groupBy(window(ts, w, s))`; the oracle expands the two bucket
    * memberships with UNION ALL.
    */
  def streamSliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("value"), 18, 6))).as("sum_value"))
      .select(date_format(col("window.start"), TsFmt).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private val streamSlidingSql =
    s"""WITH w AS (
       | SELECT time_bucket(INTERVAL '3 hours', ts) AS ws, event_type, value FROM events
       | UNION ALL
       | SELECT time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours', event_type, value
       | FROM events)
       |SELECT strftime(ws, '$TsFmtSql') AS win_start, event_type, COUNT(*) AS n,
       | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** min_by/max_by ("which row held the extreme") with a DETERMINISTIC
    * packed ordering value — exact cents·10^10 + orderkey, so ties on
    * price break identically in both engines.
    */
  def minmaxBy(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .agg(expr("max_by(o_orderkey, " +
          "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey)")
          .as("top_order"),
        expr("min_by(o_orderkey, " +
          "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey)")
          .as("bottom_order"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  private val minmaxBySql =
    """SELECT o_orderpriority,
      | arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS top_order,
      | arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000000 + o_orderkey) AS bottom_order,
      | COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Generator/UDTF SQL surface: LATERAL VIEW explode over the tokenizer
    * (one output row per token).
    */
  def lateralTokens(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT doc_id, tok FROM documents
        |LATERAL VIEW explode(filter(split(text, '\\s+'), x -> x != '')) t AS tok
        |WHERE doc_id < 50
        |ORDER BY doc_id, tok""".stripMargin)
  }

  private val lateralTokensSql =
    """SELECT doc_id, u.tok FROM documents,
      | unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS u(tok)
      |WHERE doc_id < 50
      |ORDER BY doc_id, tok""".stripMargin

  /** Deterministic hash split (SampleOps): layout-stable train/test tag per
    * row. xxhash64 has no DuckDB analogue → rows-only driver check; split
    * invariants (disjoint, complete, repartition-stable) are spec-tested.
    */
  def sampleSplit(s: SparkSession, d: String): DataFrame = {
    val (train, test) = graft.ops.SampleOps.hashSplit(
      Tables.documents(s, d), col("doc_id"), 80)
    train.select(col("doc_id"), lit("train").as("side"))
      .unionByName(test.select(col("doc_id"), lit("test").as("side")))
      .orderBy("doc_id")
  }

  /** Skew-remedy join surfaced as a query: the salted join (deterministic
    * left salt, replicated right — JoinOps.saltedJoin) must produce the
    * PLAIN join's rows, which is exactly what the oracle checks.
    */
  def joinSalted(s: SparkSession, d: String): DataFrame =
    graft.ops.JoinOps.saltedJoin(
        li(s, d).select(col("l_orderkey"), col("l_quantity"), col("l_linenumber")),
        ord(s, d).filter(col("o_totalprice") > 400000)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
        // salt by the (near-)row id so a hot key's rows really spread over
        // all 8 buckets — l_linenumber alone has ≤7 distinct values
        Seq("l_orderkey"), 8, Seq(col("l_orderkey"), col("l_linenumber")))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      .orderBy("l_orderkey")

  private val joinSaltedSql =
    """SELECT l_orderkey, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Partitioned parquet sink + partition-pruned readback: write orders
    * partitioned by priority, read ONE partition back (the scan must list
    * only that directory — partition pruning by layout).
    */
  def writePartitioned(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "part_orders")
    ord(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  private val writePartitionedSql =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""".stripMargin

  /** Conditional-scalar pack: nullif / coalesce / least / greatest / CASE
    * in one projection.
    */
  def condScalars(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(col("o_orderkey"),
      nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
      coalesce(nullif(col("o_orderpriority"), lit("3-MEDIUM")), lit("(default)"))
        .as("prio_defaulted"),
      least(col("o_custkey"), col("o_orderkey")).as("lo"),
      greatest(col("o_custkey"), col("o_orderkey")).as("hi"),
      when(col("o_totalprice") > 300000, lit("big"))
        .when(col("o_totalprice") > 100000, lit("mid"))
        .otherwise(lit("small")).as("bucket"))
      .orderBy("o_orderkey")

  private val condScalarsSql =
    """SELECT o_orderkey,
      | nullif(o_orderstatus, 'O') AS status_or_null,
      | coalesce(nullif(o_orderpriority, '3-MEDIUM'), '(default)') AS prio_defaulted,
      | least(o_custkey, o_orderkey) AS lo,
      | greatest(o_custkey, o_orderkey) AS hi,
      | CASE WHEN o_totalprice > 300000 THEN 'big'
      |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Bitwise scalar ops (AND/OR/XOR/shift) — exact integer semantics. */
  def bitwiseOps(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_linenumber").bitwiseAND(lit(3)).as("b_and"),
        col("l_linenumber").bitwiseOR(lit(8)).as("b_or"),
        col("l_linenumber").bitwiseXOR(col("l_orderkey").cast("int")).as("b_xor"),
        shiftleft(col("l_linenumber"), 2).as("b_shl"))
      .orderBy("l_orderkey", "l_linenumber", "b_xor")

  private val bitwiseOpsSql =
    """SELECT l_orderkey, l_linenumber,
      | l_linenumber & 3 AS b_and,
      | l_linenumber | 8 AS b_or,
      | xor(l_linenumber, CAST(l_orderkey AS INT)) AS b_xor,
      | l_linenumber << 2 AS b_shl
      |FROM lineitem WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber, b_xor""".stripMargin

  /** Fixed-width histogram via exact integer bucketing (floor division —
    * no float boundaries to disagree on).
    */
  def histogramOp(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      // explicit floor: Spark's decimal→int cast truncates but DuckDB's
      // rounds, so the bucket boundary must not rely on cast semantics
      .groupBy(floor(dec(col("o_totalprice")) / 50000).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        asDouble(min(dec(col("o_totalprice")))).as("lo"),
        asDouble(max(dec(col("o_totalprice")))).as("hi"))
      .orderBy("bucket")

  private val histogramSql =
    """SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) / 50000) AS INT) AS bucket,
      | COUNT(*) AS n,
      | CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
      | CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Z-order layout round-trip: rewrite orders clustered by the Morton
    * z-value of (custkey, totalprice) ranks, then answer a two-column box
    * predicate from the clustered files. Values must equal the plain
    * filter (the oracle); the LAYOUT win — tight two-dimensional min/max
    * per file — is asserted in LayoutOpsSpec.
    */
  def zorderScan(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "zorder_orders")
    graft.ops.LayoutOps.zorderWrite(
      ord(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      graft.ops.LayoutOps.rank32(col("o_custkey"), 0, 200000),
      graft.ops.LayoutOps.rank32(col("o_totalprice"), 0, 600000),
      16, dir)
    s.read.parquet(dir)
      .filter(col("o_custkey").between(100, 500) &&
        col("o_totalprice").between(50000, 200000))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val zorderScanSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey BETWEEN 100 AND 500
      |  AND o_totalprice BETWEEN 50000 AND 200000
      |ORDER BY o_orderkey""".stripMargin

  /** Post-aggregation HAVING filter (groupBy → agg → filter on the
    * aggregate, planned as Filter above the final HashAggregate).
    */
  def havingOp(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(dec(col("o_totalprice")))).as("spend"))
      .filter(col("n_orders") >= 10)
      .orderBy("o_custkey")

  private val havingSql =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
      |ORDER BY o_custkey""".stripMargin

  /** Explicit cross join (small dimensional cross product). */
  def crossJoinOp(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      .crossJoin(Tables(s, d, "region").select(col("r_regionkey"), col("r_name")))
      .orderBy("n_nationkey", "r_regionkey")

  private val crossJoinSql =
    """SELECT n_nationkey, n_name, r_regionkey, r_name
      |FROM nation CROSS JOIN region
      |ORDER BY n_nationkey, r_regionkey""".stripMargin

  /** Null-preserving generator (`explode_outer`): rows whose array is
    * empty survive with a NULL element — the LEFT-JOIN-LATERAL shape.
    */
  def explodeOuterOp(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id"),
        explode_outer(
          when(col("doc_id") % 5 === 0, array().cast("array<string>"))
            .otherwise(slice(TextOps.tokens(col("text")), 1, 3))).as("tok"))
      .orderBy("doc_id", "tok")

  private val explodeOuterSql =
    """SELECT d.doc_id, u.tok FROM (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN CAST([] AS VARCHAR[])
      |   ELSE list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:3]
      |  END AS l
      | FROM documents WHERE doc_id < 50) d
      |LEFT JOIN LATERAL unnest(d.l) AS u(tok) ON TRUE
      |ORDER BY doc_id, tok""".stripMargin

  /** Mergeable quantile sketch (custom bounded Aggregator — shuffle moves
    * ≤k weighted points per partial, not rows). Approximate by design →
    * rows-only driver check; rank-error bounds are property-tested in
    * QuantileSketchSpec, and q_percentile is the exact counterpart.
    */
  def quantileSketchQ(s: SparkSession, d: String): DataFrame = {
    val sk = udaf(new graft.functions.QuantileSketchAgg(256, Seq(0.25, 0.5, 0.75, 0.99)))
    li(s, d).groupBy("l_returnflag")
      .agg(sk(col("l_quantity")).as("qs"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("q25"), element_at(col("qs"), 2).as("q50"),
        element_at(col("qs"), 3).as("q75"), element_at(col("qs"), 4).as("q99"))
      .orderBy("l_returnflag")
  }

  /** ORC round-trip (columnar alternative to parquet — same declarative
    * write/scan surface; ORC ships in spark-sql).
    */
  def scanOrc(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "orc_roundtrip")
    cust(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir).orderBy("c_custkey")
  }

  private val scanOrcSql =
    """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** XML round-trip (Spark 4 ships the XML data source natively in
    * spark-sql — the donated spark-xml): write suppliers as `<supplier>`
    * row elements, read back with an explicit schema. Exercises the
    * remaining built-in file format the source matrix lacked
    * (CSV/JSONL/parquet/ORC covered); nested-element flattening is the
    * format's own row model, the scan surface stays declarative.
    */
  def scanXml(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "xml_roundtrip")
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").option("rootTag", "suppliers").option("rowTag", "supplier")
      .format("xml").save(dir)
    s.read
      .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
      .option("rowTag", "supplier").format("xml").load(dir)
      .orderBy("s_suppkey")
  }

  private val scanXmlSql =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Avro round-trip through the engine's own DSv2 source/sink
    * (`graft-avro`, sources/AvroSource.scala — the distribution ships
    * Avro core but not the spark-avro connector, so the engine provides
    * the format itself): distributed write (one container file per task,
    * staged-rename commit), schema-inferred read-back over sync-marker
    * splits. `o_orderdate` pins the timestamp-micros logical-type
    * mapping both directions.
    */
  def scanAvro(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "avro_roundtrip")
    ord(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    s.read.format("graft-avro").load(dir).orderBy("o_orderkey")
  }

  private val scanAvroSql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** `binaryFile` ingest — the entry point of a multimodal pipeline:
    * raw files on disk become (path, length, content) rows with the
    * payload as an opaque binary column, globbed server-side
    * (`pathGlobFilter` prunes at LISTING time, before any read). The
    * fixture is 16 small files whose bytes are the UTF-8 text of the
    * first `documents` rows (driver-small collect, same license as the
    * other scan fixtures), so the whole scan→decode round-trip is
    * DuckDB-oracled: filename-derived id, byte length, decoded text.
    */
  def scanBinary(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Paths.get(fixtureDir(d, "binfiles"))
    java.nio.file.Files.createDirectories(root)
    Tables.documents(s, d).filter(col("doc_id") < 16)
      .select(col("doc_id"), col("text")).collect()
      .foreach { r =>
        java.nio.file.Files.write(
          root.resolve(f"doc_${r.getLong(0)}%05d.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(root.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        decode(col("content"), "UTF-8").as("text"))
      .orderBy("doc_id")
  }

  private val scanBinarySql =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, text
      |FROM documents WHERE doc_id < 16 ORDER BY doc_id""".stripMargin

  /** E6 standalone: date formatting (`dt.strftime('%Y-%m-%d')`,
    * reference/scripts/transform.py:117) — the load-bearing ISO day plus
    * coarser calendar buckets, all from one `date_format` scan.
    */
  def dateFormat(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      date_format(col("o_orderdate"), "yyyy").as("year"))
      .orderBy("o_orderkey")

  private val dateFormatSql =
    """SELECT o_orderkey,
      | strftime(o_orderdate, '%Y-%m-%d') AS day,
      | strftime(o_orderdate, '%Y-%m') AS month,
      | strftime(o_orderdate, '%Y') AS year
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** S4: JSON Lines sink, append mode (`to_json(orient='records',
    * lines=True)` appended per batch, reference/scripts/extract.py:124-125).
    * Two disjoint halves land via overwrite-then-append; the readback must
    * reassemble the full table exactly — proving append adds files without
    * clobbering prior batches.
    */
  def sinkJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "sink_jsonl")
    val src = cust(s, d).select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    src.filter(col("c_custkey") % 2 === 0).write.mode("overwrite").json(dir)
    src.filter(col("c_custkey") % 2 =!= 0).write.mode("append").json(dir)
    s.read.schema("c_custkey bigint, c_name string, c_mktsegment string")
      .json(dir).orderBy("c_custkey")
  }

  private val sinkJsonlSql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** S6: warehouse load through a real database — the reference's actual
    * sink (scripts/load.py:29-32 psycopg2; :96 `COPY ... NULL ''`).
    * Supplier rows overwrite-load into in-process Derby via
    * [[graft.ops.Warehouse.loadJdbc]] (blank strings → SQL NULL per the
    * COPY convention) and read back through the JDBC scan; the oracle is
    * the parquet source, proving the database round-trip is lossless.
    * s_acctbal goes through an explicit DOUBLE so the JDBC type mapping
    * can't drift the schema. The readback is the PARTITIONED scan
    * (min/max-bounded stride on s_suppkey, 4 parallel range queries) —
    * the exemplar must be the shape that survives a large table, not the
    * single-task read.
    */
  def sinkJdbc(s: SparkSession, d: String): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftq;create=true"
    val src = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal").cast("double").as("s_acctbal"))
    graft.ops.Warehouse.loadJdbc(src, url, "supplier_stage", props)
    graft.ops.Warehouse.readJdbcPartitioned(s, url, "supplier_stage", props,
        "s_suppkey", numPartitions = 4)
      .orderBy("s_suppkey")
  }

  private val sinkJdbcSql =
    """SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** S6/D1 IN-DATABASE: the true `ON CONFLICT DO NOTHING` analog
    * (scripts/load.py:114-147) — batch 1 loads the low half of supplier,
    * batch 2 merges ALL suppliers with conflicting payloads (`XX-`-prefixed
    * names). The `MERGE ... WHEN NOT MATCHED THEN INSERT` runs server-side
    * in Derby, so the conflict rows are skipped by the DATABASE: the final
    * table keeps original names for the low half (batch-2's rewrites never
    * landed) and `XX-` names for the high half — exactly what the oracle's
    * CASE expression predicts. Tables rebuild from scratch each invocation
    * (deterministic under Bench's two passes).
    */
  def mergeJdbc(s: SparkSession, d: String): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftq;create=true"
    val W = graft.ops.Warehouse
    W.dropJdbcTable(url, "supplier_tgt", props)
    val src = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal").cast("double").as("s_acctbal"))
    val half = Tables.supplier(s, d).agg(max("s_suppkey")).head().getLong(0) / 2
    W.mergeIntoJdbc(src.filter(col("s_suppkey") <= half), url,
      "supplier_tgt", "supplier_mstage", Seq("s_suppkey"), Seq(col("s_name")), props)
    val conflicting = src.withColumn("s_name", concat(lit("XX-"), col("s_name")))
    W.mergeIntoJdbc(conflicting, url,
      "supplier_tgt", "supplier_mstage", Seq("s_suppkey"), Seq(col("s_name")), props)
    W.readJdbcPartitioned(s, url, "supplier_tgt", props, "s_suppkey", numPartitions = 4)
      .orderBy("s_suppkey")
  }

  private val mergeJdbcSql =
    """SELECT s_suppkey,
      |  CASE WHEN s_suppkey <= (SELECT max(s_suppkey)//2 FROM supplier)
      |       THEN s_name ELSE 'XX-' || s_name END AS s_name,
      |  s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Corrupt-record tolerance (the ETL reality: malformed lines in a feed
    * must not kill the job): PERMISSIVE JSONL scan routes bad lines to
    * `_corrupt_record`; good rows survive exactly. The oracle is the
    * clean source — proving the malformed injections change nothing.
    */
  def scanCorrupt(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureDir(d, "corrupt_jsonl")
    cust(s, d).select(col("c_custkey"), col("c_name"))
      .write.mode("overwrite").json(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-corrupt.json"),
      "{broken json\nnot json at all\n{\"c_custkey\": }\n".getBytes("UTF-8"))
    s.read
      .schema("c_custkey bigint, c_name string, _corrupt_record string")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      // the extra isNotNull keeps a REAL column in the scan's required
      // schema even under count() pruning — Spark refuses JSON scans whose
      // only referenced column is the internal corrupt-record column
      // (semantics unchanged: the source column is NOT NULL)
      .filter(col("_corrupt_record").isNull && col("c_custkey").isNotNull)
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private val scanCorruptSql =
    """SELECT c_custkey, c_name FROM customer ORDER BY c_custkey""".stripMargin

  // ================================================================ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_group" -> (aggGroup _),
    "q_scan_pushdown" -> (scanPushdown _),
    "q_scan_csv" -> (scanCsv _),
    "q_scan_jsonl" -> (scanJsonl _),
    "q_scan_paged" -> (scanPaged _),
    "q_rename" -> (rename _),
    "q_add_default_col" -> (addDefaultCol _),
    "q_drop_col" -> (dropCol _),
    "q_project_reorder" -> (projectReorder _),
    "q_filter_notnull" -> (filterNotNull _),
    "q_filter_nonblank" -> (filterNonBlank _),
    "q_filter_watermark" -> (filterWatermark _),
    "q_cast_string" -> (castString _),
    "q_case_lawcat" -> (caseLawcat _),
    "q_map_borough" -> (mapBorough _),
    "q_date_parse" -> (dateParse _),
    "q_date_epoch_ms" -> (dateEpochMs _),
    "q_cast_double" -> (castDouble _),
    "q_cast_int" -> (castInt _),
    "q_fillna" -> (fillna _),
    "q_upper" -> (upperTrim _),
    "q_case_sex" -> (caseSex _),
    "q_agg_max" -> (aggMax _),
    "q_count" -> (countRows _),
    "q_dedup_pk" -> (dedupPk _),
    "q_upsert_anti" -> (upsertAnti _),
    "q_incremental" -> (incremental _),
    "q_join_broadcast" -> (joinBroadcast _),
    "q_join_multiway" -> (joinMultiway _),
    "q_join_outer" -> (joinOuter _),
    "q_join_semi" -> (joinSemi _),
    "q_join_range" -> (joinRange _),
    "q_join_asof" -> (joinAsof _),
    "q_grouping_sets" -> (groupingSetsOp _),
    "q_percentile" -> (percentileOp _),
    "q_string_agg" -> (stringAggOp _),
    "q_cond_agg" -> (condAggOp _),
    "q_pivot" -> (pivotOp _),
    "q_udf_scalar" -> (udfScalarOp _),
    "q_window_dist" -> (windowDistOp _),
    "q_regex" -> (regexOp _),
    "q_date_trunc" -> (dateTruncOp _),
    "q_window_rank" -> (windowRank _),
    "q_window_running" -> (windowRunning _),
    "q_window_lag" -> (windowLag _),
    "q_topk" -> (topk _),
    "q_union" -> (unionAll _),
    "q_intersect" -> (intersectOp _),
    "q_except" -> (exceptOp _),
    "q_rollup" -> (rollupOp _),
    "q_cube" -> (cubeOp _),
    "q_distinct" -> (distinctOp _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_math" -> (mathOp _),
    "q_array" -> (arrayOp _),
    "q_json" -> (jsonOp _),
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_session" -> (streamSession _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_hash" -> (dedupHash _),
    "q_ngram_jaccard" -> (ngramJaccard _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_incr" -> (dedupIncr _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_jaccard_global" -> (dedupJaccardGlobal _),
    "q_dedup_cluster" -> (dedupCluster _),
    "q_components_sql" -> (componentsSql _),
    "q_dedup_near" -> (dedupNear _),
    "q_dedup_editdist" -> (dedupEditdist _),
    "q_dedup_embedding" -> (dedupEmbedding _),
    "q_dedup_embedding_ivf" -> (dedupEmbeddingIvf _),
    "q_similarity_topk" -> (similarityTopk _),
    "q_similarity_lsh" -> (similarityLsh _),
    "q_similarity_ivf" -> (similarityIvf _),
    "q_similarity_ivf_incr" -> (similarityIvfIncr _),
    "q_text_tokens" -> (textTokens _),
    "q_text_quality" -> (textQuality _),
    "q_text_langid" -> (textLangid _),
    "q_text_fingerprint" -> (textFingerprint _),
    "q_text_scrub" -> (textScrub _),
    "q_tfidf" -> (tfidf _),
    "q_bm25" -> (bm25Query _),
    "q_pack_chunks" -> (packChunks _),
    "q_join_interval" -> (joinInterval _),
    "q_validate" -> (validate _),
    "q_profile" -> (profile _),
    "q_merge_cdc" -> (mergeCdc _),
    "q_merge_cdc_part" -> (mergeCdcPart _),
    "q_merge_cdc_evolve" -> (mergeCdcEvolve _),
    "q_merge_mor" -> (mergeMor _),
    "q_time_travel" -> (timeTravel _),
    "q_stats_prune" -> (statsPrune _),
    "q_prune_where" -> (pruneWhere _),
    "q_prune_sql" -> (pruneSql _),
    "q_ivm" -> (ivm _),
    "q_mv_rewrite" -> (mvRewrite _),
    "q_vtable_ckpt" -> (vtableCkpt _),
    "q_cdf_stream" -> (cdfStream _),
    "q_stream_sink" -> (streamSink _),
    "q_stream_table" -> (streamTable _),
    "q_merge_sql" -> (mergeSql _),
    "q_update_sql" -> (updateSql _),
    "q_delete_sql" -> (deleteSql _),
    "q_ddl_sql" -> (ddlSql _),
    "q_catalog_sql" -> (catalogSql _),
    "q_catalog_merge" -> (catalogMerge _),
    "q_catalog_merge_evolve" -> (catalogMergeEvolve _),
    "q_dv_compose" -> (dvCompose _),
    "q_delete_dv" -> (deleteDv _),
    "q_update_dv" -> (updateDv _),
    "q_auto_compact" -> (autoCompact _),
    "q_maintenance_sql" -> (maintenanceSql _),
    "q_colmap_sql" -> (colmapSql _),
    "q_replace_where" -> (replaceWhereSql _),
    "q_clone_sql" -> (cloneSql _),
    "q_time_travel_ts" -> (timeTravelTs _),
    "q_agg_meta" -> (aggMeta _),
    "q_change_feed" -> (changeFeed _),
    "q_vtable_mor" -> (vtableMor _),
    "q_join_advised" -> (joinAdvised _),
    "q_dedup_lifecycle" -> (dedupLifecycle _),
    "q_text_bigrams" -> (textBigrams _),
    "q_scd2" -> (scd2 _),
    "q_embed_quantize" -> (embedQuantize _),
    "q_incr_agg" -> (incrAgg _),
    "q_agg_salted" -> (aggSalted _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_multimodal_decode" -> (multimodalDecode _),
    "q_stddev_corr" -> (stddevCorr _),
    "q_subquery_exists" -> (subqueryExists _),
    "q_subquery_scalar" -> (subqueryScalar _),
    "q_cte" -> (cteQuery _),
    "q_unpivot" -> (unpivotOp _),
    "q_gap_fill" -> (gapFill _),
    "q_window_range_frame" -> (windowRangeFrame _),
    "q_bloom_join" -> (bloomJoinQ _),
    "q_string_pack" -> (stringPack _),
    "q_date_arith" -> (dateArith _),
    "q_stream_sliding" -> (streamSliding _),
    "q_minmax_by" -> (minmaxBy _),
    "q_lateral" -> (lateralTokens _),
    "q_sample_split" -> (sampleSplit _),
    "q_join_salted" -> (joinSalted _),
    "q_write_partitioned" -> (writePartitioned _),
    "q_cond_scalars" -> (condScalars _),
    "q_bitwise" -> (bitwiseOps _),
    "q_histogram" -> (histogramOp _),
    "q_zorder_scan" -> (zorderScan _),
    "q_having" -> (havingOp _),
    "q_cross_join" -> (crossJoinOp _),
    "q_explode_outer" -> (explodeOuterOp _),
    "q_quantile_sketch" -> (quantileSketchQ _),
    "q_scan_orc" -> (scanOrc _),
    "q_scan_xml" -> (scanXml _),
    "q_scan_avro" -> (scanAvro _),
    "q_scan_binary" -> (scanBinary _),
    "q_scan_http" -> (scanHttp _),
    "q_scan_http_offset" -> (scanHttpOffset _),
    "q_scan_http_agg" -> (scanHttpAgg _),
    "q_chunk_cdc" -> (chunkCdc _),
    "q_date_format" -> (dateFormat _),
    "q_sink_jsonl" -> (sinkJsonl _),
    "q_sink_jdbc" -> (sinkJdbc _),
    "q_merge_jdbc" -> (mergeJdbc _),
    "q_scan_corrupt" -> (scanCorrupt _),
    "q_text_repetition" -> (repSignals _),
    "q_decontaminate" -> (decontaminateQ _),
    "q_shuffle_shard" -> (shuffleShard _),
    "q_text_pii" -> (piiScrub _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_winsorize" -> (winsorize _),
    "q_quality_filter" -> (qualityFilter _),
    "q_variant" -> (variantOp _),
    "q_topk_group" -> (topkGroup _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_cap_per_source" -> (capPerSource _),
  )

  val oracles: Map[String, String] = Map(
    "q_agg_group" -> aggGroupSql,
    "q_scan_pushdown" -> scanPushdownSql,
    "q_scan_csv" -> scanCsvSql,
    "q_scan_jsonl" -> scanJsonlSql,
    "q_scan_paged" -> scanPagedSql,
    "q_rename" -> renameSql,
    "q_add_default_col" -> addDefaultColSql,
    "q_drop_col" -> dropColSql,
    "q_project_reorder" -> projectReorderSql,
    "q_filter_notnull" -> filterNotNullSql,
    "q_filter_nonblank" -> filterNonBlankSql,
    "q_filter_watermark" -> filterWatermarkSql,
    "q_cast_string" -> castStringSql,
    "q_case_lawcat" -> caseLawcatSql,
    "q_map_borough" -> mapBoroughSql,
    "q_date_parse" -> dateParseSql,
    "q_date_epoch_ms" -> dateEpochMsSql,
    "q_cast_double" -> castDoubleSql,
    "q_cast_int" -> castIntSql,
    "q_fillna" -> fillnaSql,
    "q_upper" -> upperTrimSql,
    "q_case_sex" -> caseSexSql,
    "q_agg_max" -> aggMaxSql,
    "q_count" -> countRowsSql,
    "q_dedup_pk" -> dedupPkSql,
    "q_upsert_anti" -> upsertAntiSql,
    "q_incremental" -> incrementalSql,
    "q_join_broadcast" -> joinBroadcastSql,
    "q_join_multiway" -> joinMultiwaySql,
    "q_join_outer" -> joinOuterSql,
    "q_join_semi" -> joinSemiSql,
    "q_join_range" -> joinRangeSql,
    "q_join_asof" -> joinAsofSql,
    "q_grouping_sets" -> groupingSetsSql,
    "q_percentile" -> percentileSql,
    "q_string_agg" -> stringAggSql,
    "q_cond_agg" -> condAggSql,
    "q_pivot" -> pivotSql,
    "q_udf_scalar" -> udfScalarSql,
    "q_window_dist" -> windowDistSql,
    "q_regex" -> regexSql,
    "q_date_trunc" -> dateTruncSql,
    "q_window_rank" -> windowRankSql,
    "q_window_running" -> windowRunningSql,
    "q_window_lag" -> windowLagSql,
    "q_topk" -> topkSql,
    "q_union" -> unionAllSql,
    "q_intersect" -> intersectSql,
    "q_except" -> exceptSql,
    "q_rollup" -> rollupSql,
    "q_cube" -> cubeSql,
    "q_distinct" -> distinctSql,
    "q_math" -> mathSql,
    "q_array" -> arrayOpSql,
    "q_json" -> jsonOpSql,
    "q_stream_tumbling" -> streamTumblingSql,
    "q_stream_session" -> streamSessionSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_hash" -> dedupHashSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_dedup_jaccard_global" -> dedupJaccardGlobalSql,
    "q_dedup_cluster" -> dedupClusterSql,
    "q_components_sql" -> componentsSqlOracle,
    "q_dedup_near" -> dedupNearSql,
    "q_dedup_editdist" -> dedupEditdistSql,
    "q_dedup_embedding" -> dedupEmbeddingSql,
    "q_similarity_topk" -> similarityTopkSql,
    "q_text_tokens" -> textTokensSql,
    "q_text_quality" -> textQualitySql,
    "q_text_langid" -> textLangidSql,
    "q_text_fingerprint" -> textFingerprintSql,
    "q_text_scrub" -> textScrubSql,
    "q_tfidf" -> tfidfSql,
    "q_bm25" -> bm25Sql,
    "q_pack_chunks" -> packChunksSql,
    "q_join_interval" -> joinIntervalSql,
    "q_validate" -> validateSql,
    "q_profile" -> profileSql,
    "q_merge_cdc" -> mergeCdcSql,
    "q_merge_cdc_part" -> mergeCdcPartSql,
    "q_merge_cdc_evolve" -> mergeCdcEvolveSql,
    "q_merge_mor" -> mergeMorSql,
    "q_time_travel" -> timeTravelSql,
    "q_stats_prune" -> statsPruneSql,
    "q_prune_where" -> pruneWhereSql,
    "q_prune_sql" -> pruneSqlSql,
    "q_ivm" -> ivmSql,
    "q_mv_rewrite" -> mvRewriteSql,
    "q_vtable_ckpt" -> vtableCkptSql,
    "q_cdf_stream" -> cdfStreamSql,
    "q_stream_sink" -> streamSinkSql,
    "q_stream_table" -> streamTableSql,
    "q_merge_sql" -> mergeSqlSql,
    "q_update_sql" -> updateSqlSql,
    "q_delete_sql" -> deleteSqlSql,
    "q_ddl_sql" -> ddlSqlSql,
    "q_catalog_sql" -> catalogSqlSql,
    "q_catalog_merge" -> catalogMergeSql,
    "q_catalog_merge_evolve" -> catalogMergeEvolveSql,
    "q_dv_compose" -> dvComposeSql,
    "q_delete_dv" -> deleteDvSql,
    "q_update_dv" -> updateDvSql,
    "q_auto_compact" -> autoCompactSql,
    "q_maintenance_sql" -> maintenanceSqlSql,
    "q_colmap_sql" -> colmapSqlSql,
    "q_replace_where" -> replaceWhereSqlSql,
    "q_clone_sql" -> cloneSqlSql,
    "q_time_travel_ts" -> timeTravelTsSql,
    "q_agg_meta" -> aggMetaSql,
    "q_change_feed" -> changeFeedSql,
    "q_vtable_mor" -> mergeMorSql,
    "q_join_advised" -> joinAdvisedSql,
    "q_text_bigrams" -> textBigramsSql,
    "q_scd2" -> scd2Sql,
    "q_embed_quantize" -> embedQuantizeSql,
    "q_incr_agg" -> incrAggSql,
    "q_agg_salted" -> aggSaltedSql,
    "q_multimodal_meta" -> multimodalMetaSql,
    "q_stddev_corr" -> stddevCorrSql,
    "q_subquery_exists" -> subqueryExistsSql,
    "q_subquery_scalar" -> subqueryScalarSql,
    "q_cte" -> cteSql,
    "q_unpivot" -> unpivotSql,
    "q_gap_fill" -> gapFillSql,
    "q_window_range_frame" -> windowRangeFrameSql,
    "q_bloom_join" -> bloomJoinSql,
    "q_string_pack" -> stringPackSql,
    "q_date_arith" -> dateArithSql,
    "q_stream_sliding" -> streamSlidingSql,
    "q_minmax_by" -> minmaxBySql,
    "q_lateral" -> lateralTokensSql,
    "q_join_salted" -> joinSaltedSql,
    "q_write_partitioned" -> writePartitionedSql,
    "q_cond_scalars" -> condScalarsSql,
    "q_bitwise" -> bitwiseOpsSql,
    "q_histogram" -> histogramSql,
    "q_zorder_scan" -> zorderScanSql,
    "q_having" -> havingSql,
    "q_cross_join" -> crossJoinSql,
    "q_explode_outer" -> explodeOuterSql,
    "q_scan_orc" -> scanOrcSql,
    "q_scan_xml" -> scanXmlSql,
    "q_scan_avro" -> scanAvroSql,
    "q_scan_binary" -> scanBinarySql,
    "q_scan_http" -> scanHttpSql,
    "q_scan_http_offset" -> scanHttpOffsetSql,
    "q_scan_http_agg" -> scanHttpAggSql,
    "q_date_format" -> dateFormatSql,
    "q_sink_jsonl" -> sinkJsonlSql,
    "q_sink_jdbc" -> sinkJdbcSql,
    "q_merge_jdbc" -> mergeJdbcSql,
    "q_scan_corrupt" -> scanCorruptSql,
    "q_text_repetition" -> repSignalsSql,
    "q_decontaminate" -> decontaminateSql,
    "q_shuffle_shard" -> shuffleShardSql,
    "q_text_pii" -> piiScrubSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_winsorize" -> winsorizeSql,
    "q_quality_filter" -> qualityFilterSql,
    "q_variant" -> variantOpSql,
    "q_topk_group" -> topkGroupSql,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_cap_per_source" -> capPerSourceSql,
  )
}
