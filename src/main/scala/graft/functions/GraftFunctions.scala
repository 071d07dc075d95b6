package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SQL surface for the native kernels: after registration every graft
  * function is callable from `spark.sql(...)` / `selectExpr` by name, so a
  * SQL-only user gets the same codegen'd hot paths as the Column API.
  *
  * Two install routes read the same function lists, rule table and
  * strategy list:
  *  - [[GraftSqlExtensions]] — the production path, injected by
  *    [[graft.GraftSession]] or `spark.sql.extensions`.
  *  - [[GraftFunctions.register]] — for a session built without it.
  */
object GraftFunctions {

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => VectorExpressions.DotProduct(es(0), es(1))),
    "graft_normsq" -> (es => VectorExpressions.NormSq(es(0))),
    "graft_jaccard" -> (es => VectorExpressions.JaccardSim(es(0), es(1))),
    "graft_jaccard_ge" -> (es => VectorExpressions.JaccardSortedGE(es(0), es(1),
      foldToDouble(es(2)))),
    "graft_shingles" -> (es => VectorExpressions.CharShingles(es(0),
      foldToInt(es(1)), sorted = false)),
    "graft_shingles_sorted" -> (es => VectorExpressions.CharShingles(es(0),
      foldToInt(es(1)), sorted = true)),
    "graft_word_ngrams" -> (es => VectorExpressions.WordNgrams(es(0),
      foldToInt(es(1)))),
    "graft_minhash" -> (es => VectorExpressions.MinHashSig(es(0), foldToInt(es(1)))),
    "graft_sig_eq_frac" -> (es => VectorExpressions.SigEqFrac(es(0), es(1))),
    "graft_simhash" -> (es => VectorExpressions.SimHash64(es(0))),
    "graft_rhp_buckets" -> (es => VectorExpressions.RhpBuckets(es(0),
      foldToInt(es(1)), foldToInt(es(2)))))

  private def foldToInt(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  private def foldToDouble(e: Expression): Double = e.eval() match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    case other => throw new IllegalArgumentException(s"expected numeric literal, got $other")
  }

  /** SQL TABLE function `graft_vtable('<dir>'[, version | timestamp])`:
    * a versioned table ([[graft.ops.VersionedTable]]) as a SQL relation —
    * `FROM graft_vtable('/wh/orders', 2)` is `VERSION AS OF` and
    * `FROM graft_vtable('/wh/orders', TIMESTAMP '2026-08-15 12:00:00')`
    * is `TIMESTAMP AS OF` (resolved through
    * [[graft.ops.VersionedTable.versionAtTimestamp]] — the latest commit
    * at or before that wall-clock instant; a plain string literal is
    * accepted in the same `yyyy-MM-dd HH:mm:ss[.f…]` shape). Arguments
    * must be literals: the manifest resolves to a concrete FILE LIST at
    * analysis time, exactly when a lakehouse catalog would pin a
    * snapshot, so a query plan never sees a moving table.
    */
  private def vtablePlan(es: Seq[Expression]): LogicalPlan = {
    require(es.nonEmpty && es.size <= 2,
      "graft_vtable takes (name-or-dir) or (name-or-dir, version | timestamp)")
    val spark = SparkSession.active
    val dir = graft.ops.GraftCatalog.resolveDir(spark,
      es.head.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"graft_vtable: name-or-dir must be a string literal, got $other")
      })
    val asOf = es.lift(1).map { e =>
      e.dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          // TIMESTAMP literal: Catalyst evals to epoch MICROS
          graft.ops.VersionedTable.versionAtTimestamp(spark, dir,
            Math.floorDiv(e.eval().asInstanceOf[Long], 1000L))
        case org.apache.spark.sql.types.StringType =>
          // session-timezone parse, matching the TIMESTAMP-literal branch
          graft.ops.VersionedTable.versionAtTimestamp(spark, dir,
            graft.ops.VersionedTable.parseTsMillis(spark,
              litString(e, "graft_vtable: timestamp"), "graft_vtable"))
        case _ => e.eval() match {
          case i: java.lang.Integer => i.toLong
          case l: java.lang.Long => l.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_vtable: version must be an integer or timestamp literal, got $other")
        }
      }
    }
    graft.ops.VersionedTable.read(spark, dir, asOf)
      .queryExecution.analyzed
  }

  private def litString(e: Expression, what: String): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def litLong(e: Expression, what: String): Long = e.eval() match {
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l.longValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** `graft_vtable_history('<dir>')`: the version ledger as a SQL relation
    * — (version, op, files, rows, commit_ts), newest first; `commit_ts`
    * is the raw wall-clock commit time (NULL for pre-timestamp
    * manifests). Pure manifest reads, no data file opens.
    */
  private def vtableHistoryPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.size == 1, "graft_vtable_history takes (dir)")
    val spark = SparkSession.active
    val h = graft.ops.VersionedTable.history(spark,
      graft.ops.GraftCatalog.resolveDir(spark,
        litString(es.head, "graft_vtable_history: name-or-dir")))
    spark.createDataFrame(h).toDF("version", "op", "files", "rows", "ts_ms")
      .withColumn("commit_ts", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("ts_ms") > 0L,
        org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.col("ts_ms"))))
      .drop("ts_ms")
      .queryExecution.analyzed
  }

  /** `graft_vtable_changes('<dir>', fromV, toV, '<k1[,k2…]>')`: the change
    * data feed as a SQL relation ([[graft.ops.VersionedTable
    * .changesBetween]]) — insert/update/delete per key between two
    * versions, O(changed files). Keys are a comma-separated literal (SQL
    * table functions cannot take identifier lists).
    */
  private def vtableChangesPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.size == 4,
      "graft_vtable_changes takes (dir, fromVersion, toVersion, 'key1[,key2…]')")
    val keys = litString(es(3), "graft_vtable_changes: keys")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.active
    graft.ops.VersionedTable.changesBetween(spark,
        graft.ops.GraftCatalog.resolveDir(spark,
          litString(es.head, "graft_vtable_changes: name-or-dir")),
        litLong(es(1), "graft_vtable_changes: fromVersion"),
        litLong(es(2), "graft_vtable_changes: toVersion"), keys)
      .queryExecution.analyzed
  }

  /** `graft_vtable_stats('<dir>'[, version])`: zero-scan statistics as a
    * SQL relation — one row per stats column: (rows, exact, col, nulls,
    * min, max), bounds as strings folded through the column's own
    * Catalyst order ([[graft.ops.VersionedTable.tableStats]]). The stats
    * feed a planner consults without touching data, now queryable where
    * planners live.
    */
  private def vtableStatsPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.nonEmpty && es.size <= 2,
      "graft_vtable_stats takes (dir) or (dir, version)")
    val spark = SparkSession.active
    val asOf = es.lift(1).map(litLong(_, "graft_vtable_stats: version"))
    val ts = graft.ops.VersionedTable.tableStats(spark,
      graft.ops.GraftCatalog.resolveDir(spark,
        litString(es.head, "graft_vtable_stats: name-or-dir")), asOf)
    val rows = ts.cols.toSeq.sortBy(_._1).map { case (c, (nulls, mn, mx)) =>
      (ts.rows, ts.exact, c, nulls, mn.orNull, mx.orNull)
    }
    spark.createDataFrame(rows)
      .toDF("rows", "exact", "col", "nulls", "min", "max")
      .queryExecution.analyzed
  }

  /** `graft_vtable_props('<dir>'[, version])`: the table-level properties
    * as a (key, value) SQL relation — identity UUID (`graft.tableId`),
    * CHECK constraints (`graft.check.<name>`), the IVM source pin. Pure
    * manifest-header read, no data file opens.
    */
  private def vtablePropsPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.nonEmpty && es.size <= 2,
      "graft_vtable_props takes (dir) or (dir, version)")
    val spark = SparkSession.active
    val dir = graft.ops.GraftCatalog.resolveDir(spark,
      litString(es.head, "graft_vtable_props: name-or-dir"))
    val v = es.lift(1).map(litLong(_, "graft_vtable_props: version"))
      .orElse(graft.ops.VersionedTable.currentVersion(spark, dir))
      .getOrElse(throw new IllegalArgumentException(
        s"graft_vtable_props: $dir is not a versioned table"))
    // header-only read: readManifest would materialize the file list
    val props = graft.ops.VersionedTable.readMeta(spark, dir, v)
      .props.toSeq.sortBy(_._1)
    spark.createDataFrame(props).toDF("key", "value")
      .queryExecution.analyzed
  }

  /** `graft_register_vtable('<name>', '<dir>')`: bind a catalog name to a
    * table directory ([[graft.ops.GraftCatalog]]) so every other TVF (and
    * SQL DML) can address the table by name. Returns the binding as a
    * one-row relation.
    */
  private def vtableRegisterPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.size == 2, "graft_register_vtable takes (name, dir)")
    val spark = SparkSession.active
    val name = litString(es.head, "graft_register_vtable: name")
    val dir = litString(es(1), "graft_register_vtable: dir")
    graft.ops.GraftCatalog.register(spark, name, dir)
    spark.createDataFrame(Seq((name, dir))).toDF("name", "dir")
      .queryExecution.analyzed
  }

  /** `graft_components('<edges-table-or-view>', '<srcCol>', '<dstCol>')`:
    * connected components of the named edge relation as a
    * (node, component) SQL relation ([[graft.ops.GraphOps
    * .connectedComponents]] — alternating large-star/small-star,
    * O(log² n) rounds, size-gated driver union-find tier). Makes near-dup
    * cluster resolution expressible end-to-end in SQL like the rest of
    * the engine: pairs view → components → anti-join back to the corpus.
    * One row per distinct node appearing in an edge; `component` is the
    * smallest node id in its component.
    */
  private def componentsPlan(es: Seq[Expression]): LogicalPlan = {
    require(es.size == 3,
      "graft_components takes ('edgesTableOrView', 'srcCol', 'dstCol')")
    val spark = SparkSession.active
    val edges = spark.table(
      litString(es.head, "graft_components: edges table/view"))
    graft.ops.GraphOps.connectedComponents(edges,
        litString(es(1), "graft_components: srcCol"),
        litString(es(2), "graft_components: dstCol"))
      .queryExecution.analyzed
  }

  private val tableFns: Seq[(String, Seq[Expression] => LogicalPlan)] =
    Seq("graft_vtable" -> (vtablePlan _),
      "graft_components" -> (componentsPlan _),
      "graft_vtable_history" -> (vtableHistoryPlan _),
      "graft_vtable_changes" -> (vtableChangesPlan _),
      "graft_vtable_stats" -> (vtableStatsPlan _),
      "graft_vtable_props" -> (vtablePropsPlan _),
      "graft_register_vtable" -> (vtableRegisterPlan _))

  /** Where a graft rule runs on the extension route. */
  private[functions] sealed trait Phase
  private[functions] case object PostHocResolution extends Phase
  private[functions] case object Optimization extends Phase

  /** Every graft logical rule, in install order. [[GraftSqlExtensions]]
    * injects each at its phase; [[register]] appends them all, in this
    * order, to `experimental.extraOptimizations` (a fixed-point batch
    * after the main optimizer, so a later rule sees an earlier rule's
    * swap on the next iteration).
    */
  private[functions] val rules: Seq[(Phase, Rule[LogicalPlan])] = Seq(
    // catalog DML first: the catalog-read swap would turn the DML target
    // relation into a read plan
    PostHocResolution -> graft.plans.VtableCatalogDml,
    PostHocResolution -> graft.plans.VtableCatalogReads,
    Optimization -> graft.plans.IntervalJoinRewrite,
    // the view rewrite wants the pristine Aggregate-over-scan shape, so it
    // runs before skipping swaps the relation's file index
    Optimization -> graft.plans.VtableViewRewrite,
    Optimization -> graft.plans.VtableSkipping,
    Optimization -> graft.plans.VtableMetadataAgg)

  /** Every graft planner strategy. [[GraftSqlExtensions]] injects each;
    * [[register]] appends the ones the session's planner lacks to
    * `experimental.extraStrategies`.
    */
  private[functions] val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.TopKStrategy)

  /** Idempotent per-session install: a function, table function, rule or
    * strategy the session already has (an earlier call, or the
    * [[GraftSqlExtensions]] injection) is left as it is.
    */
  def register(spark: SparkSession): Unit = {
    def install[T](registry: FunctionRegistryBase[T],
                   fs: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)]): Unit =
      fs.foreach { case (id, info, builder) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, builder) }
    install(spark.sessionState.functionRegistry, injected)
    install(spark.sessionState.tableFunctionRegistry, injectedTable)
    val installed = spark.sessionState.analyzer.postHocResolutionRules ++
      spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    val missing = rules.map(_._2).filterNot(installed.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
    val planned = spark.sessionState.planner.extraPlanningStrategies ++
      spark.experimental.extraStrategies
    val missingStrategies = strategies.filterNot(planned.contains)
    if (missingStrategies.nonEmpty)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies ++ missingStrategies
  }

  private def withInfo[B](fs: Seq[(String, B)], cls: String) =
    fs.map { case (name, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls, name), b) }

  private[functions] def injected = withInfo(fns, "graft.functions.VectorExpressions")

  private[functions] def injectedTable = withInfo(tableFns, "graft.ops.VersionedTable")
}

/** `spark.sql.extensions` injector — installs every graft function, rule,
  * strategy and the DML parser at session build time.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import GraftFunctions.{Optimization, PostHocResolution, rules, strategies}
    GraftFunctions.injected.foreach(ext.injectFunction)
    GraftFunctions.injectedTable.foreach(ext.injectTableFunction)
    rules.collect { case (Optimization, r) => r }
      .foreach(r => ext.injectOptimizerRule(_ => r))
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    // SQL DML on versioned tables: MERGE INTO / UPDATE / DELETE against
    // graft_vtable('ref') parse here and route through the versioned
    // commits; everything else delegates to Spark's parser untouched
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    rules.collect { case (PostHocResolution, r) => r }
      .foreach(r => ext.injectPostHocResolutionRule(_ => r))
  }
}
