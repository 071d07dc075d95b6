package graft

import graft.functions.GraftFunctions

/** The SQL surface: every native kernel callable by name from spark.sql
  * after registration, equal to its Column-API twin.
  */
class SqlSurfaceSpec extends SparkSuite {

  test("registered graft functions evaluate from pure SQL") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sf).limit(50).createOrReplaceTempView("docs_sql")
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb_sql")

    val jac = spark.sql(
      """SELECT a.doc_id, b.doc_id,
        |  graft_jaccard(graft_shingles(a.text, 3), graft_shingles(b.text, 3)) AS j,
        |  graft_jaccard_ge(graft_shingles_sorted(a.text, 3),
        |                   graft_shingles_sorted(b.text, 3), 0.0) AS j2
        |FROM docs_sql a JOIN docs_sql b ON a.doc_id < b.doc_id""".stripMargin)
      .collect()
    jac.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-15,
        "SQL jaccard variants must agree")
    }

    val cos = spark.sql(
      """SELECT graft_dot(embedding, embedding) /
        |       (sqrt(graft_normsq(embedding)) * sqrt(graft_normsq(embedding))) AS c
        |FROM emb_sql""".stripMargin).collect()
    cos.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))

    val mh = spark.sql(
      """SELECT graft_sig_eq_frac(graft_minhash(graft_shingles(text, 3), 64),
        |                         graft_minhash(graft_shingles(text, 3), 64)) AS e,
        |       graft_simhash(split(text, '\\s+')) AS sh,
        |       size(graft_rhp_buckets(embedding, 4, 8)) AS nb
        |FROM docs_sql JOIN emb_sql ON doc_id = vec_id""".stripMargin).collect()
    assert(mh.nonEmpty)
    mh.foreach { r =>
      assert(r.getDouble(0) == 1.0, "identical minhash signatures")
      assert(r.getInt(2) == 8, "one bucket per hash table")
    }
  }

  test("register is idempotent on a GraftSqlExtensions session: no function replaced") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = SparkTestSession.extended()
    val fns = ext.sessionState.functionRegistry
    val tableFns = ext.sessionState.tableFunctionRegistry
    def snapshot() = (
      fns.listFunction().filter(_.funcName.startsWith("graft_"))
        .map(id => id -> fns.lookupFunction(id).orNull).toMap,
      tableFns.listFunction().filter(_.funcName.startsWith("graft_"))
        .map(id => id -> tableFns.lookupFunction(id).orNull).toMap)
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("register-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    def replaced = logged.toArray.count(_.toString.contains("replaced a previously registered"))
    try {
      val (before, beforeTables) = snapshot()
      assert(before.nonEmpty && beforeTables.nonEmpty, "the extension injects graft functions")
      // a top-k query plans through the injected strategy and installs none
      graft.plans.TopKPlans.topKPerGroup(
        ext.range(10).selectExpr("id", "id % 2 AS g"), Seq("g"), Seq("id" -> true), 1)
        .collect()
      GraftFunctions.register(ext)
      GraftFunctions.register(ext)
      val (after, afterTables) = snapshot()
      assert(after.keySet == before.keySet && afterTables.keySet == beforeTables.keySet)
      assert(before.forall { case (id, info) => after(id) eq info },
        "register must leave injected functions in place")
      assert(beforeTables.forall { case (id, info) => afterTables(id) eq info },
        "register must leave injected table functions in place")
      assert(replaced == 0, logged.toArray.mkString("\n"))
      // nor any rule or strategy: the extension already runs them all, so
      // a copy in the extra batch or strategy list would only run each one
      // a second time — on this session and on the suite's GraftSession one
      GraftFunctions.register(spark)
      GraftFunctions.register(spark)
      Seq(ext, spark).foreach { s =>
        assert(s.experimental.extraOptimizations.isEmpty,
          s"register must install no rule twice: ${s.experimental.extraOptimizations}")
        assert(s.experimental.extraStrategies.isEmpty,
          s"register must install no strategy twice: ${s.experimental.extraStrategies}")
      }
      // the capture sees a real replacement
      val probe = FunctionIdentifier("graft_register_spec_probe")
      Seq(before.keys.head, before.keys.last).foreach { id =>
        fns.registerFunction(probe, fns.lookupFunction(id).get,
          fns.lookupFunctionBuilder(id).get)
      }
      assert(replaced == 1, logged.toArray.mkString("\n"))
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
