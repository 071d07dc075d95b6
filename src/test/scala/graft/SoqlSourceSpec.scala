package graft

import org.apache.spark.sql.functions._

import graft.sources.{LoopbackPages, PagedManifest, RetryPolicy, SoqlScanBuilder}

/** `graft-paged` mode=offset — the SoQL `$limit`/`$offset` wire contract
  * of the reference's extract loop (`scripts/extract.py:56-72`), with the
  * pushed predicate serialized into `$where` and interpreted SERVER-side.
  * The LoopbackPages request log is the wire-tap: it records every decoded
  * `path?query` plus the number of rows the server shipped, so these specs
  * prove the predicate crossed the wire rather than the client
  * post-filtering full pages.
  */
class SoqlSourceSpec extends SparkSuite {

  private val schemaDdl =
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, o_orderpriority string"

  private lazy val dir = {
    val d = new java.io.File(s"target/fixtures/paged_spec_${new java.io.File(sf).getName}").getAbsolutePath
    if (!new java.io.File(d, "_manifest.json").exists()) {
      PagedManifest.writeFixture(
        Tables.orders(spark, sf)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
        d, "o_orderkey", pageSize = 200)
    }
    d
  }
  private def endpoint: String =
    s"${LoopbackPages.serve(spark, dir)}/${LoopbackPages.SoqlPath}"

  private def offsetRead(pageSize: Int, probeCount: Boolean = true) =
    spark.read.format("graft-paged")
      .option("mode", "offset")
      .option("pageSize", pageSize.toString)
      .option("probeCount", probeCount.toString)
      .option("fetchBackoffMs", "1")
      .schema(schemaDdl)
      .load(endpoint)

  private def soqlRequests: Seq[(String, Long)] =
    LoopbackPages.requestLog(dir).filter(_._1.startsWith(LoopbackPages.SoqlPath))

  test("offset protocol round-trips every row exactly (count-probed, parallel pages)") {
    val got = offsetRead(pageSize = 300)
    val want = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("pushed filter crosses the wire: server evaluates $where, ships only matching rows") {
    val hwm = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0) / 2
    val wantCount = Tables.orders(spark, sf).filter(col("o_orderkey") > hwm).count()
    val total = Tables.orders(spark, sf).count()
    assert(wantCount < total, "precondition: the predicate must be selective")

    LoopbackPages.clearRequestLog(dir)
    // materialize ROWS (a bare count() would itself push as an aggregate
    // and ship one row) — the point here is row-transfer volume
    val got = offsetRead(pageSize = 300).filter(col("o_orderkey") > hwm)
    assert(got.collect().length.toLong == wantCount)

    val reqs = soqlRequests
    assert(reqs.nonEmpty, "the scan must have hit the SoQL endpoint")
    // 1. the predicate itself appears in the query string the server saw
    assert(reqs.forall(_._1.contains(s"o_orderkey > $hwm")),
      s"every GET must carry the where predicate; saw: ${reqs.map(_._1)}")
    // 2. the server shipped exactly the filtered row count — the client did
    //    NOT pull full pages and post-filter
    val shipped = reqs.filterNot(_._1.contains("count(1)")).map(_._2).sum
    assert(shipped == wantCount,
      s"server should ship $wantCount filtered rows, shipped $shipped")
    // 3. the count probe ran with the same $where
    assert(reqs.exists(r => r._1.contains("count(1)") && r._1.contains(s"o_orderkey > $hwm")),
      "the planning count probe must carry the same predicate")
  }

  test("count probe sizes the parallel plan: one partition per offset page") {
    val df = offsetRead(pageSize = 250)
    val total = Tables.orders(spark, sf).count()
    val expectPages = ((total + 249) / 250).toInt
    assert(df.rdd.getNumPartitions == expectPages,
      s"expected $expectPages offset-page partitions for $total rows")
  }

  test("serial mode (probeCount=false) loops until a short page, exact rows") {
    val got = offsetRead(pageSize = 400, probeCount = false)
    val want = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(got.rdd.getNumPartitions == 1, "serial mode is a single partition")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val n = want.count()
    // GET count for ONE scan: full pages + the short terminator (which is
    // the last data page when n%400 != 0, or an empty probe page when the
    // row count divides evenly). collect(), since count() would push as an
    // aggregate and answer in one GET without paging.
    LoopbackPages.clearRequestLog(dir)
    assert(offsetRead(pageSize = 400, probeCount = false).collect().length.toLong == n)
    val reqs = soqlRequests
    val expectGets = n / 400 + 1
    assert(reqs.size == expectGets,
      s"serial loop should stop on the first short page: $n rows / 400 per page " +
        s"=> $expectGets GETs, saw ${reqs.size}: ${reqs.map(_._1)}")
    assert(reqs.forall(r => !r._1.contains("count(1)")), "serial mode never count-probes")
  }

  test("limit pushdown caps the pages planned ($limit analog)") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val builder = new SoqlScanBuilder(endpoint, schema, RetryPolicy(3, 1),
      pageSize = 100, probeCount = true)
    builder.pushLimit(150)
    val planned = builder.build().toBatch.planInputPartitions()
    assert(planned.length == 2,
      s"150-row limit at 100 rows/page must plan exactly 2 offset pages, got ${planned.length}")
    // e2e: exact limit still applied by Spark on top (partial pushdown)
    assert(offsetRead(pageSize = 100).limit(150).count() == 150)
  }

  test("OFFSET pushes as $offset: the skip happens server-side") {
    LoopbackPages.clearRequestLog(dir)
    val got = offsetRead(pageSize = 200).offset(300).limit(100)
      .collect().map(_.getLong(0)).sorted.toSeq
    // server natural order is the fixture's o_orderkey order, so rows
    // 300..399 of that order are the expected window
    val want = Tables.orders(spark, sf)
      .orderBy("o_orderkey").collect().map(_.getLong(0)).slice(300, 400).sorted.toSeq
    assert(got == want)
    val dataGets = soqlRequests.filterNot(_._1.contains("count(1)"))
    assert(dataGets.nonEmpty, "rows must have come from the SoQL endpoint")
    assert(dataGets.forall(_._1.contains("$offset=")) &&
      dataGets.exists(_._1.contains("$offset=300")),
      s"the pushed OFFSET must shift the wire reads: ${dataGets.map(_._1)}")
    // the skip itself never crossed the wire: well under the 1200 rows
    // that follow the offset (Spark applies the limit via incremental
    // CollectLimit, so at most a page or two ships)
    val shipped = dataGets.map(_._2).sum
    assert(shipped >= 100 && shipped <= 400, s"shipped $shipped rows")
  }

  test("column pruning reaches the wire as $select") {
    LoopbackPages.clearRequestLog(dir)
    // collect() rows (an agg would push whole and never ship columns)
    val keys = offsetRead(pageSize = 500).select("o_orderkey").collect().map(_.getLong(0))
    assert(keys.sum == Tables.orders(spark, sf).agg(sum("o_orderkey")).head().getLong(0))
    val dataGets = soqlRequests.filterNot(_._1.contains("count(1)"))
    assert(dataGets.nonEmpty &&
      dataGets.forall(_._1.contains("$select=o_orderkey&")),
      s"data GETs must project server-side; saw: ${dataGets.map(_._1)}")
  }

  test("schema is mandatory in offset mode (manifest-less)") {
    val e = intercept[Exception] {
      spark.read.format("graft-paged").option("mode", "offset").load(endpoint).count()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: causes(t.getCause)
    assert(causes(e).exists(_.contains("supply .schema")), s"got: $e")
  }

  test("ORDER BY + LIMIT pushes as $order/$limit: one GET, no Spark sort") {
    LoopbackPages.clearRequestLog(dir)
    val df = offsetRead(pageSize = 300)
      .orderBy(col("o_orderkey").desc).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      s"a fully-pushed TopN must leave no Spark sort in the plan:\n$plan")
    assert(df.rdd.getNumPartitions == 1, "pushed TopN collapses to one partition")
    val got = df.collect().map(_.getLong(0)).toSeq
    val want = Tables.orders(spark, sf).orderBy(col("o_orderkey").desc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want, s"got $got want $want")
    val dataGets = soqlRequests.filterNot(_._1.contains("count(1)"))
    assert(dataGets.nonEmpty && dataGets.forall(r =>
      r._1.contains("$order=o_orderkey DESC") && r._1.contains("$limit=5")),
      s"the TopN must cross the wire: ${dataGets.map(_._1)}")
  }

  test("pageOrder adds $order to every data GET (stable offset paging)") {
    LoopbackPages.clearRequestLog(dir)
    val got = spark.read.format("graft-paged")
      .option("mode", "offset").option("pageSize", "400")
      .option("pageOrder", "o_orderkey")
      .option("fetchBackoffMs", "1")
      .schema(schemaDdl).load(endpoint)
    val want = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val dataGets = soqlRequests.filterNot(_._1.contains("count(1)"))
    assert(dataGets.nonEmpty && dataGets.forall(_._1.contains("$order=o_orderkey")),
      s"every data GET must carry \\$$order: ${dataGets.map(_._1)}")
  }

  test("GROUP BY + aggregates push completely: $group on the wire, no Spark Aggregate") {
    LoopbackPages.clearRequestLog(dir)
    val df = offsetRead(pageSize = 300)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"),
        min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete aggregate pushdown must leave no Spark aggregate:\n$plan")
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val want = Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"),
        min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    val reqs = soqlRequests
    assert(reqs.nonEmpty && reqs.forall(r =>
      r._1.contains("$group=o_orderpriority") && r._1.contains("sum(o_custkey)")),
      s"the aggregate must cross the wire: ${reqs.map(_._1)}")
    // one row per group came back, not one per order
    assert(reqs.map(_._2).sum == want.length)
  }

  test("pushed DISTINCT ($group with no aggregate) returns groups, not raw rows") {
    // Catalyst prunes the aggregate columns when only the group keys are
    // consumed — count() over a grouped result pushes Aggregation(group,
    // aggs=[]) — and SoQL evaluates bare $group as grouped-DISTINCT. The
    // server returning RAW rows here is the sf1 failure mode: correctness
    // survives small corpora (Spark re-distincts client-side only when the
    // pushdown is partial; here it is complete), then the truncation guard
    // fires once the corpus outgrows aggLimit.
    LoopbackPages.clearRequestLog(dir)
    val grouped = offsetRead(pageSize = 300)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("s"))
    val nGroups = Tables.orders(spark, sf)
      .select("o_orderpriority").distinct().count()
    assert(grouped.count() == nGroups)
    val distinctReqs = soqlRequests.filter(r =>
      r._1.contains("$group=o_orderpriority") && !r._1.contains("("))
    assert(distinctReqs.nonEmpty,
      s"the pruned-aggregate count must push bare $$group: ${soqlRequests.map(_._1)}")
    // one row PER GROUP crossed the wire — not one per order
    assert(distinctReqs.forall(_._2 == nGroups),
      s"bare $$group must return grouped rows: $distinctReqs")
    // plain SELECT DISTINCT pushes the same shape end-to-end
    val d = offsetRead(pageSize = 300).select("o_orderpriority").distinct()
    assert(d.collect().map(_.getString(0)).sorted.toSeq ==
      Tables.orders(spark, sf).select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
  }

  test("global aggregate (no GROUP BY) pushes as a one-row response") {
    val hwm = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0) / 2
    val df = offsetRead(pageSize = 300)
      .filter(col("o_orderkey") > hwm)
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
    val row = df.head()
    val wantRow = Tables.orders(spark, sf).filter(col("o_orderkey") > hwm)
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn")).head()
    assert(row.getLong(0) == wantRow.getLong(0) && row.getLong(1) == wantRow.getLong(1))
  }

  test("an aggregate response that fills its safety $limit fails, not silently truncates") {
    // real SODA endpoints cap un-limited responses at 1000 rows by
    // default; a group list that exactly fills the cap is
    // indistinguishable from a truncated one, so the reader errors.
    // orders has 5 distinct priorities: aggLimit=5 fills the cap.
    val df = spark.read.format("graft-paged")
      .option("mode", "offset").option("pageSize", "500")
      .option("aggLimit", "5").option("fetchBackoffMs", "1")
      .option("fetchRetries", "1")
      .schema(schemaDdl).load(endpoint)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val e = intercept[Exception] { df.collect() }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: causes(t.getCause)
    assert(causes(e).exists(_.contains("safety cap")), s"got: $e")
    // a roomier cap succeeds with the same query
    val ok = spark.read.format("graft-paged")
      .option("mode", "offset").option("pageSize", "500")
      .option("aggLimit", "6").option("fetchBackoffMs", "1")
      .schema(schemaDdl).load(endpoint)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(ok.collect().length == 5)
  }

  test("distinct aggregates do NOT push and still compute correctly in Spark") {
    val df = offsetRead(pageSize = 500)
      .groupBy("o_orderpriority").agg(countDistinct("o_custkey").as("dc"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val want = Tables.orders(spark, sf)
      .groupBy("o_orderpriority").agg(countDistinct("o_custkey").as("dc"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("q_scan_http_agg: registered pushed-aggregate query matches batch") {
    val got = SparkEntry.queries("q_scan_http_agg")(spark, sf).collect()
    val want = Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
        max("o_totalprice").as("max_price"))
      .orderBy("o_orderpriority").collect()
    assert(got.length == want.length && got.length > 0)
    assert(got.toSeq == want.toSeq)
  }

  test("server-side eval is exact: 2^53 longs, UTF-8 string order, AND inside literals") {
    import graft.sources.SoqlWire
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a bigint above 2^53: double arithmetic would round 9007199254740993
    // onto ...992 and drop/admit the wrong row
    val big = mapper.readTree("""{"k":9007199254740993}""")
    assert(SoqlWire.eval("k = 9007199254740993", big))
    assert(!SoqlWire.eval("k = 9007199254740992", big))
    assert(SoqlWire.eval("k > 9007199254740992", big))
    // Spark compares UTF8String bytes: U+1F600 (surrogates in UTF-16) must
    // sort ABOVE U+FFFD like its UTF-8 encoding does, not below
    val grin = new String(Character.toChars(0x1F600))
    val emoji = mapper.readTree(s"""{"s":"$grin"}""")
    assert(SoqlWire.eval("s > '�'", emoji),
      "UTF-8 byte order must be used, not Java's UTF-16 compareTo")
    // " AND " inside a quoted literal is one literal, not a conjunction
    val val1 = mapper.readTree("""{"p":"1-URGENT AND 2-HIGH"}""")
    assert(SoqlWire.eval("p = '1-URGENT AND 2-HIGH'", val1))
    assert(!SoqlWire.eval("p = '1-URGENT AND 2-HIGH' AND p = 'other'", val1))
    // escaped quotes round-trip
    val val2 = mapper.readTree("""{"p":"it's AND it's"}""")
    assert(SoqlWire.eval("p = 'it''s AND it''s'", val2))
  }

  test("a pushed string filter containing ' AND ' survives the wire (no 500s)") {
    val got = offsetRead(pageSize = 500)
      .filter(col("o_orderpriority") === "1-URGENT AND 2-HIGH")
    assert(got.count() == 0, "no such priority exists — but the scan must not fail")
    val real = offsetRead(pageSize = 500)
      .filter(col("o_orderpriority") === "1-URGENT")
    val want = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT").count()
    assert(real.count() == want && want > 0)
  }

  test("a count probe without a usable cnt field fails loudly, not as an empty scan") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange: com.sun.net.httpserver.HttpExchange =>
      val body = """{"unexpected":"shape"}""".getBytes("UTF-8")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    try {
      val builder = new SoqlScanBuilder(
        s"http://127.0.0.1:${server.getAddress.getPort}/rows",
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
        RetryPolicy(2, 1), pageSize = 100, probeCount = true)
      val e = intercept[Exception] { builder.build().toBatch.planInputPartitions() }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: causes(t.getCause)
      assert(causes(e).exists(_.contains("count probe")), s"got: $e")
    } finally server.stop(0)
  }

  test("q_scan_http_offset: registered query matches the direct computation") {
    val got = SparkEntry.queries("q_scan_http_offset")(spark, sf)
    val hwm = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0) * 2 / 3
    val want = Tables.orders(spark, sf).filter(col("o_orderkey") > hwm)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  // ------------------- S1 × I2 over the offset protocol -----------------

  private def streamDrain(ep: String, base: String, out: String): Unit = {
    val q = spark.readStream.format("graft-paged")
      .option("mode", "offset")
      .option("pageSize", "300")
      .option("maxRowsPerTrigger", "400")
      .option("fetchBackoffMs", "1")
      .schema(schemaDdl)
      .load(ep)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("soql streaming: AvailableNow drains; resume after server-side append reads ONLY the tail") {
    // The reference's checkpointed `$offset` loop + watermark file
    // (scripts/extract.py:56-72), as engine-owned Structured Streaming:
    // the checkpoint holds the rows-consumed cursor, each run re-probes
    // count(1) and reads the appended suffix.
    val base = java.nio.file.Files.createTempDirectory("soqlstream").toString
    val src = s"$base/pages"
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val mid = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0) / 2
    val firstHalf = orders.filter(col("o_orderkey") <= mid)
    PagedManifest.writeFixture(firstHalf, src, "o_orderkey", pageSize = 200)
    val ep = s"${LoopbackPages.serve(spark, src)}/${LoopbackPages.SoqlPath}"
    val out = s"$base/out"

    streamDrain(ep, base, out)
    val got1 = spark.read.parquet(out)
    assert(got1.count() == firstHalf.count() && got1.count() > 0)
    assert(got1.exceptAll(firstHalf).isEmpty && firstHalf.exceptAll(got1).isEmpty)

    // the source GROWS while the query is down: rewrite the fixture with
    // the full set — appended keys sort after every already-served row, so
    // the served prefix is byte-identical (the append-only contract)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    PagedManifest.writeFixture(orders, src, "o_orderkey", pageSize = 200)
    LoopbackPages.invalidate(src)
    LoopbackPages.clearRequestLog(src)

    streamDrain(ep, base, out)
    val got2 = spark.read.parquet(out)
    assert(got2.count() == orders.count(), "union of both runs = the full set")
    assert(got2.exceptAll(orders).isEmpty && orders.exceptAll(got2).isEmpty)
    // wire-tap: the resumed run shipped exactly the appended tail, never
    // re-fetching rows the checkpoint already owns
    val shipped = LoopbackPages.requestLog(src)
      .filter(_._1.startsWith(LoopbackPages.SoqlPath))
      .filterNot(_._1.contains("count(1)")).map(_._2).sum
    assert(shipped == orders.count() - firstHalf.count(),
      s"resume should ship only the ${orders.count() - firstHalf.count()}-row tail, shipped $shipped")
  }

  test("soql streaming: resume fails LOUDLY when the server-side result set shrank") {
    val base = java.nio.file.Files.createTempDirectory("soqlshrink").toString
    val src = s"$base/pages"
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    PagedManifest.writeFixture(orders, src, "o_orderkey", pageSize = 200)
    val ep = s"${LoopbackPages.serve(spark, src)}/${LoopbackPages.SoqlPath}"
    val out = s"$base/out"

    streamDrain(ep, base, out)
    assert(spark.read.parquet(out).count() == orders.count())

    // history rewritten: the server now holds FEWER rows than the
    // checkpoint's consumed cursor — silent re-alignment would skip or
    // replay data, so the resume must error
    val mid = Tables.orders(spark, sf).agg(max("o_orderkey")).head().getLong(0) / 2
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    PagedManifest.writeFixture(
      orders.filter(col("o_orderkey") <= mid), src, "o_orderkey", pageSize = 200)
    LoopbackPages.invalidate(src)

    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      streamDrain(ep, base, out)
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: causes(t.getCause)
    assert(causes(e).exists(_.contains("shrank")),
      s"resume over a shrunken result set must fail explicitly, got: $e")
  }

  test("soql streaming: the ENGINE's ReadLimit wins over the source default") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{SoqlMicroBatchStream, SoqlStreamOffset}
    val total = Tables.orders(spark, sf).count()
    val stream = new SoqlMicroBatchStream(endpoint, None, None, None, 200L,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
      RetryPolicy(2, 1), maxRowsPerTrigger = 10L)
    def rows(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.asInstanceOf[SoqlStreamOffset].rows
    // Trigger.Once sends allAvailable() precisely to override the source's
    // per-trigger default — the 10-row option must NOT cap the batch
    assert(rows(stream.latestOffset(SoqlStreamOffset(0L), ReadLimit.allAvailable())) == total)
    // an explicit engine maxRows is honored exactly
    assert(rows(stream.latestOffset(SoqlStreamOffset(0L), ReadLimit.maxRows(7L))) == 7L)
    // cursor>0 + maxRows(Long.MaxValue) must saturate at the remainder,
    // not wrap negative via from+maxRows overflow
    assert(rows(stream.latestOffset(SoqlStreamOffset(3L), ReadLimit.maxRows(Long.MaxValue))) == total)
  }

  test("soql streaming: draining a proven backlog re-probes count(1) only after catch-up") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{SoqlMicroBatchStream, SoqlStreamOffset}
    val total = Tables.orders(spark, sf).count()
    val stream = new SoqlMicroBatchStream(endpoint, None, None, None, 200L,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
      RetryPolicy(2, 1), maxRowsPerTrigger = 0L)
    LoopbackPages.clearRequestLog(dir)
    def probes: Int = soqlRequests.count(_._1.contains("count(1)"))
    // first trigger probes once and proves a backlog; every later trigger
    // below the proven total drains WITHOUT a count(1) round trip
    var cursor = 0L
    var triggers = 0
    while (cursor < total) {
      cursor = stream.latestOffset(SoqlStreamOffset(cursor), ReadLimit.maxRows(total / 4 + 1))
        .asInstanceOf[SoqlStreamOffset].rows
      triggers += 1
    }
    assert(triggers > 1, "precondition: the drain must span several triggers")
    assert(probes == 1, s"a fixed backlog should cost ONE probe, cost $probes")
    // once the cursor catches up, the next trigger is a genuine poll for
    // new data and must re-probe
    stream.latestOffset(SoqlStreamOffset(cursor), ReadLimit.maxRows(100L)): Unit
    assert(probes == 2, s"a caught-up trigger must re-probe, saw $probes")
  }

  test("soql streaming with probeCount=false is rejected at plan time, loudly") {
    // the streaming offset IS the server-side count(1); a server that
    // can't count has no cursor to checkpoint — fail at planning, not
    // with an opaque per-trigger IOException
    val builder = new SoqlScanBuilder(endpoint,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl),
      RetryPolicy(2, 1), pageSize = 100, probeCount = false)
    val e = intercept[IllegalArgumentException] {
      builder.build().toMicroBatchStream("/tmp/unused-ckpt")
    }
    assert(e.getMessage.contains("count-probe"), s"got: ${e.getMessage}")
  }
}
