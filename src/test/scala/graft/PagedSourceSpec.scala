package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThan, LessThanOrEqual}

import graft.sources.{PagedManifest, PagedScanBuilder}

/** The `graft-paged` DSv2 connector (SURVEY §2.1 S1): paged-JSONL scan
  * with manifest-stats page pruning, limit budgeting, and column pruning.
  */
class PagedSourceSpec extends SparkSuite {

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

  test("full scan round-trips every row and value") {
    val paged = spark.read.format("graft-paged").load(dir)
    val orig = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(paged.count() == orig.count())
    assert(paged.exceptAll(orig).isEmpty && orig.exceptAll(paged).isEmpty)
  }

  test("watermark predicate prunes pages at planning time") {
    val manifest = PagedManifest.read(dir)
    val total = manifest.pages.length
    assert(total >= 5, s"fixture should have several pages, got $total")
    val hwm = manifest.pages.map(_.maxKey).max / 2
    val builder = new PagedScanBuilder(dir, manifest.schema)
    builder.pushFilters(Array(GreaterThan("o_orderkey", hwm)))
    val planned = builder.build().toBatch.planInputPartitions().length
    assert(planned < total, s"expected pruning below $total pages, planned $planned")
    // and results are still exact (residual filter re-applied by Spark)
    val got = spark.read.format("graft-paged").load(dir)
      .filter(col("o_orderkey") > hwm).count()
    val want = Tables.orders(spark, sf).filter(col("o_orderkey") > hwm).count()
    assert(got == want)
  }

  test("upper-bound predicate prunes from the other end") {
    val manifest = PagedManifest.read(dir)
    val cutoff = manifest.pages.head.maxKey
    val builder = new PagedScanBuilder(dir, manifest.schema)
    builder.pushFilters(Array(LessThanOrEqual("o_orderkey", cutoff)))
    val planned = builder.build().toBatch.planInputPartitions().length
    assert(planned < manifest.pages.length)
  }

  test("limit pushdown admits only the covering page prefix") {
    val manifest = PagedManifest.read(dir)
    val builder = new PagedScanBuilder(dir, manifest.schema)
    builder.pushLimit(10)
    val planned = builder.build().toBatch.planInputPartitions().length
    assert(planned == 1, s"10-row limit should plan exactly 1 page, got $planned")
    val got = spark.read.format("graft-paged").load(dir).limit(10).count()
    assert(got == 10)
  }

  test("column pruning reaches the reader schema") {
    val df = spark.read.format("graft-paged").load(dir).select("o_orderkey")
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(df.schema.fieldNames.sameElements(Array("o_orderkey")))
    assert(df.agg(sum("o_orderkey")).head().getLong(0) ==
      Tables.orders(spark, sf).agg(sum("o_orderkey")).head().getLong(0))
  }

  test("runtime In-filter prunes pages before any fetch (DPP analog)") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    val manifest = PagedManifest.read(dir)
    val scan = new PagedScanBuilder(dir, manifest.schema).build()
    val all = scan.toBatch.planInputPartitions().length
    assert(all == manifest.pages.length && all > 2)
    // probe two keys that both live in the FIRST page
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("o_orderkey",
          Array[Any](manifest.pages.head.minKey, manifest.pages.head.maxKey))))
    assert(scan.toBatch.planInputPartitions().length == 1,
      "pages whose [minKey,maxKey] cover no probed key must drop at runtime")
    // a runtime filter on a non-key column must be ignored, not prune
    val scan2 = new PagedScanBuilder(dir, manifest.schema).build()
    scan2.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("o_custkey", Array[Any](1L))))
    assert(scan2.toBatch.planInputPartitions().length == all)
  }

  test("broadcast join over the paged source is exact (runtime filtering on)") {
    import spark.implicits._
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .orderBy("o_orderkey").limit(3).collect().map(_.getLong(0))
    val dim = keys.toSeq.toDF("k")
    val fact = spark.read.format("graft-paged").load(dir)
    val joined = fact.join(org.apache.spark.sql.functions.broadcast(dim),
      fact("o_orderkey") === dim("k"))
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderkey").isin(keys.toIndexedSeq: _*)).count()
    assert(joined.count() == want && want > 0)
  }

  /** Loopback HTTP server over the fixture dir — the live analog of the
    * reference's Socrata endpoint (`scripts/extract.py:56-72`), in-JDK
    * `com.sun.net.httpserver`, no external network. `failFirst` 503s the
    * first N GETs per page; `truncateFirst` sends the full Content-Length
    * but half the bytes (premature EOF mid-stream) for the first N GETs.
    */
  private def withHttpServer[T](failFirst: Int = 0, truncateFirst: Int = 0,
                                failManifestFirst: Int = 0, gzip: Boolean = false,
                                gzipServed: java.util.concurrent.atomic.AtomicInteger =
                                  new java.util.concurrent.atomic.AtomicInteger)(f: String => T): T = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    server.createContext("/", { exchange: com.sun.net.httpserver.HttpExchange =>
      val name = exchange.getRequestURI.getPath.stripPrefix("/")
      val n = hits.merge(name, 1, (a, b) => a + b)
      val file = new java.io.File(dir, name)
      val isPage = name != "_manifest.json"
      if (!file.exists()) {
        exchange.sendResponseHeaders(404, -1); exchange.close()
      } else if (failFirst > 0 && n <= failFirst && isPage) {
        exchange.sendResponseHeaders(503, -1); exchange.close()
      } else if (failManifestFirst > 0 && n <= failManifestFirst && !isPage) {
        exchange.sendResponseHeaders(503, -1); exchange.close()
      } else {
        val plain = java.nio.file.Files.readAllBytes(file.toPath)
        val wantsGzip = gzip && Option(
          exchange.getRequestHeaders.getFirst("Accept-Encoding"))
          .exists(_.toLowerCase.contains("gzip"))
        val bytes =
          if (wantsGzip) {
            gzipServed.incrementAndGet()
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(plain); gz.close()
            exchange.getResponseHeaders.set("Content-Encoding", "gzip")
            bos.toByteArray
          } else plain
        exchange.sendResponseHeaders(200, bytes.length)
        if (truncateFirst > 0 && n <= truncateFirst && isPage)
          exchange.getResponseBody.write(bytes, 0, bytes.length / 2)
        else exchange.getResponseBody.write(bytes)
        exchange.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("pages fetch over loopback HTTP with planning-time pruning and exact results") {
    withHttpServer() { base =>
      val manifest = PagedManifest.read(base)
      assert(manifest.pages.nonEmpty)
      val hwm = manifest.pages.map(_.maxKey).max / 2
      val builder = new PagedScanBuilder(base, manifest.schema)
      builder.pushFilters(Array(GreaterThan("o_orderkey", hwm)))
      assert(builder.build().toBatch.planInputPartitions().length < manifest.pages.length,
        "manifest-stats pruning must work identically over HTTP")
      val got = spark.read.format("graft-paged").load(base)
        .filter(col("o_orderkey") > hwm)
      val want = Tables.orders(spark, sf).filter(col("o_orderkey") > hwm)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("transient HTTP 503s are retried per page over the wire") {
    withHttpServer(failFirst = 2) { base =>
      val got = spark.read.format("graft-paged")
        .option("fetchBackoffMs", "1").load(base)
      val want = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty)
    }
  }

  test("mid-stream truncation resumes the page without replaying delivered rows") {
    // the server advertises the full Content-Length but sends half the
    // bytes: the client hits a premature EOF part-way through the page,
    // re-opens it, and must skip exactly the lines already delivered —
    // no missing rows, no duplicates
    withHttpServer(truncateFirst = 1) { base =>
      val got = spark.read.format("graft-paged")
        .option("fetchBackoffMs", "1").load(base)
      val want = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("a read timeout is retried, not treated as task cancellation") {
    // SocketTimeoutException subclasses InterruptedIOException; the retry
    // catch must still consume budget for it. The server stalls past the
    // client's 150 ms read timeout on each page's FIRST request only.
    val stalled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange: com.sun.net.httpserver.HttpExchange =>
      val name = exchange.getRequestURI.getPath.stripPrefix("/")
      val file = new java.io.File(dir, name)
      if (!file.isFile) { exchange.sendResponseHeaders(404, -1); exchange.close() }
      else {
        if (name != "_manifest.json" && stalled.add(name)) Thread.sleep(600)
        val bytes = java.nio.file.Files.readAllBytes(file.toPath)
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val got = spark.read.format("graft-paged")
        .option("fetchReadTimeoutMs", "150").option("fetchBackoffMs", "1")
        .load(base)
      assert(got.count() == Tables.orders(spark, sf).count(),
        "every page must recover from its stalled first fetch via retry")
      assert(stalled.size > 0, "precondition: the stall handler must have fired")
    } finally server.stop(0)
  }

  test("gzip transfer: pages and manifest decode transparently, exact rows") {
    val served = new java.util.concurrent.atomic.AtomicInteger
    withHttpServer(gzip = true, gzipServed = served) { base =>
      val got = spark.read.format("graft-paged").load(base)
      val want = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      assert(served.get() > 0, "precondition: the server must actually have gzipped")
    }
  }

  test("gzip + mid-stream truncation still retries without replay (wire-byte guard)") {
    // Content-Length counts COMPRESSED bytes; the truncation guard sits
    // below the gunzip, so a half-sent gzip stream must surface as a
    // retryable fault (either the byte-count check or the gzip trailer
    // integrity fires), never as silently-short data.
    withHttpServer(truncateFirst = 1, gzip = true) { base =>
      val got = spark.read.format("graft-paged")
        .option("fetchBackoffMs", "1").load(base)
      val want = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("a page that SHRINKS between retry attempts errors rather than truncating") {
    // attempt 1: full Content-Length, half the bytes → truncation fault
    // after some lines were delivered; attempt 2+: a consistent but
    // 1-line body. Re-skipping the delivered lines hits EOF — accepting
    // that would silently drop the rest of the page, so it must fail.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    server.createContext("/", { exchange: com.sun.net.httpserver.HttpExchange =>
      val name = exchange.getRequestURI.getPath.stripPrefix("/")
      val n = hits.merge(name, 1, (a, b) => a + b)
      val file = new java.io.File(dir, name)
      if (!file.isFile) { exchange.sendResponseHeaders(404, -1); exchange.close() }
      else {
        val bytes = java.nio.file.Files.readAllBytes(file.toPath)
        val isPage = name != "_manifest.json"
        if (!isPage || n > 2) {
          exchange.sendResponseHeaders(200, bytes.length)
          exchange.getResponseBody.write(bytes)
        } else if (n == 1) { // advertised full, sent half
          exchange.sendResponseHeaders(200, bytes.length)
          exchange.getResponseBody.write(bytes, 0, bytes.length / 2)
        } else { // n == 2: consistent, but shrunk to one line
          val one = new String(bytes, "UTF-8").linesIterator.next() + "\n"
          val oneBytes = one.getBytes("UTF-8")
          exchange.sendResponseHeaders(200, oneBytes.length)
          exchange.getResponseBody.write(oneBytes)
        }
        exchange.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val e = intercept[Exception] {
        spark.read.format("graft-paged")
          .option("fetchRetries", "2").option("fetchBackoffMs", "1")
          .load(base).count()
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: causes(t.getCause)
      assert(causes(e).exists(_.contains("resource shrank across retries")),
        s"shrunk page must surface as an explicit error, got: $e")
    } finally server.stop(0)
  }

  test("LoopbackPages rejects path traversal outside the served dir") {
    val secret = new java.io.File(dir).getParentFile
    val sentinel = new java.io.File(secret, "paged_traversal_sentinel.txt")
    java.nio.file.Files.write(sentinel.toPath, "top-secret".getBytes("UTF-8"))
    try {
      val base = graft.sources.LoopbackPages.serve(spark, dir)
      val port = new java.net.URL(base).getPort
      // raw socket: HttpURLConnection would normalize ../ client-side
      def rawGet(path: String): String = {
        val sock = new java.net.Socket("127.0.0.1", port)
        try {
          val out = new java.io.PrintWriter(sock.getOutputStream)
          out.print(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n")
          out.flush()
          new String(sock.getInputStream.readAllBytes(), "UTF-8")
        } finally sock.close()
      }
      val resp = rawGet("/../paged_traversal_sentinel.txt")
      assert(!resp.contains("top-secret"), "traversal must not leak file contents")
      assert(resp.startsWith("HTTP/1.1 404"), s"expected 404, got: ${resp.take(40)}")
      // control: a legitimate fixture file still serves
      assert(rawGet("/_manifest.json").startsWith("HTTP/1.1 200"))
    } finally sentinel.delete()
  }

  test("a transient 503 on the MANIFEST fetch is retried, not fatal to planning") {
    withHttpServer(failManifestFirst = 1) { base =>
      val got = spark.read.format("graft-paged")
        .option("fetchBackoffMs", "1").load(base)
      assert(got.count() == Tables.orders(spark, sf).count())
    }
  }

  test("q_scan_http: the registered query fetches over live loopback HTTP, exact rows") {
    val got = SparkEntry.queries("q_scan_http")(spark, sf)
    val cutoff = Tables.orders(spark, sf)
      .agg(max(col("o_orderkey"))).head().getLong(0) / 4
    val want = Tables.orders(spark, sf).filter(col("o_orderkey") <= cutoff)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("transient page-fetch failures succeed on retry (reference I4)") {
    // every page fails twice before serving — within the 3-attempt budget,
    // so the scan must return the complete, exact result
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    graft.sources.PagedFetch.faultInjector = { file =>
      val n = attempts.merge(file, 1, (a, b) => a + b)
      if (n <= 2) throw new java.io.IOException(s"injected transient fault #$n on $file")
    }
    try {
      val got = spark.read.format("graft-paged")
        .option("fetchBackoffMs", "1").load(dir).count()
      assert(got == Tables.orders(spark, sf).count())
      assert(attempts.values().stream().allMatch(_ >= 3),
        "every page should have needed its two retries")
    } finally graft.sources.PagedFetch.faultInjector = _ => ()
  }

  test("permanent page-fetch failure surfaces after the retry budget") {
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    graft.sources.PagedFetch.faultInjector = { file =>
      attempts.merge(file, 1, (a, b) => a + b)
      throw new java.io.IOException(s"injected permanent fault on $file")
    }
    try {
      val e = intercept[Exception] {
        spark.read.format("graft-paged")
          .option("fetchRetries", "2").option("fetchBackoffMs", "1")
          .load(dir).count()
      }
      def rootCauses(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: rootCauses(t.getCause)
      assert(rootCauses(e).exists(m => m != null && m.contains("injected permanent fault")),
        s"the injected fault must surface as the failure cause, got: $e")
      assert(attempts.values().stream().anyMatch(_ >= 2),
        "the 2-attempt budget should have been spent before failing")
    } finally graft.sources.PagedFetch.faultInjector = _ => ()
  }

  test("manifest-mode streaming: the ENGINE's ReadLimit wins over the source default") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{PagedMicroBatchStream, PagedStreamOffset, RetryPolicy}
    val manifest = PagedManifest.read(dir)
    val n = manifest.pages.length
    assert(n >= 3, s"fixture should have several pages, got $n")
    val stream = new PagedMicroBatchStream(dir, manifest.pages, manifest.schema,
      manifest.schema, RetryPolicy(2, 1), maxPagesPerTrigger = 1)
    def consumed(o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
      o.asInstanceOf[PagedStreamOffset].consumed
    def at(i: Int) = PagedStreamOffset.at(manifest.pages, i)
    // Trigger.Once sends allAvailable() to override the source's
    // per-trigger default — the 1-page option must NOT cap the batch
    assert(consumed(stream.latestOffset(at(0), ReadLimit.allAvailable())) == n)
    // an explicit engine maxRows (pages, for this source) is honored exactly
    assert(consumed(stream.latestOffset(at(0), ReadLimit.maxRows(2L))) == 2)
    // cursor>0 + maxRows(Long.MaxValue) saturates at the remainder instead
    // of wrapping negative through the Int conversion
    assert(consumed(stream.latestOffset(at(1), ReadLimit.maxRows(Long.MaxValue))) == n)
  }
}
