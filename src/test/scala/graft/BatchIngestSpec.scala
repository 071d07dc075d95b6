package graft

import org.apache.spark.sql.functions._

import graft.ops.BatchIngest
import graft.sources.PagedManifest

/** Watermark-keyed resumable batch ingest (SURVEY §1.5 quirk 4): a resume
  * after the warehouse watermark moved must not skip or double-read rows.
  */
class BatchIngestSpec extends SparkSuite {
  import spark.implicits._

  private def freshDirs(tag: String): (String, String, String) = {
    val base = new java.io.File(s"target/fixtures/batch_ingest_$tag").getAbsolutePath
    val p = new java.io.File(base)
    if (p.exists()) org.apache.commons.io.FileUtils.deleteDirectory(p)
    (s"$base/pages", s"$base/warehouse", s"$base/ckpt.json")
  }

  private def mkPages(pagesDir: String): Unit =
    PagedManifest.writeFixture(
      (1L to 100L).map(k => (k, s"payload$k")).toDF("k", "payload"),
      pagesDir, "k", pageSize = 10)

  test("crash mid-run + moved watermark: resume neither skips nor duplicates") {
    val (pagesDir, whDir, ckpt) = freshDirs("quirk4")
    mkPages(pagesDir)
    // seed the warehouse: keys 1..30 already present → fresh run cuts wm=30
    (1L to 30L).map(k => (k, s"payload$k")).toDF("k", "payload")
      .write.parquet(whDir)

    // run 1: crashes after 3 pages of the wm=30 page list have committed
    val boom = intercept[RuntimeException] {
      BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")),
        onPageCommitted = i => if (i >= 2) throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")
    val saved = BatchIngest.readCheckpoint(ckpt).get
    assert(saved.watermark == 30L && saved.pagesDone == 3)

    // the warehouse HWM moves while we are down (another writer lands
    // keys 95..100) — the exact scenario where the reference's
    // offset-against-fresh-watermark resume goes wrong
    (95L to 100L).map(k => (k, s"payload$k")).toDF("k", "payload")
      .write.mode("append").parquet(whDir)

    // NEGATIVE CONTROL — the reference's resume semantics
    // (scripts/extract.py:100+103): fresh watermark, saved page offset.
    // wm=100 filters the page list to zero pages after offset 3, so keys
    // 61..94 would never be ingested. Assert the hazard is real.
    val freshWm = BatchIngest.currentHwm(spark, whDir, "k")
    assert(freshWm == 100L)
    val manifest = PagedManifest.read(pagesDir)
    val naivePages = manifest.pages.filter(_.maxKey > freshWm).drop(saved.pagesDone)
    val alreadyThere = spark.read.parquet(whDir).select("k").as[Long].collect().toSet
    val naiveMissed = (31L to 94L).toSet -- alreadyThere --
      naivePages.flatMap(p => p.minKey to p.maxKey).toSet
    assert(naiveMissed.nonEmpty,
      "precondition: the reference's fresh-watermark resume would skip rows here")

    // run 2: OUR resume — keyed by the checkpointed watermark
    BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    val after = spark.read.parquet(whDir)
    assert(after.count() == 100L, "no rows skipped")
    assert(after.select("k").distinct().count() == 100L, "no rows double-read")
    assert(after.select("k").as[Long].collect().toSet == (1L to 100L).toSet)
    assert(BatchIngest.readCheckpoint(ckpt).isEmpty,
      "a completed run must clear the checkpoint so the next run cuts a fresh wm")
  }

  test("crash between upsert and checkpoint write replays one page without duplicates") {
    val (pagesDir, whDir, ckpt) = freshDirs("replay")
    mkPages(pagesDir)
    // crash BEFORE the first checkpoint lands: page 0's rows are already
    // upserted but pagesDone=0 — the resume re-reads page 0 and the
    // idempotent anti-join upsert must drop every replayed row
    intercept[RuntimeException] {
      BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")),
        onPageCommitted = _ => throw new RuntimeException("crash after page 0 commit"))
    }
    // checkpoint recorded page 0 as done (commit happens before the hook);
    // simulate the harsher ordering by rewinding the checkpoint to 0
    val saved = BatchIngest.readCheckpoint(ckpt).get
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt),
      s"""{"watermark":${saved.watermark},"pagesDone":0}""".getBytes("UTF-8"))
    BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    val after = spark.read.parquet(whDir)
    assert(after.count() == 100L && after.select("k").distinct().count() == 100L,
      "replayed page must upsert to zero net new rows")
  }

  test("warehouse is read O(1) times per ingest, not once per page") {
    // 10 pages; the old shape anti-joined the (growing) warehouse once per
    // page. The staging spool bounds warehouse READS at 2 per run: one HWM
    // cut (fresh runs only) + one commit upsert for the whole spool.
    val (pagesDir, whDir, ckpt) = freshDirs("bounded")
    mkPages(pagesDir)
    val staged = new java.util.concurrent.atomic.AtomicInteger
    val stats = BatchIngest.ingestWithStats(spark, pagesDir, whDir, ckpt, "k",
      Seq(col("payload")), onPageCommitted = _ => { staged.incrementAndGet(): Unit })
    assert(staged.get() == 10, "precondition: the run must span many pages")
    assert(stats.inserted == 100L)
    assert(stats.warehouseReads <= 2,
      s"warehouse reads must not scale with pages: ${stats.warehouseReads} for 10 pages")
    // resumed runs skip even the HWM read (watermark comes from the checkpoint)
    val again = BatchIngest.ingestWithStats(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    assert(again.inserted == 0L && again.warehouseReads <= 2)
  }

  test("first writer wins across pages within one commit (old per-page order kept)") {
    // key 3 appears on page 0 AND page 1 with different payloads, chosen so
    // the caller's tiebreak ALONE (payload asc) would pick the page-1 row:
    // the single-commit upsert must still keep page 0's row, exactly like
    // the old sequential per-page loop did
    val (pagesDir, whDir, ckpt) = freshDirs("order")
    new java.io.File(pagesDir).mkdirs()
    def writeFile(name: String, text: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$pagesDir/$name"), text.getBytes("UTF-8"))
    writeFile("page-00000.jsonl",
      """{"k":1,"payload":"a1"}""" + "\n" + """{"k":3,"payload":"zz-first-page"}""" + "\n")
    writeFile("page-00001.jsonl",
      """{"k":3,"payload":"aa-second-page"}""" + "\n" + """{"k":4,"payload":"b4"}""" + "\n")
    writeFile("_manifest.json",
      """{"keyCol":"k","schemaDdl":"k BIGINT, payload STRING","pages":[
        |{"file":"page-00000.jsonl","rows":2,"minKey":1,"maxKey":3},
        |{"file":"page-00001.jsonl","rows":2,"minKey":3,"maxKey":4}]}""".stripMargin)
    BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    val won = spark.read.parquet(whDir).filter($"k" === 3L)
      .select("payload").as[String].collect().toSeq
    assert(won == Seq("zz-first-page"),
      s"page order must dominate the caller tiebreak on cross-page conflicts, got $won")
    assert(spark.read.parquet(whDir).count() == 3)
  }

  test("a manifest rewritten under a checkpoint restarts fresh instead of skipping pages") {
    val (pagesDir, whDir, ckpt) = freshDirs("rewrite")
    mkPages(pagesDir)
    // run 1 crashes after staging 3 pages
    intercept[RuntimeException] {
      BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")),
        onPageCommitted = i => if (i >= 2) throw new RuntimeException("injected crash"))
    }
    assert(BatchIngest.readCheckpoint(ckpt).get.pagesDone == 3)
    // the source re-paginates while we are down: same 100 rows, page size 7
    // — the saved index 3 now points into a DIFFERENT page list, so a
    // positional resume would skip rows 22..30 (old pages 0-2 covered 1..30,
    // new pages 0-2 cover only 1..21)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pagesDir))
    PagedManifest.writeFixture(
      (1L to 100L).map(k => (k, s"payload$k")).toDF("k", "payload"),
      pagesDir, "k", pageSize = 7)
    val stats = BatchIngest.ingestWithStats(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    assert(stats.restartedFresh, "the digest mismatch must be detected")
    val after = spark.read.parquet(whDir)
    assert(after.count() == 100L, "no rows skipped despite the re-pagination")
    assert(after.select("k").as[Long].collect().toSet == (1L to 100L).toSet)
    assert(BatchIngest.readCheckpoint(ckpt).isEmpty)
  }

  test("fresh run with no checkpoint ingests everything above the warehouse HWM") {
    val (pagesDir, whDir, ckpt) = freshDirs("fresh")
    mkPages(pagesDir)
    val n = BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload")))
    assert(n == 100L)
    assert(spark.read.parquet(whDir).count() == 100L)
    // second run: nothing new, still idempotent
    assert(BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload"))) == 0L)
  }

  test("fresh run into a pre-created warehouse dir with no data files ingests everything") {
    val (pagesDir, whDir, ckpt) = freshDirs("precreated")
    mkPages(pagesDir)
    new java.io.File(whDir).mkdirs()
    new java.io.File(whDir, "_SUCCESS").createNewFile()
    assert(BatchIngest.currentHwm(spark, whDir, "k") == -1L)
    assert(BatchIngest.ingest(spark, pagesDir, whDir, ckpt, "k", Seq(col("payload"))) == 100L)
    assert(spark.read.parquet(whDir).count() == 100L)
  }
}
