package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.ops.{VersionedTable => VT}

/** Optimistic concurrency under real contention: many writers hammering
  * one table through [[VT.withCommitRetry]] must produce a SERIALIZABLE
  * history — versions dense, every batch's rows present exactly once,
  * the transaction ledger monotone — and vacuum must reap the losers'
  * orphaned data dirs without touching a surviving byte. Also the
  * adversarial vacuum × patch-chain interaction: a chain state kept by
  * retention must stay byte-correct after mid-chain reclamation.
  */
class VtableConcurrencySpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("vtconc").toString + "/t"

  private def stress(dir: String, writers: Int, commitsEach: Int): Unit = {
    VT.create(Seq((0L, 0L)).toDF("w", "b").coalesce(1), dir, Seq("w"))
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try (1 to commitsEach).foreach { b =>
            VT.withCommitRetry(attempts = 200) {
              VT.commitAppend(
                Seq((w.toLong, b.toLong)).toDF("w", "b").coalesce(1), dir,
                txn = Some(s"writer-$w" -> b.toLong))
            }
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "stress pool timed out")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    // serializable history: versions dense from 1, one commit per batch
    val vs = VT.versions(spark, dir)
    assert(vs == (1L to (1L + writers * commitsEach)).toSeq,
      s"history must be dense, got ${vs.take(5)}..${vs.takeRight(5)}")
    // every batch exactly once — no lost update, no double-apply
    val got = VT.read(spark, dir).as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate rows — a batch applied twice")
    assert(got.toSet ==
      ((0L, 0L) +: (for { w <- 1 to writers; b <- 1 to commitsEach }
        yield (w.toLong, b.toLong))).toSet,
      "every writer's every batch must be present exactly once")
    // the ledger carries each writer's final cursor
    val m = VT.readManifest(spark, dir, vs.last)
    (1 to writers).foreach { w =>
      assert(m.txns.get(s"writer-$w").contains(commitsEach.toLong),
        s"ledger lost writer-$w's cursor: ${m.txns}")
    }
    // losers' orphaned data dirs reclaim; survivors stay byte-correct
    VT.vacuum(spark, dir, keepVersions = vs.size)
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet == got.toSet)
  }

  test("8 writers x 5 commits: dense versions, exactly-once batches, monotone ledger") {
    stress(tmp(), writers = 8, commitsEach = 5)
  }

  test("the same stress through delta manifests + concurrent checkpoints") {
    val olds = Seq("spark.graft.vtable.inlineMaxFiles" -> "1",
      "spark.graft.vtable.checkpointInterval" -> "3")
      .map { case (k, v) =>
        val o = spark.conf.getOption(k); spark.conf.set(k, v); k -> o
      }
    try stress(tmp(), writers = 8, commitsEach = 5)
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cross-PROCESS publish race: every version has exactly one winner") {
    // r11 note 3: the probe-then-rename publish was serialized by a JVM
    // monitor — safe for one driver, but two PROCESSES could both "win"
    // version N through the rename(2)-overwrites TOCTOU and silently
    // lose a manifest. The fix is the hard-link CAS in
    // [[graft.ops.AtomicPublish]]; this drives EXACTLY that code from
    // four freshly spawned JVMs racing over the same version sequence,
    // so the property proven (single winner per version, winner's bytes
    // published intact) is cross-process, not cross-thread.
    val dir = Files.createTempDirectory("pubrace")
    val n = 200
    val procs = 4
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    def codeSource(c: Class[_]): String =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
        .getAbsolutePath
    val cp = Seq(
      codeSource(graft.ops.AtomicPublish.getClass), // main classes dir
      codeSource(classOf[scala.collection.immutable.List[_]]) // scala-library
    ).mkString(java.io.File.pathSeparator)
    val started = (1 to procs).map { i =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.ops.PublishRacer",
        dir.toString, s"p$i", n.toString)
        .redirectErrorStream(true).start()
    }
    started.foreach { p =>
      assert(p.waitFor(120, TimeUnit.SECONDS), "racer process timed out")
      assert(p.exitValue() == 0,
        s"racer failed: ${new String(p.getInputStream.readAllBytes())}")
    }
    val winners: Map[Int, Seq[Long]] = (1 to procs).map { i =>
      i -> new String(Files.readAllBytes(dir.resolve(s"winner-p$i.txt")), "UTF-8")
        .split('\n').filter(_.nonEmpty).map(_.toLong).toSeq
    }.toMap
    val all = winners.values.flatten.toSeq
    // single winner per version, no version lost
    assert(all.size == all.toSet.size,
      s"two processes won the same version: ${all.groupBy(identity).filter(_._2.size > 1).keys}")
    assert(all.toSet == (1L to n).toSet,
      s"missing versions: ${(1L to n).toSet -- all.toSet}")
    // the published bytes are the winner's, complete and untorn
    (1L to n).foreach { v =>
      val content = new String(Files.readAllBytes(dir.resolve(s"v$v.json")), "UTF-8")
      val winner = winners.collectFirst { case (i, vs) if vs.contains(v) => s"p$i" }.get
      assert(content == s"""{"version":$v,"writer":"$winner"}""",
        s"v$v content does not match its winner: $content vs $winner")
    }
    // and no stray tmp files survive
    import scala.jdk.CollectionConverters._
    val strays = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".tmp-")).toSeq
    assert(strays.isEmpty, s"unreclaimed tmp files: $strays")
  }

  test("commit latency under contention on a CHECKPOINTED table: percentiles bounded") {
    // the 8-writer stress on the delta-manifest + checkpoint shape (not
    // the toy inline-manifest one), with per-commit wall latency
    // recorded — pins that the r13 append-rebase keeps contended commit
    // cost bounded when every read goes through checkpoint + delta
    // replay rather than one inline file list
    val olds = Seq("spark.graft.vtable.inlineMaxFiles" -> "1",
      "spark.graft.vtable.checkpointInterval" -> "5")
      .map { case (k, v) =>
        val o = spark.conf.getOption(k); spark.conf.set(k, v); k -> o
      }
    try {
      val dir = tmp()
      VT.create(Seq((0L, 0L)).toDF("w", "b").coalesce(1), dir, Seq("w"))
      val writers = 8; val commitsEach = 10
      val pool = Executors.newFixedThreadPool(writers)
      val start = new CountDownLatch(1)
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to writers).foreach { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try (1 to commitsEach).foreach { b =>
              val t0 = System.nanoTime()
              VT.withCommitRetry(attempts = 400) {
                VT.commitAppend(
                  Seq((w.toLong, b.toLong)).toDF("w", "b").coalesce(1), dir,
                  txn = Some(s"writer-$w" -> b.toLong))
              }
              lat.add(System.nanoTime() - t0)
            } catch { case t: Throwable => failures.add(t) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(300, TimeUnit.SECONDS), "stress pool timed out")
      assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
      val vs = VT.versions(spark, dir)
      assert(vs.size == 1 + writers * commitsEach, "history must be dense")
      assert(VT.read(spark, dir).count() == 1L + writers * commitsEach)
      import scala.jdk.CollectionConverters._
      val ms = lat.iterator().asScala.map(_ / 1e6).toArray.sorted
      def pct(p: Double): Double = ms(math.min(ms.length - 1,
        (p * ms.length).toInt))
      info(f"checkpointed contended commit latency (n=${ms.length}): " +
        f"p50=${pct(0.50)}%.0f ms p90=${pct(0.90)}%.0f ms " +
        f"p99=${pct(0.99)}%.0f ms max=${ms.last}%.0f ms")
      // sanity ceiling, generous for CI noise: a contended commit under
      // 80 racing commits must not degenerate to minutes
      assert(pct(0.99) < 60000.0,
        f"p99 contended commit latency ${pct(0.99)}%.0f ms — rebase or " +
          "checkpoint replay has degenerated")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("conditional-put backend: 4-process x 200-version race, one winner each, zero sidecar files") {
    // the same cross-process harness, driven through
    // [[graft.ops.CommitStore.ConditionalPut]] — the S3-class
    // create-if-absent protocol: the precondition rides the put itself,
    // so there is no tmp object and no claim file to reclaim, and the
    // claim-fallback protocol is retired on this backend.
    val dir = Files.createTempDirectory("condputrace")
    val n = 200
    val procs = 4
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    def codeSource(c: Class[_]): String =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
        .getAbsolutePath
    val cp = Seq(
      codeSource(graft.ops.CommitStore.getClass),
      codeSource(classOf[scala.collection.immutable.List[_]])
    ).mkString(java.io.File.pathSeparator)
    val started = (1 to procs).map { i =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.ops.CommitStoreRacer",
        dir.toString, s"p$i", n.toString, "condput")
        .redirectErrorStream(true).start()
    }
    started.foreach { p =>
      assert(p.waitFor(120, TimeUnit.SECONDS), "racer process timed out")
      assert(p.exitValue() == 0,
        s"racer failed: ${new String(p.getInputStream.readAllBytes())}")
    }
    val winners: Map[Int, Seq[Long]] = (1 to procs).map { i =>
      i -> new String(Files.readAllBytes(dir.resolve(s"winner-p$i.txt")), "UTF-8")
        .split('\n').filter(_.nonEmpty).map(_.toLong).toSeq
    }.toMap
    val all = winners.values.flatten.toSeq
    assert(all.size == all.toSet.size,
      s"two processes won the same version: ${all.groupBy(identity).filter(_._2.size > 1).keys}")
    assert(all.toSet == (1L to n).toSet,
      s"missing versions: ${(1L to n).toSet -- all.toSet}")
    (1L to n).foreach { v =>
      val content = new String(Files.readAllBytes(dir.resolve(s"v$v.json")), "UTF-8")
      val winner = winners.collectFirst { case (i, vs) if vs.contains(v) => s"p$i" }.get
      assert(content == s"""{"version":$v,"writer":"$winner"}""",
        s"v$v content does not match its winner: $content vs $winner")
    }
    // no sidecar artifacts of ANY kind: no tmp, no claim
    import scala.jdk.CollectionConverters._
    val strays = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.contains(".tmp-") || f.endsWith(".claim")).toSeq
    assert(strays.isEmpty, s"conditional put must leave no sidecars: $strays")
  }

  test("conditional-put backend: the full versioned-table stress end to end") {
    spark.conf.set("spark.graft.commit.store", "condput")
    try stress(tmp(), writers = 8, commitsEach = 5)
    finally spark.conf.unset("spark.graft.commit.store")
  }

  test("rename backend: second put refuses, bytes intact, tmp reclaimed") {
    val dir = Files.createTempDirectory("renstore")
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new graft.ops.RenameStore(fs)
    val dest = dir.resolve("v1.json")
    assert(store.putIfAbsent(dest, "A".getBytes("UTF-8")))
    assert(!store.putIfAbsent(dest, "B".getBytes("UTF-8")),
      "an existing destination must refuse the second publish")
    assert(new String(Files.readAllBytes(dest), "UTF-8") == "A")
    import scala.jdk.CollectionConverters._
    val strays = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".tmp-")).toSeq
    assert(strays.isEmpty, s"loser tmp must reclaim: $strays")
    // end-to-end through the conf on a real table
    spark.conf.set("spark.graft.commit.store", "rename")
    try {
      val t = tmp()
      VT.create(Seq((1L, 1L)).toDF("w", "b").coalesce(1), t, Seq("w"))
      VT.commitAppend(Seq((2L, 2L)).toDF("w", "b").coalesce(1), t)
      assert(VT.read(spark, t).count() == 2L)
    } finally spark.conf.unset("spark.graft.commit.store")
  }

  test("injectable store: a writer paused before its put reports the lost race") {
    val dir = Files.createTempDirectory("injrace")
    val dest = dir.resolve("v1.json")
    val gate = new CountDownLatch(1)
    val paused = new graft.ops.CommitStore.Injectable(
      graft.ops.CommitStore.ConditionalPut,
      () => assert(gate.await(10, TimeUnit.SECONDS)))
    val resA = new java.util.concurrent.atomic.AtomicReference[java.lang.Boolean]()
    val t = new Thread(() =>
      resA.set(paused.putIfAbsent(dest, "A".getBytes("UTF-8"))))
    t.start()
    // B publishes while A is paused between deciding and putting — the
    // precondition must make A's late put report false, never clobber
    assert(graft.ops.CommitStore.ConditionalPut
      .putIfAbsent(dest, "B".getBytes("UTF-8")))
    gate.countDown(); t.join(10000)
    assert(resA.get() != null && !resA.get().booleanValue(),
      "the paused writer must lose, not double-win")
    assert(new String(Files.readAllBytes(dest), "UTF-8") == "B")
  }

  test("flaky store: retryable failures before the put converge, bounded") {
    val dir = Files.createTempDirectory("flaky1")
    val dest = dir.resolve("v1.json")
    // first two attempts 503 before the PUT; third lands
    val st = new graft.ops.CommitStore.Flaky(
      graft.ops.CommitStore.ConditionalPut, failBefore = _ < 2)
    assert(VT.putIfAbsentWithRetry(st, dest, "A".getBytes("UTF-8")))
    assert(st.calls.get() == 3, s"expected 3 attempts, got ${st.calls.get()}")
    assert(new String(Files.readAllBytes(dest), "UTF-8") == "A")
    // exhausted: an always-failing store rethrows the LAST retryable
    // failure — never a silent maybe-published
    val dead = new graft.ops.CommitStore.Flaky(
      graft.ops.CommitStore.ConditionalPut, failBefore = _ => true)
    intercept[graft.ops.CommitStore.RetryableStoreException] {
      VT.putIfAbsentWithRetry(dead, dir.resolve("v2.json"),
        "B".getBytes("UTF-8"), attempts = 3)
    }
    assert(dead.calls.get() == 3, "attempts must be bounded")
    assert(!Files.exists(dir.resolve("v2.json")))
  }

  test("flaky store: a response lost AFTER the put resolves to this writer's win") {
    // the S3 ambiguity: the PUT committed but the 503 ate the response.
    // The retry finds dest present with the writer's OWN bytes — that is
    // a win, not a lost race, and must not publish twice.
    val dir = Files.createTempDirectory("flaky2")
    val dest = dir.resolve("v1.json")
    val st = new graft.ops.CommitStore.Flaky(
      graft.ops.CommitStore.ConditionalPut, failAfter = _ == 0)
    assert(VT.putIfAbsentWithRetry(st, dest, "MINE".getBytes("UTF-8")),
      "own-bytes readback must resolve the ambiguous outcome to a win")
    assert(new String(Files.readAllBytes(dest), "UTF-8") == "MINE")
    import scala.jdk.CollectionConverters._
    assert(Files.list(dir).iterator().asScala.toSeq.size == 1,
      "no second object may appear (double publish)")
    // and when the readback shows ANOTHER writer's bytes, it is a loss
    val dest2 = dir.resolve("v2.json")
    assert(graft.ops.CommitStore.ConditionalPut
      .putIfAbsent(dest2, "THEIRS".getBytes("UTF-8")))
    val st2 = new graft.ops.CommitStore.Flaky(
      graft.ops.CommitStore.ConditionalPut, failBefore = _ == 0)
    assert(!VT.putIfAbsentWithRetry(st2, dest2, "MINE".getBytes("UTF-8")),
      "foreign bytes on readback = lost race, reported immediately")
    assert(new String(Files.readAllBytes(dest2), "UTF-8") == "THEIRS")
  }

  test("flaky store end-to-end: commits converge under injected 503s, history serializable") {
    val t = tmp()
    // every third call 503s before the put, every seventh loses the
    // response after it — a hostile-but-retryable object store
    val st = new graft.ops.CommitStore.Flaky(
      graft.ops.CommitStore.ConditionalPut,
      failBefore = n => n % 3 == 1, failAfter = n => n % 7 == 5)
    VT.commitStoreOverride = Some(st)
    try {
      VT.create(Seq((0L, 0L)).toDF("w", "b").coalesce(1), t, Seq("w"))
      (1 to 10).foreach { b =>
        VT.withCommitRetry(attempts = 20) {
          VT.commitAppend(Seq((1L, b.toLong)).toDF("w", "b").coalesce(1), t,
            txn = Some("flaky-writer" -> b.toLong))
        }
      }
    } finally VT.commitStoreOverride = None
    assert(st.calls.get() > 11, "the injection schedule must have fired")
    assert(VT.versions(spark, t) == (1L to 11L),
      "history must be dense despite injected faults")
    val got = VT.read(spark, t).as[(Long, Long)].collect().toSet
    assert(got == (0 to 10).map(b => (if (b == 0) 0L else 1L, b.toLong)).toSet,
      "every batch exactly once — no lost update, no double-apply")
  }

  test("claim fallback: a late claimant must not overwrite a published winner") {
    // The no-hardlink fallback's original shape deleted the claim after
    // publishing, so a slower racer could createFile(claim) AFTER the
    // winner finished and ATOMIC_MOVE over the published dest (POSIX
    // rename overwrites) — both callers returning true. The fix re-probes
    // dest inside the claim section; this drives that exact interleaving.
    val dir = Files.createTempDirectory("claimrace")
    val dest = dir.resolve("v1.json")
    val t1 = dir.resolve(".v1.tmp-a")
    Files.write(t1, """{"writer":"a"}""".getBytes("UTF-8"))
    assert(graft.ops.AtomicPublish.publishViaClaim(t1, dest),
      "first publisher must win")
    Files.deleteIfExists(t1)
    // winner finished: claim deleted, dest published. The late racer now
    // acquires the claim unopposed — the advisory scenario.
    val t2 = dir.resolve(".v1.tmp-b")
    Files.write(t2, """{"writer":"b"}""".getBytes("UTF-8"))
    assert(!graft.ops.AtomicPublish.publishViaClaim(t2, dest),
      "late claimant must report the lost race")
    Files.deleteIfExists(t2)
    assert(new String(Files.readAllBytes(dest), "UTF-8") == """{"writer":"a"}""",
      "published winner was overwritten by a late claimant")
    assert(!Files.exists(dir.resolve("v1.json.claim")), "claim must not leak")
  }

  test("claim fallback: contended threads produce exactly one winner") {
    val dir = Files.createTempDirectory("claimstress")
    val threads = 8
    val versions = 50
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val wins = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to threads).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try (1 to versions).foreach { v =>
            val tmpF = dir.resolve(s".v$v.tmp-t$t")
            Files.write(tmpF, s"""{"v":$v,"writer":"t$t"}""".getBytes("UTF-8"))
            if (graft.ops.AtomicPublish.publishViaClaim(tmpF, dir.resolve(s"v$v.json")))
              assert(wins.put(v.toLong, s"t$t") == null,
                s"two threads won v$v")
            Files.deleteIfExists(tmpF)
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "claim stress timed out")
    assert(failures.isEmpty, s"racer failed: ${Option(failures.peek())}")
    assert(wins.size == versions, s"missing winners: got ${wins.size}/$versions")
    (1 to versions).foreach { v =>
      val content = new String(Files.readAllBytes(dir.resolve(s"v$v.json")), "UTF-8")
      assert(content == s"""{"v":$v,"writer":"${wins.get(v.toLong)}"}""",
        s"v$v bytes are not the recorded winner's")
    }
  }

  test("claim fallback: a stale claim fails loudly instead of wedging silently") {
    val dir = Files.createTempDirectory("claimstale")
    val dest = dir.resolve("v1.json")
    // a publisher crashed between createFile(claim) and its move
    Files.createFile(dir.resolve("v1.json.claim"))
    val t = dir.resolve(".v1.tmp-x")
    Files.write(t, "x".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      graft.ops.AtomicPublish.publishViaClaim(t, dest, stalePollMs = 200L))
    assert(e.getMessage.contains("claim"), s"undiagnostic message: ${e.getMessage}")
    assert(!Files.exists(dest))
    // operator remediation: delete the dead claim, retry — now it wins
    Files.delete(dir.resolve("v1.json.claim"))
    assert(graft.ops.AtomicPublish.publishViaClaim(t, dest))
  }

  test("claim fallback: a PAUSED claimant whose claim was operator-deleted cannot clobber the new winner") {
    // The stale-claim remedy is "delete the dead claim and retry" — but
    // the claimant might be paused, not dead. With a rename-based publish
    // it would resume and silently overwrite the retry's winner (POSIX
    // rename replaces; both callers return true). The CREATE_NEW publish
    // makes its late write fail with EEXIST instead. Driven through the
    // spec-only beforePublish hook: paused exactly between the dest
    // re-probe and the exclusive write — the advisory interleaving.
    val dir = Files.createTempDirectory("claimpause")
    val dest = dir.resolve("v1.json")
    val tA = dir.resolve(".v1.tmp-a")
    val tB = dir.resolve(".v1.tmp-b")
    Files.write(tA, """{"writer":"a"}""".getBytes("UTF-8"))
    Files.write(tB, """{"writer":"b"}""".getBytes("UTF-8"))
    val probed = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
    val aResult = new java.util.concurrent.atomic.AtomicReference[Any]()
    val a = new Thread(() =>
      aResult.set(
        try graft.ops.AtomicPublish.publishViaClaim(tA, dest,
          beforePublish = () => { probed.countDown(); resume.await() })
        catch { case t: Throwable => t }))
    a.start()
    assert(probed.await(30, TimeUnit.SECONDS), "claimant A never reached its probe")
    // operator sees A's claim as stale and deletes it; B retries and wins
    Files.delete(dir.resolve("v1.json.claim"))
    assert(graft.ops.AtomicPublish.publishViaClaim(tB, dest),
      "the retry after operator remediation must win")
    resume.countDown()
    a.join(30000)
    assert(aResult.get() == false,
      s"paused claimant must report the lost race, got: ${aResult.get()}")
    assert(new String(Files.readAllBytes(dest), "UTF-8") == """{"writer":"b"}""",
      "the paused claimant clobbered the published winner")
    Files.deleteIfExists(tA); Files.deleteIfExists(tB)
  }

  test("vacuum under a patch chain: kept mid-chain state stays byte-correct") {
    val dir = tmp()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
      .repartitionByRange(2, $"k").sortWithinPartitions("k")
    VT.create(base, dir, Seq("k"))                                     // v1
    VT.commitPatch(Seq((2L, "B", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del")                                // v2: patch
    VT.commitPatch(Seq((3L, "x", true), (5L, "e", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del")                                // v3: patch
    VT.materializeDvs(spark, dir)                                      // v4: fold
    VT.commitPatch(Seq((1L, "A2", false)).toDF("k", "s", "del"),
      dir, Seq("k"), Seq.empty, $"del")                                // v5: patch
    val v3Expect = Set(1L -> "a", 2L -> "B", 4L -> "d", 5L -> "e")
    val v5Expect = Set(1L -> "A2", 2L -> "B", 4L -> "d", 5L -> "e")
    assert(VT.read(spark, dir, Some(3L)).as[(Long, String)].collect().toSet == v3Expect)
    // keep v3..v5: the OLDEST KEPT version is a patched state — every
    // file and DV sidecar it references must survive the reclamation of v1/v2
    val deleted = VT.vacuum(spark, dir, keepVersions = 3)
    assert(VT.read(spark, dir, Some(3L)).as[(Long, String)].collect().toSet == v3Expect,
      "oldest kept patch-state must read byte-correct after vacuum")
    assert(VT.read(spark, dir, Some(4L)).as[(Long, String)].collect().toSet == v3Expect)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet == v5Expect)
    intercept[IllegalArgumentException](VT.read(spark, dir, Some(2L)))
    // now drop below the fold: keeping only the materialized + later
    // states reclaims the folded files and sidecars
    val deleted2 = VT.vacuum(spark, dir, keepVersions = 2)
    assert(deleted + deleted2 > 0, "vacuum should reclaim the folded files")
    assert(VT.read(spark, dir, Some(4L)).as[(Long, String)].collect().toSet == v3Expect)
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet == v5Expect)
  }

  /** Arm [[VT.raceBeforePublish]] to fire `f` exactly once, disarmed
    * before it runs so the racing commit it performs doesn't recurse.
    */
  private def raceOnce(f: => Unit)(body: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    VT.raceBeforePublish = () =>
      if (fired.compareAndSet(false, true)) { VT.raceBeforePublish = () => (); f }
    try body finally VT.raceBeforePublish = () => ()
  }

  private def dataDirsOf(dir: String): Set[String] =
    Option(new java.io.File(dir, "data").listFiles())
      .fold(Set.empty[String])(_.map(_.getName).toSet)

  test("append rebase: a lost race republishes metadata, never re-writes data") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir, Seq("k")) // v1
    raceOnce(VT.commitAppend(Seq((2L, "winner")).toDF("k", "s").coalesce(1), dir)) {
      // our files land for v2, the injected winner takes v2, we rebase to v3
      val v = VT.commitAppend(Seq((3L, "rebased")).toDF("k", "s").coalesce(1), dir)
      assert(v == 3L, s"rebase must publish at the next free version, got $v")
    }
    assert(VT.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "winner"), (3L, "rebased")))
    // ZERO orphaned data dirs: the loser's files were published, not re-written
    val referenced = VT.readManifest(spark, dir, 3L).files
      .map(_.path.split('/')(1)).toSet
    assert(dataDirsOf(dir) == referenced,
      s"rebase must reuse the already-written files: dirs=${dataDirsOf(dir)} refs=$referenced")
    // the rebased files' stats still prune
    assert(VT.readWhere(spark, dir, $"k" === 3L).count() == 1L)
  }

  test("append rebase: a concurrently applied txn returns the winner's version") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir, Seq("k"))
    raceOnce(VT.commitAppend(Seq((2L, "theirs")).toDF("k", "s").coalesce(1), dir,
        txn = Some("app" -> 7L))) {
      val v = VT.commitAppend(Seq((99L, "mine")).toDF("k", "s").coalesce(1), dir,
        txn = Some("app" -> 7L))
      assert(v == 2L, "an already-applied txn must return the applied version")
    }
    // exactly-once: our duplicate batch never published; its files orphan
    assert(VT.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "theirs")))
    assert(VT.versions(spark, dir) == Seq(1L, 2L))
    VT.vacuum(spark, dir, keepVersions = 2)
    assert(VT.read(spark, dir).count() == 2L, "vacuum must keep the winner's bytes")
  }

  test("append rebase: re-validates against a concurrently added CHECK constraint") {
    val dir = tmp()
    VT.create(Seq((1L, 5L)).toDF("k", "v").coalesce(1), dir, Seq("k"))
    // violating append must abort even though the constraint landed AFTER
    // its in-frame guards ran
    raceOnce(VT.addCheckConstraint(spark, dir, "v_pos", "v >= 0")) {
      val e = intercept[IllegalArgumentException](
        VT.commitAppend(Seq((2L, -1L)).toDF("k", "v").coalesce(1), dir))
      assert(e.getMessage.contains("v_pos"), e.getMessage)
    }
    assert(VT.currentVersion(spark, dir).contains(2L), "no version published")
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet == Set((1L, 5L)))
    // a conforming append rebases and the constraint carries forward
    raceOnce(VT.addCheckConstraint(spark, dir, "v_cap", "v < 1000")) {
      assert(VT.commitAppend(Seq((3L, 9L)).toDF("k", "v").coalesce(1), dir) == 4L)
    }
    val props = VT.readManifest(spark, dir, 4L).props
    assert(props.contains("graft.check.v_pos") && props.contains("graft.check.v_cap"),
      s"rebase must carry the winner's props forward, got ${props.keySet}")
  }

  test("append rebase: spans an append-only schema widening and a concurrent patch") {
    val dir = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir, Seq("k"))
    raceOnce(VT.commitAddColumns(spark, dir, Seq("extra" -> "BIGINT"))) {
      assert(VT.commitAppend(Seq((2L, "b")).toDF("k", "s").coalesce(1), dir) == 3L)
    }
    // the widened schema wins; our pre-widening files read NULL for it
    assert(VT.read(spark, dir).columns.toSeq == Seq("k", "s", "extra"))
    assert(VT.read(spark, dir).where($"k" === 2L)
      .select("extra").collect().head.isNullAt(0))
    // a patch winning mid-race deletes positions of existing files only:
    // our new files hold none of them, so the append rebases onto it
    val dir2 = tmp()
    VT.create(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir2, Seq("k"))
    raceOnce(VT.commitPatch(Seq((1L, "p", false)).toDF("k", "s", "del"),
        dir2, Seq("k"), Seq.empty, $"del")) {
      assert(VT.commitAppend(Seq((2L, "b")).toDF("k", "s").coalesce(1), dir2) == 3L)
    }
    assert(VT.read(spark, dir2).as[(Long, String)].collect().toSet ==
      Set((1L, "p"), (2L, "b")), "the rebased append must keep the winner's patch")
  }

  test("patch race: a lost race throws, and withCommitRetry re-derives positions on the new head") {
    val dir = tmp()
    VT.create(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1), dir, Seq("k"))
    val ours = Seq((2L, 22L, false), (3L, 30L, false)).toDF("k", "x", "del")
    def patch(df: org.apache.spark.sql.DataFrame): Long =
      VT.commitPatch(df, dir, Seq("k"), Seq.empty, $"del")
    // the winner re-writes k=2 into its own file, so positions derived
    // from v1 would miss that row: the loser must not publish them
    raceOnce(patch(Seq((2L, 21L, false)).toDF("k", "x", "del"))) {
      intercept[VT.ConcurrentCommitException](patch(ours))
    }
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L)))
    // under withCommitRetry the batch re-runs against the winner's head
    raceOnce(patch(Seq((2L, 23L, false)).toDF("k", "x", "del"))) {
      assert(VT.withCommitRetry()(patch(ours)) == 4L)
    }
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 22L), (3L, 30L)))
    // a constraint added mid-race: the retry's in-frame guard enforces it
    // on live rows, and a tombstone's payload stays exempt
    raceOnce(VT.addCheckConstraint(spark, dir, "x_pos", "x >= 0")) {
      assert(VT.withCommitRetry()(patch(
        Seq((2L, -99L, true), (4L, 40L, false)).toDF("k", "x", "del"))) == 6L)
    }
    assert(VT.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 30L), (4L, 40L)))
    raceOnce(VT.addCheckConstraint(spark, dir, "x_cap", "x < 1000")) {
      val e = intercept[Exception](VT.withCommitRetry()(patch(
        Seq((5L, 5000L, false)).toDF("k", "x", "del"))))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(c => Option(c.getMessage).toSeq ++ msgs(c.getCause))
      assert(msgs(e).exists(_.contains("x_cap")), msgs(e).mkString(" | "))
    }
    assert(VT.currentVersion(spark, dir).contains(7L), "the violating patch published nothing")
  }
}
