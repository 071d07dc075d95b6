package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Host-contention sentinel: a fixed, pure-JVM spin of known work (no
  // allocation, no I/O, no Spark). Its wall-clock varies ONLY with host
  // CPU availability, so the three samples taken around the sweeps let a
  // reader separate "the host was busy" from "the plan got slower" using
  // the driver artifact alone — in r7 a ~40% phantom regression needed
  // the committed side detail to diagnose. Each sample is (single-thread,
  // all-threads) seconds: a co-tenant pinning SOME cores leaves the
  // 1-thread spin untouched but stretches the parallel one — exactly the
  // contention shape that hits a multi-threaded Spark sweep.
  @volatile private var calSink = 0L
  private def spin(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    x
  }
  private def calibrate(threads: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    calSink = spin(400000000) // ~0.3 s unloaded; scales with contention
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pool = (0 until threads).map { _ =>
      val t = new Thread(() => { calSink = spin(400000000) })
      t.start(); t
    }
    pool.foreach(_.join())
    val multi = (System.nanoTime() - t1) / 1e9
    (single, multi)
  }
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    // Per-query wall-clock budget: a single query drifting past this is an
    // in-round red flag (the suite's slowest steady-state query runs ~7 s
    // at sf0.1). Reported as "over_budget" in the JSON line + a loud
    // stderr banner rather than a nonzero exit — the driver reads rc!=0 as
    // "bench broken", which would bury the signal instead of surfacing it.
    val budgetSec = 20.0
    val spark = GraftSession()
    // Warmup: touch every table (file listing, parquet footers, reader JIT)
    // and run the flagship once so timings measure execution rather than
    // first-query session initialization.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // (seconds, completed): the caller must see a throw DIRECTLY — the old
    // infer-from-failed.size-growth guard missed a query that had already
    // failed once and threw again on its re-timing run
    // Per-query hygiene (opt-in, SPARK_GRAFT_PER_QUERY_GC=1): a GC after
    // every query lets the ContextCleaner reap orphaned localCheckpoint
    // blocks BETWEEN queries instead of only between passes — the knob
    // for constrained-heap runs, where ~170 queries' accumulated scratch
    // otherwise lands as heap pressure on whichever heavy query runs
    // last. OUTSIDE the timed window, and recorded in the JSON line
    // (`per_query_gc`) so artifacts using it are self-describing and
    // never silently compared against default-methodology runs.
    val perQueryGc = sys.env.get("SPARK_GRAFT_PER_QUERY_GC").contains("1")
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable =>
          if (!failed.contains(name)) failed += name
          false
        }
      val t = (System.nanoTime() - t0) / 1e9
      if (perQueryGc) System.gc()
      (t, ok)
    }
    // SPARK_GRAFT_QUERIES: optional comma-separated subset — big-SF runs
    // (sf10) budget-cap a documented slice instead of the whole suite
    val subset: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      sys.env.get("SPARK_GRAFT_QUERIES") match {
        case Some(list) =>
          val want = list.split(",").map(_.trim).filter(_.nonEmpty)
          val missing = want.filterNot(SparkEntry.queries.contains)
          require(missing.isEmpty,
            s"SPARK_GRAFT_QUERIES names unknown queries: ${missing.mkString(",")}")
          want.map(q => q -> SparkEntry.queries(q)).toMap
        case None => SparkEntry.queries
      }
    def runAll(): Map[String, Double] =
      subset.map { case (name, fn) => name -> runOne(name, fn)._1 }
    // Two passes, BOTH reported. `value` (the driver-gated headline) is the
    // FIRST pass — a cold sweep including Janino codegen compilation and C2
    // JIT, the conservative number. `steady_sec` is the second pass —
    // what a long-lived cluster session runs after warmup. Keeping the
    // headline cold preserves metric semantics across rounds.
    val calPre = calibrate(GraftSession.cpus)
    val cold = runAll()
    // Inter-pass hygiene: drop cached relations accumulated by the cold
    // sweep and let the JVM compact before timing steady-state — otherwise
    // GC debt from 128 cold queries lands as multi-second outliers on
    // arbitrary steady queries (observed: a 0.7 s join timed at 7 s).
    // Codegen/JIT caches survive, which is what "steady" means.
    spark.catalog.clearCache()
    System.gc()
    val calMid = calibrate(GraftSession.cpus)
    val steadyRaw = runAll()
    val calPost = calibrate(GraftSession.cpus)
    // Outlier re-timing: a steady time >3x its own cold time on code the
    // round didn't touch is (empirically, r6+r7) host noise or GC debt,
    // not plan drift. Re-run those once and report min(steady, rerun) so a
    // single contended moment can't masquerade as a regression; the
    // `retimed` list keeps the original sample visible for audit.
    // The 3x-cold trigger alone is not enough: in the r8 driver run both
    // passes of `q_dedup_jaccard_global` were contended (cold 9.6 s,
    // steady 15.8 s vs 3.2 s quiet), so the ratio never fired and 36 s of
    // noise landed in steady_sec. Therefore ALSO re-time every steady
    // sample above an absolute floor — re-running the handful of
    // legitimately-slow queries costs a few seconds and bounds how much
    // contention any single window can inject into the steady total.
    val retimeFloor = 2.0
    val outliers = steadyRaw.collect {
      case (q, s) if (s > 3 * cold.getOrElse(q, Double.MaxValue) && s > 0.5) || s > retimeFloor => q
    }.toSeq.sorted
    // a rerun that THROWS records its time-to-throw, which must never
    // replace a valid steady sample via min() — a 0.2 s fast-fail would
    // report a phantom speedup; the throw still lands in `failed`.
    // Re-time hygiene: drop cached relations and let the ContextCleaner
    // reap the steady pass's orphaned localCheckpoint blocks first —
    // otherwise a checkpoint-bearing query re-materializes NEW blocks
    // while the old ones still occupy storage memory, and the rerun
    // times WORSE than steady (r10: q_dedup_near 5.3 s rerun vs 3.2 s
    // steady), corrupting the min() that robust_sec relies on.
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    val reruns = outliers.flatMap { q =>
      val (t, ok) = runOne(q, SparkEntry.queries(q))
      System.gc() // reap this rerun's blocks before the next sample
      if (ok) Some(q -> t) else None
    }.toMap
    val steady = steadyRaw.map { case (q, s) => q -> math.min(s, reruns.getOrElse(q, s)) }
    val coldTotal = cold.values.sum
    val steadyTotal = steady.values.sum
    // Cold samples cannot be re-measured (the JIT is warm by the time an
    // outlier is known), so flag them instead: a cold time >3x the final
    // steady time is either a contention spike (first-run Janino/C2
    // overhead measures ~1.3-2x steady on a quiet host) or genuine
    // one-time setup — q_merge_jdbc boots Derby on its cold pass, and the
    // first query to fault in a subsystem pays its init. Cross-check
    // against the calibration samples: flat sentinels + a flagged query
    // = setup cost; stretched sentinels = contention. robust_total = sum
    // of per-query min(cold, steady): the contention-resistant
    // whole-suite number to trend round-over-round.
    val coldSuspect = cold.collect {
      case (q, c) if c > 3 * steady.getOrElse(q, Double.MaxValue) && c > 0.5 => q
    }.toSeq.sorted
    val robustTotal = cold.map { case (q, c) => math.min(c, steady.getOrElse(q, c)) }.sum
    def sec(v: Double): String = f"$v%.3f"
    val overBudget = (cold.keySet ++ steady.keySet).toSeq.sorted
      .filter(q => math.min(cold.getOrElse(q, 0.0), steady.getOrElse(q, 0.0)) > budgetSec)
    if (overBudget.nonEmpty)
      System.err.println(s"BENCH BUDGET EXCEEDED (> $budgetSec s/query): " +
        overBudget.map(q => s"$q=${sec(steady(q))}s").mkString(", "))
    def qmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + sec(v) }
        .mkString("{", ",", "}")
    // a throwing query must be VISIBLE, not a silently-small timing
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val overJson = overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    // st = 1-thread spin, mt = all-cores spin of the same per-thread work:
    // mt >> st on any sample ⇒ partial-host contention during that window
    val calJson =
      s"""{"pre":${sec(calPre._1)},"mid":${sec(calMid._1)},"post":${sec(calPost._1)},""" +
        s""""pre_mt":${sec(calPre._2)},"mid_mt":${sec(calMid._2)},"post_mt":${sec(calPost._2)}}"""
    // rerun -1.0 = the re-timing attempt itself threw (query also in `failed`)
    val retimedJson = outliers.map { q =>
      s"""{"q":"$q","cold":${sec(cold.getOrElse(q, 0.0))},"steady":${sec(steadyRaw(q))},"rerun":${sec(reruns.getOrElse(q, -1.0))}}"""
    }.mkString("[", ",", "]")
    // "headline":"cold" marks the metric semantics of `value` (the cold
    // first pass, including codegen/JIT) so round-over-round trend tooling
    // can tell a metric-definition flip from a real regression.
    // "calibration" = the sentinel spin timings (equal ⇒ quiet host; a
    // spike ⇒ contention window); "retimed" = steady outliers re-sampled.
    val coldSuspectJson = coldSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val common = s""""unit":"sec","headline":"cold","steady_sec":${sec(steadyTotal)},"robust_sec":${sec(robustTotal)},"cold_suspect":$coldSuspectJson,"calibration":$calJson,"retimed":$retimedJson,"n_queries":${cold.size},"failed":$failedJson,"over_budget":$overJson,"budget_sec":$budgetSec,"per_query_gc":$perQueryGc,"sf":"$sfDir""""
    // Full two-pass per-query detail goes to a FILE: the driver's log tail
    // truncates at ~2000 chars, which in r6 cut the per-query map to ~75 of
    // 128 entries and left steady drift unattributable from the artifact.
    val detail =
      s"""{"metric":"total","value":${sec(coldTotal)},$common,"queries_cold":${qmap(cold)},"queries_steady":${qmap(steady)}}"""
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "target/bench_detail.json"))
    if (detailPath.getParent != null) java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
    println(detail)
    // Compact summary LAST (slowest queries only, both passes) so a
    // fully-parseable JSON line is always inside the tail window.
    val slowKeys = cold.toSeq.sortBy(-_._2).take(8).map(_._1)
    val slow = slowKeys.map(k => s"\"" + k + "\":" + sec(cold(k))).mkString("{", ",", "}")
    val slowSteady = steady.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${sec(coldTotal)},$common,"queries":$slow,"steady_slowest":$slowSteady,"detail":"${detailPath.toString}"}""")
    spark.stop()
  }
}
