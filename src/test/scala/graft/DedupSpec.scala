package graft

import org.apache.spark.sql.functions._
import graft.ops.DedupOps

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("AQE splits the hot LSH band bucket: per-task input bounded under adversarial skew") {
    // One text repeated 400x sends every copy to a single (band, hash)
    // bucket — the candidate self-join's worst case. With skew-join
    // thresholds scaled to test data (the 100 TB defaults, 256 MB/medians,
    // scaled down ~1000x), AQE must split that reducer instead of running
    // one giant task — this pins the runtime half of the dedup family's
    // skew posture; the algorithmic half (banding bounds bucket size in
    // expectation) is argued at DedupOps.minhashLshPairs.
    // NOTE the thresholds compare COMPRESSED map-output bytes, and 800
    // identical signatures lz4 down to a few KB — the cold side must stay
    // tiny and thresholds low for the skew to be visible at test scale.
    val hot = (0L until 800L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val cold = (800L until 808L).map(i =>
      (i, s"unique filler document number $i carrying words ${i * 7} and ${i * 13}"))
    val df = (hot ++ cold).toDF("doc_id", "text").repartition(4)
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      // the join route: 808 docs would take the bounded driver tier
      val pairs = DedupOps.minhashLshPairsFromSignatures(
        DedupOps.minhashSignatures(df, "doc_id", "text", n = 3, k = 64),
        k = 64, bands = 1, threshold = 0.9)
      val qe = pairs.queryExecution
      // execute THIS plan (a fresh count() would build a different one)
      val n = qe.executedPlan.execute().count()
      assert(n >= 800L * 799 / 2, s"all hot pairs must survive the split, got $n")
      val plan = qe.executedPlan.toString
      assert(plan.contains("skewed"),
        s"AQE skew handling must engage on the hot band bucket:\n$plan")
    }
  }

  test("bitset-tier global Jaccard: the result's executed plan has no join and no exchange") {
    // the pairs come from one striped popcount job over broadcast bitsets,
    // so no pair row materializes in a join and nothing shuffles
    val df = docs.limit(50).select(col("doc_id"), col("text"))
    val pairs = DedupOps.jaccardPairsGlobal(df, "doc_id", "text", 3, 0.5)
    val plan = pairs.queryExecution.executedPlan
    val ops = plan.collect { case p => p.nodeName }
    assert(!ops.exists(n => n.contains("Join") || n.contains("Exchange")),
      s"global bitset result must plan no join and no exchange:\n$plan")
    assert(pairs.collect().nonEmpty, "50 docs at t = 0.5 should hold a pair")
  }

  test("minhash estimate tracks exact jaccard (±0.2) on identical/disjoint") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm")).toDF("doc_id", "text")
    val sig = df.select($"doc_id",
      DedupOps.minhashSignature(DedupOps.shingles($"text", 3), 64).as("sig"))
    val pairs = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        DedupOps.minhashEstimate($"a.sig", $"b.sig", 64).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.find(p => p._1 == 1 && p._2 == 2).get._3 == 1.0) // identical
    assert(pairs.find(p => p._1 == 1 && p._2 == 3).get._3 < 0.2)  // disjoint
  }

  test("minhash-LSH finds the planted near-dups with high recall at j≥0.8") {
    val sh = docs.select($"doc_id", $"source", DedupOps.shingles($"text", 3).as("sh"))
    val truth = sh.as("a").join(sh.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        DedupOps.jaccard($"a.sh", $"b.sh").as("jac"))
      .filter($"jac" >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val found = DedupOps.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
  }

  test("incremental LSH: corpus-vs-batch cross pairs + batch-internal = pairs of the union") {
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    val full = norm(DedupOps.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.5))
    val old = norm(DedupOps.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.5))
    val cross = norm(DedupOps.minhashLshPairsAgainst(corpus, batch, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.5))
    val fresh = norm(DedupOps.minhashLshPairs(batch, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.5))
    assert(cross.nonEmpty, "fixture should contain cross-side near-dups")
    assert((old ++ cross ++ fresh) == full,
      s"incremental decomposition must equal the from-scratch union " +
        s"(missing: ${full -- (old ++ cross ++ fresh)}, extra: ${(old ++ cross ++ fresh) -- full})")
    // persisted-signature path (corpus text never re-shingled) is identical
    val viaSigs = norm(DedupOps.minhashLshPairsAgainstSignatures(
      DedupOps.minhashSignatures(corpus, "doc_id", "text", n = 3, k = 64),
      DedupOps.minhashSignatures(batch, "doc_id", "text", n = 3, k = 64),
      k = 64, bands = 8, threshold = 0.5))
    assert(viaSigs == cross, "precomputed signatures must reproduce the text path")
  }

  test("global Jaccard join == quadratic all-pairs exactly, ALL tiers") {
    val sample = docs.limit(400).cache()
    val sh = sample.select($"doc_id", DedupOps.sortedShingles($"text", 3).as("sh"))
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        DedupOps.jaccard($"a.sh", $"b.sh").as("jac"))
      .filter($"jac" >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truth.nonEmpty, "sample should contain near-dups")
    // (bruteMaxDocs, maxBitsetUniverse): brute-bitset tier, prefix tier
    // (brute disabled), prefix tier via universe overflow
    for ((brute, cap) <- Seq((10000L, 32768L), (0L, 32768L), (10000L, 0L))) {
      val fast = DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = brute, maxBitsetUniverse = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == truth,
        s"tier (brute=$brute, cap=$cap) must lose nothing: " +
          s"missing=${(truth -- fast).take(3)} extra=${(fast -- truth).take(3)}")
    }
  }

  test("q_dedup_pk: uncached aggregate shape; pre-dedup narrowing changes no row") {
    // no lazy persist between dedup and sort at ANY scale: with the
    // dedup a partial-combining min(struct) aggregate, the columnar
    // encode costs more than the sampler's re-execution it would avoid
    // (measured at sf10 — see SparkEntry.dedupPk)
    val df = SparkEntry.queries("q_dedup_pk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"),
      s"q_dedup_pk must keep the uncached shape:\n$plan")
    assert(plan.contains("partial_min"),
      s"dedup must plan the partial-combining min(struct) aggregate:\n$plan")
    // the query narrows to key+tiebreak before the dedup; the winner is
    // decided by the total-order tiebreak alone, so the full-width dedup
    // agrees row for row
    val direct = graft.ops.Warehouse.dedupByKey(
        Tables(spark, sf, "lineitem"), Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_quantity")))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey").collect()
    assert(df.collect().toSeq == direct.toSeq)
  }

  test("candidate budget: a non-binding budget is result-identical to the exact path") {
    val sample = docs.limit(400).cache()
    def run(budget: Option[Long]) =
      // bruteMaxDocs = 0 forces the prefix tier (the budget's home)
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = 0L, candidatePairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = run(None)
    assert(exact.nonEmpty)
    assert(run(Some(Long.MaxValue)) == exact,
      "cap-off (budget present, not binding) must equal the exact pairs")
    assert(DedupOps.lastCapReport.isEmpty,
      "a non-binding budget must not report a cap")
  }

  test("candidate budget: when the cap binds, precision 1.0, recall bounded, report loud") {
    val sample = docs.limit(400).cache()
    def run(budget: Option[Long]) =
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = 0L, candidatePairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = run(None)
    // squeeze: a budget well under the corpus's candidate total
    val capped = run(Some(20000L))
    val rep = DedupOps.lastCapReport
    assert(rep.nonEmpty, "a binding budget must be REPORTED, never silent")
    assert(rep.get.candidatesBefore > 20000L && rep.get.budget == 20000L &&
      rep.get.bands == 17 && rep.get.rowsPerBand == 4 &&
      rep.get.recallBoundAtThreshold > 0.9,
      s"report must state the escalation + recall bound: ${rep.get}")
    // precision 1.0: verification is exact, so capped ⊆ exact always
    assert(capped.subsetOf(exact),
      s"budgeted tier emitted a non-pair: ${(capped -- exact).take(3)}")
    // sampled-recall contract on this fixture: the threshold-adaptive
    // shape at t=0.6 is 17 bands x 4 rows — a J=t pair is found w.p.
    // >= 1-(1-t^4)^17 - est tail ~ 0.90; the fixture's pair Jaccards
    // spread from the 0.6 threshold up, so the aggregate recall sits above
    val recall = capped.size.toDouble / exact.size
    info(f"budgeted-tier recall on fixture: $recall%.3f " +
      s"(${capped.size}/${exact.size}), report=${rep.get}")
    assert(recall >= rep.get.recallBoundAtThreshold,
      f"recall $recall%.3f fell below the stated at-threshold bound " +
        f"${rep.get.recallBoundAtThreshold}%.3f (the aggregate must sit " +
        "ABOVE it: most fixture pairs exceed the threshold)")
  }

  test("blocked Jaccard pairs == quadratic per-block join, both paths") {
    val sample = docs.limit(400).cache()
    val sh = sample.select($"doc_id", $"source", DedupOps.sortedShingles($"text", 3).as("sh"))
    val truth = sh.as("a").join(sh.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        DedupOps.jaccard($"a.sh", $"b.sh").as("jac"))
      .filter($"jac" >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def run(cap: Long) =
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
          maxBitsetUniverse = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truth.nonEmpty && run(Long.MaxValue) == truth && run(0) == truth)
  }

  test("blocked candidate budget: non-binding = exact; binding = precision 1.0, loud report") {
    val sample = docs.limit(400).cache()
    def run(budget: Option[Long], cap: Long = Long.MaxValue) =
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
          maxBitsetUniverse = cap, candidatePairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = run(None)
    assert(exact.nonEmpty)
    // non-binding budget: byte-identical to the exact path on BOTH
    // verification tiers, and no cap reported
    assert(run(Some(Long.MaxValue)) == exact)
    assert(DedupOps.lastCapReport.isEmpty,
      "a non-binding blocked budget must not report a cap")
    assert(run(Some(Long.MaxValue), cap = 0) == exact)
    // binding: the within-block LSH tier verifies exactly (subset of the
    // exact pairs, identical jac values) and reports the escalation
    val capped = run(Some(1000L))
    val rep = DedupOps.lastCapReport
    assert(rep.nonEmpty, "a binding blocked budget must be REPORTED")
    assert(rep.get.candidatesBefore > 1000L && rep.get.budget == 1000L &&
      rep.get.bands == 17 && rep.get.rowsPerBand == 4,
      s"report must state the escalation: ${rep.get}")
    assert(capped.subsetOf(exact),
      s"budgeted blocked tier emitted a non-pair: ${(capped -- exact).take(3)}")
    val recall = capped.size.toDouble / exact.size
    info(f"blocked budgeted-tier recall on fixture: $recall%.3f " +
      s"(${capped.size}/${exact.size})")
    assert(recall >= rep.get.recallBoundAtThreshold,
      f"recall $recall%.3f fell below the stated at-threshold bound " +
        f"${rep.get.recallBoundAtThreshold}%.3f")
  }

  test("band-chunked escalation == unchunked: identical pair sets, both paths") {
    // the chunk count is a pure MEMORY knob — candidate generation is
    // deterministic (minhash + band hashes + est filter), so any chunking
    // of the bands must produce the exact unchunked pair set
    val sample = docs.limit(400).cache()
    def runGlobal() =
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = 0L, candidatePairBudget = Some(20000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def runBlocked() =
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
          candidatePairBudget = Some(1000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      spark.conf.set(DedupOps.LshBandChunksConf, "1")
      val g1 = runGlobal()
      val b1 = runBlocked()
      assert(g1.nonEmpty && b1.nonEmpty)
      spark.conf.set(DedupOps.LshBandChunksConf, "4")
      assert(runGlobal() == g1,
        "4-chunk global escalation must equal the unchunked pair set")
      assert(runBlocked() == b1,
        "4-chunk blocked escalation must equal the unchunked pair set")
      // auto (the default) and a chunk count above the band count both
      // resolve to valid chunkings of the same band set
      spark.conf.set(DedupOps.LshBandChunksConf, "auto")
      assert(runGlobal() == g1)
      spark.conf.set(DedupOps.LshBandChunksConf, "99")
      assert(runBlocked() == b1)
    } finally spark.conf.unset(DedupOps.LshBandChunksConf)
  }

  test("hot-bucket salting == unsalted: identical pairs and estimates, all paths") {
    // the salt threshold is a pure PARALLELISM knob — the triangle cover
    // (left side under cells (u, u..g-1), right side under (0..u, u))
    // meets every unordered bucket pair exactly once, so any threshold
    // must reproduce the unsalted join's pair set and estimates. salt=2
    // forces every bucket through the sub-group path (g = ceil(m/2)).
    val sample = docs.limit(400).cache()
    // the join route: 400 docs would take the bounded driver tier
    def runPlain() =
      DedupOps.minhashLshPairsFromSignatures(
          DedupOps.minhashSignatures(sample, "doc_id", "text", n = 3, k = 64),
          k = 64, bands = 8, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def runGlobal() =
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = 0L, candidatePairBudget = Some(20000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def runBlocked() =
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
          candidatePairBudget = Some(1000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      spark.conf.set(DedupOps.SaltBucketRowsConf, "off")
      val p0 = runPlain(); val g0 = runGlobal(); val b0 = runBlocked()
      assert(p0.nonEmpty && g0.nonEmpty && b0.nonEmpty)
      // probe gate at 0 so the test-sized corpus reaches the probe, and
      // salt=2 so the probe finds hot buckets (g = ceil(m/2)) on all paths
      spark.conf.set(DedupOps.SaltProbeMinBytesConf, "0")
      spark.conf.set(DedupOps.SaltBucketRowsConf, "2")
      assert(runPlain() == p0,
        "fully-salted plain LSH must equal the unsalted pair set")
      assert(runGlobal() == g0,
        "fully-salted global escalation must equal the unsalted pair set")
      assert(runBlocked() == b0,
        "fully-salted blocked escalation must equal the unsalted pair set")
      // default gate (8 MB) leaves test-sized corpora on the naive plan —
      // same set, probe never runs
      spark.conf.unset(DedupOps.SaltProbeMinBytesConf)
      spark.conf.unset(DedupOps.SaltBucketRowsConf)
      assert(runPlain() == p0)
    } finally {
      spark.conf.unset(DedupOps.SaltProbeMinBytesConf)
      spark.conf.unset(DedupOps.SaltBucketRowsConf)
    }
  }

  test("sigEqFracGE == (sigEqFrac when >= floor else -1): exhaustive over seeded signatures") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.VecKernels
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 2000) {
      val n = 1 + rnd.nextInt(80)
      val a = Array.fill(n)(rnd.nextLong())
      // force a controlled equal-rate so floors land on both sides
      val b = a.map(v => if (rnd.nextDouble() < trial % 11 / 10.0) v else rnd.nextLong())
      val (aa, bb) = (new GenericArrayData(a), new GenericArrayData(b))
      val frac = VecKernels.sigEqFrac(aa, bb)
      for (floor <- Seq(0.0, 0.3, frac - 1e-9, frac, frac + 1e-9, 0.73, 1.0)) {
        val got = VecKernels.sigEqFracGE(aa, bb, floor)
        val want = if (frac >= floor) frac else -1.0
        assert(got == want,
          s"trial=$trial n=$n floor=$floor frac=$frac got=$got")
      }
    }
    // boundary floors with exact rational hits: every eq/n grid point
    for (n <- Seq(1, 4, 60, 68); eq <- 0 to n) {
      val a = Array.tabulate(n)(i => i.toLong)
      val b = Array.tabulate(n)(i => if (i < eq) i.toLong else -1L - i)
      val (aa, bb) = (new GenericArrayData(a), new GenericArrayData(b))
      val floor = eq.toDouble / n
      assert(VecKernels.sigEqFracGE(aa, bb, floor) == floor,
        s"exact-hit floor must survive: eq=$eq n=$n")
    }
  }

  test("candidate budget conf: session knob beats the argument, names itself, 'off' disables") {
    val sample = docs.limit(400).cache()
    def runGlobal(budget: Option[Long]) =
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6,
          bruteMaxDocs = 0L, candidatePairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = runGlobal(None)
    try {
      // conf budget binds WITHOUT any argument — tune without a rebuild —
      // and the report names the conf as the budget's source
      spark.conf.set(DedupOps.CandidateBudgetConf, "20000")
      val capped = runGlobal(None)
      val rep = DedupOps.lastCapReport
      assert(rep.nonEmpty && rep.get.budget == 20000L &&
        rep.get.source == s"conf:${DedupOps.CandidateBudgetConf}",
        s"conf-sourced budget must bind and name itself: $rep")
      assert(capped.subsetOf(exact))
      // 'off' disables even a binding ARGUMENT budget: exact path, no report
      spark.conf.set(DedupOps.CandidateBudgetConf, "off")
      assert(runGlobal(Some(1L)) == exact,
        "conf=off must force the exact path over a binding argument")
      assert(DedupOps.lastCapReport.isEmpty)
      spark.conf.set(DedupOps.CandidateBudgetConf, "20000")
      // blocked path honors the same conf
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
        candidatePairBudget = None).collect()
      val rep3 = DedupOps.lastCapReport
      assert(rep3.forall(_.source.startsWith("conf:")),
        s"blocked path must resolve the same conf: $rep3")
    } finally {
      spark.conf.unset(DedupOps.CandidateBudgetConf)
    }
  }

  test("resolveLshShape: the documented shape per threshold, (60, 1) past k = 128") {
    // 0.02 fits r = 1 in 128 minhashes (115 bands), while its r = 5 band
    // count (7e8) times 5 is past Int range; 0.01 fits no r and takes
    // the (60, 1) fallback
    val shapes = Seq(0.8 -> (12, 5), 0.6 -> (17, 4), 0.5 -> (20, 3),
      0.02 -> (115, 1), 0.01 -> (60, 1))
    shapes.foreach { case (t, shape) =>
      assert(DedupOps.resolveLshShape(t) == shape, s"threshold $t")
    }
  }

  test("blocked budget hygiene: stale reports clear, null blocks don't inflate the probe") {
    val sample = docs.limit(400).cache()
    def run(df: org.apache.spark.sql.DataFrame, budget: Option[Long]) =
      DedupOps.jaccardPairsBlocked(df, "doc_id", "text", "source", 3, 0.6,
          candidatePairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 1. a binding run leaves a report; an UNBUDGETED run must clear it —
    //    the contract is "None when the budget was absent"
    run(sample, Some(1000L))
    assert(DedupOps.lastCapReport.nonEmpty)
    val exact = run(sample, None)
    assert(DedupOps.lastCapReport.isEmpty,
      "an unbudgeted blocked run must clear a stale cap report")
    // 2. null-keyed rows never pair (=== skips nulls), so a null-heavy
    //    block column must not push an under-budget corpus over the line
    val withNulls = sample.withColumn("source",
      when($"doc_id" % 2 === 0, $"source"))  // half the corpus null-blocked
    val nonNullTotal = {
      val counts = withNulls.filter($"source".isNotNull)
        .groupBy($"source").count().collect().map(_.getLong(1))
      counts.map(c => c * (c - 1) / 2).sum
    }
    val res = run(withNulls, Some(nonNullTotal)) // exactly at budget
    assert(DedupOps.lastCapReport.isEmpty,
      "null pseudo-blocks must not count toward the exact-tier cost")
    // and the answer equals the exact blocked join on the same input
    assert(res == run(withNulls, None))
    assert(res.subsetOf(exact))
  }

  test("dedupByKey: empty keys refuse on BOTH plan paths (same contract)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      graft.ops.Warehouse.dedupByKey(df, Seq.empty, Seq($"v")).collect()
    }
    intercept[IllegalArgumentException] {
      graft.plans.TopKPlans.topKPerGroupSort(df, Seq.empty, Seq($"v"), 1, "__rn")
        .drop("__rn").collect()
    }
  }

  test("simhash: identical texts at distance 0, different texts far") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val hashed = df.select($"doc_id",
      DedupOps.simhash(graft.ops.TextOps.tokens($"text")).as("sh")).collect()
    val h = hashed.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 8)
  }

  test("simhashPairs at maxDistance=8 == brute-force hamming (full recall)") {
    val sample = docs.limit(400).cache()
    val hashed = sample.select($"doc_id",
      DedupOps.simhash(graft.ops.TextOps.tokens($"text")).as("sh"))
    val truth = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        DedupOps.hamming64($"a.sh", $"b.sh").as("hamming"))
      .filter($"hamming" <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fast = DedupOps.simhashPairs(sample, "doc_id", "text", maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(truth.nonEmpty, "sample should contain pairs within distance 8")
    assert(fast == truth,
      s"pigeonhole blocking must lose nothing: missing=${(truth -- fast).take(3)} extra=${(fast -- truth).take(3)}")
  }

  test("combinatorial simhash blocking (Manku) == brute force at d=3, B=6") {
    val sample = docs.limit(400).cache()
    val hashed = sample.select($"doc_id",
      DedupOps.simhash(graft.ops.TextOps.tokens($"text")).as("sh"))
    val truth = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        DedupOps.hamming64($"a.sh", $"b.sh").as("hamming"))
      .filter($"hamming" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fast = DedupOps.simhashPairsCombinatorial(sample, "doc_id", "text",
        maxDistance = 3, nBlocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(truth.nonEmpty, "sample should contain pairs within distance 3")
    assert(fast == truth,
      s"subset blocking must lose nothing: missing=${(truth -- fast).take(3)} extra=${(fast -- truth).take(3)}")
  }

  test("simhashPairsAuto tier switch is result-identical at the registered d=8") {
    // both tiers are full-recall by pigeonhole + exact-Hamming-verified,
    // so routing to Manku blocking above the corpus cap must not change a
    // single pair — this pins the q_dedup_simhash tier switch
    val sample = docs.limit(400).cache()
    val single = DedupOps.simhashPairsAuto(sample, "doc_id", "text",
        maxDistance = 8, singleSliceMaxDocs = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val manku = DedupOps.simhashPairsAuto(sample, "doc_id", "text",
        maxDistance = 8, singleSliceMaxDocs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(single.nonEmpty, "sample should contain pairs within distance 8")
    assert(manku == single,
      s"tier switch changed results: missing=${(single -- manku).take(3)} " +
        s"extra=${(manku -- single).take(3)}")
  }

  test("simhashPairs at maxDistance=0 finds exactly the identical-hash pairs") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val out = DedupOps.simhashPairs(df, "doc_id", "text", maxDistance = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 2L, 0)), s"got $out")
  }

  test("jaccardPairsGlobal keeps pairs at EXACTLY the threshold (0.55 ceil trap)") {
    // 0.55*100 → 55.00000000000001 in doubles, so a naive ceil demands 56:
    // B ⊂ A with |A|=100, |B|=55 has J = 55/100 = 0.55 exactly and would be
    // dropped by both the size filter and the positional minOverlap bound.
    // second planted pair on a disjoint alphabet: |A|=60, |B|=33 trips the
    // verify kernel's early-exit bound (51.15 vs 51.150000000000006)
    val al1 = (0x30 until 0x30 + 100).map(_.toChar)
    val al2 = (0x100 until 0x100 + 60).map(_.toChar)
    val df = Seq(
      (1L, al1.mkString),
      (2L, al1.take(55).mkString),
      (3L, al2.mkString),
      (4L, al2.take(33).mkString)).toDF("doc_id", "text")
    // exercise the brute-bitset tier AND the prefix tier (brute disabled)
    for (brute <- Seq(10000L, 0L)) {
      val out = DedupOps.jaccardPairsGlobal(df, "doc_id", "text", n = 1,
          threshold = 0.55, bruteMaxDocs = brute)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(out == Set((1L, 2L, 0.55), (3L, 4L, 0.55)),
        s"both exact-threshold pairs must survive (brute=$brute), got $out")
    }
  }

  test("incrementalDedupRound: a pre-created signature dir with no data files is a first round") {
    val dir = java.nio.file.Files.createTempDirectory("sigempty").toString + "/sigs"
    new java.io.File(dir).mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    val pairs = DedupOps.incrementalDedupRound(docs, dir, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.7)
    assert(pairs.collect().toSet == DedupOps.minhashLshPairsFromSignatures(
      DedupOps.minhashSignatures(docs, "doc_id", "text", 3, 64), 64, 8, 0.7)
      .collect().toSet)
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("incrementalDedupRound: signature-table lifecycle, replay appends nothing") {
    val dir = java.nio.file.Files.createTempDirectory("siglife").toString + "/sigs"
    val half = docs.count() / 2
    val a = docs.filter($"doc_id" <= half)
    val b = docs.filter($"doc_id" > half)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq

    // round 1: empty table — batch-internal pairs only, sigs persisted
    val r1 = canon(DedupOps.incrementalDedupRound(a, dir, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.7))
    assert(canon(DedupOps.minhashLshPairsFromSignatures(
      DedupOps.minhashSignatures(a, "doc_id", "text", 3, 64), 64, 8, 0.7)) == r1)
    val sigsAfter1 = spark.read.parquet(dir).count()
    assert(sigsAfter1 == a.count())

    // round 2: cross + internal — equals the one-shot decomposition
    val r2 = canon(DedupOps.incrementalDedupRound(b, dir, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.7))
    val expected = canon(DedupOps.minhashLshPairsAgainst(a, b, "doc_id", "text",
        n = 3, k = 64, bands = 8, threshold = 0.7)
      .unionByName(DedupOps.minhashLshPairs(b, "doc_id", "text",
        n = 3, k = 64, bands = 8, threshold = 0.7)))
    assert(r2 == expected)
    assert(spark.read.parquet(dir).count() == docs.count())

    // REPLAY round 2 (the crash-rerun): identical pairs come back and the
    // signature table gains ZERO rows — no duplicate signatures, no
    // self-matches against the already-ingested copy
    val r2again = canon(DedupOps.incrementalDedupRound(b, dir, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.7))
    assert(r2again == r2, "replayed round must reproduce its pairs")
    assert(spark.read.parquet(dir).count() == docs.count(),
      "replayed round must append zero signatures")
    assert(spark.read.parquet(dir).groupBy("id").count()
      .filter($"count" > 1).isEmpty, "signature table keys must stay unique")
  }

  test("content-hash dedup equals exact text dedup") {
    val byText = DedupOps.exactDedup(docs, Seq("text"), Seq($"doc_id")).count()
    val byHash = DedupOps.exactDedup(
      docs.withColumn("h", DedupOps.contentHash($"text")), Seq("h"), Seq($"doc_id")).count()
    assert(byText == byHash)
  }

  test("editDistancePairs: deletion-neighborhood join equals brute force (all edit kinds)") {
    val strs = Seq(
      (1L, "spark"), (2L, "spork"),   // substitution
      (3L, "sparks"),                 // insertion vs 1
      (4L, "park"),                   // deletion vs 1
      (5L, "spark"),                  // duplicate of 1 (dist 0)
      (6L, "prefix#001"), (7L, "prefix#002"), (8L, "prefix#011"), // shared prefix
      (9L, "totally-different"),
      (10L, ""), (11L, "a")           // empty/short edge cases
    ).toDF("id", "s")
    val got = DedupOps.editDistancePairs(strs, "id", "s")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val brute = strs.as("x").join(strs.as("y"), $"x.id" < $"y.id")
      .select($"x.id", $"y.id", levenshtein($"x.s", $"y.s").as("d"))
      .filter($"d" <= 1).as[(Long, Long, Int)].collect().toSet
    assert(got == brute, s"got $got\nwant $brute")
    assert(brute.exists(_._3 == 0) && brute.exists(_._3 == 1), "fixture covers both distances")
  }

  test("editDistancePairs random strings equal brute force") {
    val rnd = new scala.util.Random(5)
    val alphabet = "ab"
    val strs = (1L to 120L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.length))).mkString))
      .toDF("id", "s")
    val got = DedupOps.editDistancePairs(strs, "id", "s")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = strs.as("x").join(strs.as("y"), $"x.id" < $"y.id")
      .filter(levenshtein($"x.s", $"y.s") <= 1)
      .select($"x.id", $"y.id").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("editDistLe1 kernel == thresholded levenshtein on random multibyte strings") {
    // the greedy O(n) verify must agree with levenshtein(a, b, 1) on every
    // pair, including multibyte and supplementary codepoints (the UTF-16 vs
    // codepoint length distinction is exactly where a greedy can misroute
    // substitution vs insertion)
    val rnd = new scala.util.Random(11)
    val alphabet: IndexedSeq[String] = "ab".map(_.toString) ++ Seq("é", "中", "𝕏")
    val strs = (1L to 90L).map { i =>
      (i, Seq.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("id", "s")
    val disagree = strs.as("x").join(strs.as("y"), $"x.id" <= $"y.id")
      .select(
        graft.functions.VectorExpressions.editDistLe1($"x.s", $"y.s").as("fast"),
        levenshtein($"x.s", $"y.s", 1).as("ref"))
      .filter($"fast" =!= $"ref")
    assert(disagree.isEmpty,
      s"kernel disagrees with levenshtein: ${disagree.take(5).mkString(", ")}")
  }

  test("ScanSpread: a streaming input comes back unchanged, nothing thrown") {
    val stream = spark.readStream.format("rate").load()
      .select($"value".as("id"), $"value".cast("string").as("text"))
    assert(graft.ops.ScanSpread.spread(stream, $"id") eq stream)
  }

  test("ScanSpread: a join input comes back unchanged and launches no job") {
    def join() = spark.range(0, 2000).join(spark.range(0, 2000), "id")
    // the listener sees the jobs a partition count runs on such an input
    // (a fresh Dataset: `.rdd` is memoized per Dataset)
    assert(jobsLaunchedBy(join().rdd.getNumPartitions) > 0)
    val joined = join()
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { out = graft.ops.ScanSpread.spread(joined, $"id") } == 0)
    assert(out eq joined)
    // a bare file scan reads its split count, also without a job
    val dir = java.nio.file.Files.createTempDirectory("spread").toString + "/t"
    spark.range(0, 100).write.parquet(dir)
    val bare = spark.read.parquet(dir).select($"id").filter($"id" >= 0)
    assert(jobsLaunchedBy(graft.ops.ScanSpread.spread(bare, $"id")) == 0)
  }

  test("Jaccard planner pins: each tier keeps exactly the pins its plan reads, every call") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val sample = docs.limit(400).cache()
    sample.count()
    // results stay referenced: a result's pins live as long as its plan
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def global(cap: Long = DedupOps.MaxBitsetUniverse, brute: Long = DedupOps.BruteForceMaxDocs,
               budget: Option[Long] = None) = () =>
      DedupOps.jaccardPairsGlobal(sample, "doc_id", "text", 3, 0.6, bruteMaxDocs = brute,
        maxBitsetUniverse = cap, candidatePairBudget = budget)
    def blocked(cap: Long = DedupOps.MaxBitsetUniverse, budget: Option[Long]) = () =>
      DedupOps.jaccardPairsBlocked(sample, "doc_id", "text", "source", 3, 0.6,
        maxBitsetUniverse = cap, candidatePairBudget = budget)
    // (tier, band chunks, call, pins its result reads)
    val tiers = Seq(
      ("global bitset", "auto", global(), 0),
      ("global bitset overflow -> prefix", "auto", global(cap = 0L), 0),
      ("blocked bitset", "auto", blocked(budget = Some(Long.MaxValue)), 1),
      ("blocked bitset overflow -> merge-scan", "auto",
        blocked(cap = 0L, budget = Some(Long.MaxValue)), 0),
      ("global escalated, one chunk", "1", global(brute = 0L, budget = Some(20000L)), 1),
      ("global escalated, 4 chunks", "4", global(brute = 0L, budget = Some(20000L)), 4),
      ("blocked escalated, one chunk", "1", blocked(budget = Some(1000L)), 1),
      ("blocked escalated, 4 chunks", "4", blocked(budget = Some(1000L)), 4))
    try for ((tier, chunks, call, expected) <- tiers; i <- 1 to 5) {
      spark.conf.set(DedupOps.LshBandChunksConf, chunks)
      val before = sc.getPersistentRDDs.keySet
      val out = call()
      held += out
      val grown = sc.getPersistentRDDs.keySet -- before
      // the pins the plan reads: its persisted LogicalRDDs (the global
      // bitset result is an unpersisted one over its pair job)
      val reads = out.queryExecution.analyzed.collect {
        case r: LogicalRDD if sc.getPersistentRDDs.contains(r.rdd.id) => r.rdd.id
      }.toSet
      assert(grown == reads && grown.size == expected,
        s"$tier, call $i: pins grew by $grown, the plan reads $reads (want $expected)")
    } finally spark.conf.unset(DedupOps.LshBandChunksConf)
  }

  test("bitset tier: a bounded global call + collect runs <= 4 jobs, pairs on every core") {
    // one parquet file: it scans as one split, which ScanSpread spreads
    val dir = java.nio.file.Files.createTempDirectory("bitset-jobs").toString + "/docs"
    docs.limit(400).select($"doc_id", $"text").coalesce(1).write.parquet(dir)
    val width = math.min(spark.sparkContext.defaultParallelism, 400)
    def run(df: org.apache.spark.sql.DataFrame) =
      jobTasksOf(DedupOps.jaccardPairsGlobal(df, "doc_id", "text", 3, 0.6).collect())
    val shard = run(spark.read.parquet(dir))
    // the doc count, the spread's shuffle map, the probe and the pair job
    assert(shard.size <= 4, s"bounded global bitset call + collect: ${shard.size} jobs " +
      s"(tasks per job ${shard.mkString(", ")}), want <= 4")
    // the collect's last job is the striped pair job
    assert(shard.last == width, s"pair job ran ${shard.last} tasks, want $width")
    // a one-partition input that ScanSpread leaves as it is (cached) still
    // pairs on every core
    val narrow = docs.limit(400).select($"doc_id", $"text").cache()
    assert(narrow.rdd.getNumPartitions == 1)
    val spread = run(narrow)
    assert(spread.last == width, s"pair job over a one-partition input ran " +
      s"${spread.last} tasks, want $width")
    narrow.unpersist()
  }

  test("bitset tier == merge-scan tier == quadratic join on null, short and duplicate texts") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.TestListenerShim.liveBroadcasts
    val sc = spark.sparkContext
    val base = docs.limit(60).select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect().toSeq
    val (t0, s0) = (base.head._2, base.head._3)
    val corpus = (base ++ Seq[(Long, String, String)](
      (9001L, null, s0), (9002L, null, s0), // no shingles: never pairs
      (9003L, "ab", s0), (9004L, "ab", s0), (9005L, "ab", null), // shorter than n
      (9006L, "", s0), (9007L, "", s0), // one empty shingle each
      (9008L, t0, s0), (9009L, t0, null), (9010L, t0, "other"))) // duplicates
      .toDF("doc_id", "text", "source")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = corpus.select($"doc_id", $"source", DedupOps.sortedShingles($"text", 3).as("sh"))
    def truth(sameBlock: Boolean) = rows(sh.as("a").join(sh.as("b"),
        $"a.doc_id" < $"b.doc_id" && (if (sameBlock) $"a.source" === $"b.source" else lit(true)))
      .select($"a.doc_id", $"b.doc_id", DedupOps.jaccard($"a.sh", $"b.sh").as("jac"))
      .filter($"jac" >= 0.6))
    val (global, blocked) = (truth(false), truth(true))
    assert(Seq((9003L, 9004L), (9003L, 9005L), (9006L, 9007L), (9008L, 9010L))
      .forall(p => global.contains((p._1, p._2, 1.0))))
    assert(blocked.contains((9003L, 9004L, 1.0)) && !blocked.exists(_._2 == 9005L))
    assert(!global.exists(p => Set(p._1, p._2).exists(Set(9001L, 9002L))))
    val cap = DedupOps.MaxBitsetUniverse
    val calls = Seq[(String, Set[(Long, Long, Double)], () => DataFrame)](
      ("global bitset", global, () => DedupOps.jaccardPairsGlobal(corpus, "doc_id", "text", 3, 0.6)),
      ("global merge-scan", global, () => DedupOps.jaccardPairsGlobal(corpus, "doc_id", "text",
        3, 0.6, maxBitsetUniverse = 0L)),
      ("blocked bitset, bounded", blocked, () => DedupOps.jaccardPairsBlocked(corpus, "doc_id",
        "text", "source", 3, 0.6, cap, candidatePairBudget = Some(Long.MaxValue))),
      ("blocked bitset, no budget", blocked, () => DedupOps.jaccardPairsBlocked(corpus, "doc_id",
        "text", "source", 3, 0.6, cap, candidatePairBudget = None)),
      ("blocked merge-scan", blocked, () => DedupOps.jaccardPairsBlocked(corpus, "doc_id",
        "text", "source", 3, 0.6, maxBitsetUniverse = 0L)))
    val pinsBefore = sc.getPersistentRDDs.keySet
    val broadcastsBefore = liveBroadcasts(sc)
    for (_ <- 1 to 3; (tier, want, call) <- calls) {
      val got = rows(call())
      assert(got == want, s"$tier: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    }
    // the results are dropped: once the driver collects them, nothing the
    // calls pinned or broadcast may remain
    def leftover = (sc.getPersistentRDDs.keySet -- pinsBefore, liveBroadcasts(sc) -- broadcastsBefore)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (leftover != ((Set.empty, Set.empty)) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(leftover == ((Set.empty, Set.empty)), s"left behind (pins, broadcasts): $leftover")
  }

  test("minhash-LSH tier == join route: rows, estimates and schema on edge-case docs") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val base = docs.limit(60).select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val t0 = base.head._2
    val edge = base.map { case (i, t) => (Option(i), t) } ++ Seq[(Option[Long], String)](
      (None, t0), (None, t0), // null ids never pair
      (Some(9001L), null), (Some(9002L), null), // null texts never pair
      (Some(9003L), "ab"), (Some(9004L), "ab"), // shorter than n
      (Some(9005L), ""), (Some(9006L), ""), // empty texts
      (Some(9007L), t0)) // a copy of the first doc
    val inputs = Seq[(String, DataFrame, Boolean)](
      ("non-null ids", base.toDF("doc_id", "text"), false),
      ("long ids", edge.toDF("doc_id", "text"), false),
      ("string ids", edge.map { case (i, t) => (i.map(v => s"d$v"), t) }.toDF("doc_id", "text"),
        false),
      // one id twice, on equal texts, so the join route's estimate is unique
      ("duplicate ids", (edge :+ ((Some(9007L), t0))).toDF("doc_id", "text"), true))
    // the join route's rows come through a shuffle; the tier's never do
    def shuffles(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
      case _: ShuffleDependency[_, _, _] => true
      case d => shuffles(d.rdd)
    }
    def joined(df: DataFrame) =
      shuffles(df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get)
    for ((name, df, fallback) <- inputs; (k, bands, t) <- Seq((64, 16, 0.5), (60, 7, 0.3))) {
      val tier = DedupOps.minhashLshPairs(df, "doc_id", "text", 3, k, bands, t)
      val join = DedupOps.minhashLshPairsFromSignatures(
        DedupOps.minhashSignatures(df, "doc_id", "text", 3, k), k, bands, t)
      assert(tier.schema == join.schema, s"$name: ${tier.schema} vs ${join.schema}")
      val (got, want) = (tier.collect().toSeq, join.collect().toSeq)
      assert(joined(tier) == fallback, s"$name: the tier ran ${if (fallback) "" else "no "}join")
      assert(got.size == got.toSet.size, s"$name: a pair emitted twice")
      assert(got.toSet == want.toSet, s"$name, k $k, bands $bands: " +
        s"missing ${(want.toSet -- got).take(3)}, extra ${(got.toSet -- want).take(3)}")
      assert(want.nonEmpty, s"$name: no pairs to compare")
    }
  }

  test("minhash-LSH tier: building runs no job, a collect <= 3, no join, pairs on every core") {
    val input = docs.limit(400).select($"doc_id", $"text").cache()
    input.count()
    val width = math.min(spark.sparkContext.defaultParallelism, 400)
    var pairs: org.apache.spark.sql.DataFrame = null
    val built = jobTasksOf { pairs = DedupOps.minhashLshPairs(input, "doc_id", "text") }
    assert(built.isEmpty, s"building the result ran ${built.size} jobs, want 0")
    val jobs = jobTasksOf(pairs.collect())
    // the doc count, the probe and the pair job
    assert(jobs.size <= 3, s"bounded minhash-LSH call + collect: ${jobs.size} jobs " +
      s"(tasks per job ${jobs.mkString(", ")}), want <= 3")
    assert(jobs.last == width, s"pair job ran ${jobs.last} tasks, want $width")
    // no pair row passes through a join, an exchange or an aggregate
    val plan = pairs.queryExecution.executedPlan
    assert(!plan.collect { case p => p.nodeName }.exists(n =>
      Seq("Join", "Exchange", "Aggregate").exists(n.contains)), s"tier result plan:\n$plan")
    input.unpersist()
  }

  test("LSH bands outside 1..k are rejected on every entry point") {
    val df = Seq((1L, "abcdef"), (2L, "abcdeg")).toDF("doc_id", "text")
    val sigs = DedupOps.minhashSignatures(df, "doc_id", "text", 3, 8)
    for (bands <- Seq(-1, 0, 9, 64)) {
      intercept[IllegalArgumentException](
        DedupOps.minhashLshPairs(df, "doc_id", "text", 3, 8, bands, 0.5))
      intercept[IllegalArgumentException](
        DedupOps.minhashLshPairsFromSignatures(sigs, 8, bands, 0.5))
      intercept[IllegalArgumentException](
        DedupOps.minhashLshPairsAgainstSignatures(sigs, sigs, 8, bands, 0.5))
    }
    assert(DedupOps.minhashLshPairs(df, "doc_id", "text", 3, 8, 8, 0.5).count() <= 1)
  }
}
