package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for LLM-data pipelines (SURVEY §2.7 north-star):
  * exact, content-hash, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: exact/hash dedup is one shuffle on the hash key; MinHash
  * signatures and SimHash are per-row expressions (no shuffle); LSH candidate
  * generation past [[BruteForceMaxDocs]] docs shuffles (band_idx,
  * band_hash) — a high-cardinality key that partitions evenly — and never
  * materializes the O(n²) pair space.
  */
object DedupOps {

  // ------------------------------------------------------------- exact
  /** Exact dedup on a column set, deterministic winner per group. */
  def exactDedup(df: DataFrame, cols: Seq[String], tiebreak: Seq[Column]): DataFrame =
    Warehouse.dedupByKey(df, cols, tiebreak)

  /** 256-bit content hash (hex) — dedup key for full-content equality.
    * Hashing first means the wide text column is dropped before the
    * shuffle: at 100 TB you shuffle 32-byte digests, not documents.
    */
  def contentHash(c: Column): Column = sha2(c, 256)

  // ------------------------------------------------------------- shingles
  /** Distinct character n-gram shingles. Strings shorter than n contribute
    * themselves (substring is length-clamped). Native single-pass kernel
    * ([[graft.functions.VectorExpressions.CharShingles]]).
    */
  def shingles(c: Column, n: Int): Column =
    graft.functions.VectorExpressions.charShingles(c, n)

  /** [[shingles]] in binary-sorted order — the required input form for the
    * merge-scan Jaccard kernel
    * ([[graft.functions.VectorExpressions.JaccardSortedGE]]).
    */
  def sortedShingles(c: Column, n: Int): Column =
    graft.functions.VectorExpressions.charShingles(c, n, sorted = true)

  /** Exact n-gram Jaccard similarity of two shingle-set columns:
    * |A ∩ B| / |A ∪ B| as exact int/int double division. Native single-pass
    * hash-set kernel ([[graft.functions.VectorExpressions.JaccardSim]]) —
    * same semantics as `size(array_intersect)/size(array_union)` without
    * materializing either intermediate array.
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.jaccardSim(a, b)

  // ------------------------------------------------------------- MinHash
  /** k-permutation MinHash signature over a shingle array — ONE native
    * expression pass with Kirsch–Mitzenmacher double hashing (2 xxhash64
    * calls per shingle, not k). No shuffle.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.VectorExpressions.minhashSig(shingleCol, k)

  /** Estimated Jaccard from two MinHash signatures: fraction of equal
    * components (native kernel; `k` is implied by signature length).
    */
  def minhashEstimate(sigA: Column, sigB: Column, k: Int): Column =
    graft.functions.VectorExpressions.sigEqFrac(sigA, sigB)

  /** LSH banding: hash each of `bands` contiguous `rowsPerBand`-sized slices
    * of the signature. Docs sharing any band hash are candidates.
    */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      hash(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)

  /** Per-document MinHash signatures as a persistable (id, sig) relation —
    * compute ONCE at ingest, store next to the corpus, and feed
    * [[minhashLshPairsAgainstSignatures]] on every later batch instead of
    * re-shingling the full corpus text per ingest round. A narrow per-row
    * projection; `n`/`k` must match across every relation later joined.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 64): DataFrame =
    ScanSpread.spread(df.select(col(idCol).as("id"), col(textCol).as("__t")),
        col("id"))
      .select(col("id"), minhashSignature(shingles(col("__t"), n), k).as("sig"))

  /** (id, sig) → (id, sig, band, bhash) band explode — the (band, hash)
    * equi-join key both LSH joins shuffle on.
    */
  private def bandExplode(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), col("sig"),
      posexplode(lshBandHashes(col("sig"), bands, k / bands)).as(Seq("band", "bhash")))

  /** MinHash-LSH candidate pairs above an estimated-Jaccard threshold:
    * (id_a, id_b, est_jaccard) with id_a < id_b under the id column's
    * ordering, for every pair sharing a (band, band hash) bucket whose
    * signature estimate is ≥ `threshold`. `bands` must lie in 1..k.
    *
    * Two routes, equal in rows, estimates and schema:
    *  - bounded: non-streaming input of at most [[BruteForceMaxDocs]] rows
    *    runs [[MinhashTier]]: one probe job computes each doc's signature
    *    and band hashes once, the driver broadcasts them in id order, and
    *    one striped job of min(`defaultParallelism`, docs) tasks checks
    *    each bucket pair in the first band its docs share, so no join,
    *    shuffle or distinct runs. The driver holds at most
    *    [[BruteForceMaxDocs]] × (8·k + 4·bands) bytes plus the ids. The
    *    salt confs do not apply there: the stripes already spread a hot
    *    bucket's pairs over the tasks. Two docs with one id send the input
    *    to the join route.
    *  - the join route ([[minhashLshPairsFromSignatures]]) for anything
    *    else: per-row signature + band hashes (narrow) → posexplode to
    *    (band, hash) → self-equi-join on the band key (shuffle partitions
    *    by band hash — uniform; hot buckets salted) → distinct pair ids →
    *    verify with the signature estimate. The quadratic blowup is
    *    confined to rows sharing a band hash, i.e. actual near-dup
    *    clusters.
    *
    * Building the result runs no job on non-streaming input either: the
    * count (one job over the input's splits, each partition reading at
    * most [[BruteForceMaxDocs]] + 1 rows), the probe and the route choice
    * run when the first action over the result needs its rows. That
    * action's answer is a snapshot: later actions on the same DataFrame
    * reuse its route and, on the bounded route, its probed docs, without
    * re-reading the input (the join route reuses its shuffle outputs).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    requireBands(k, bands)
    val sigs = minhashSignatures(df, idCol, textCol, n, k)
    if (df.isStreaming) minhashLshPairsFromSignatures(sigs, k, bands, threshold)
    else MinhashTier.pairs(sigs.select(col("id"), col("sig"),
        lshBandHashes(col("sig"), bands, k / bands).as("bh")), bands, threshold,
        rowsUpTo(df, idCol, BruteForceMaxDocs))(
      minhashLshPairsFromSignatures(sigs, k, bands, threshold))
  }

  /** The input's row count: one job over its own splits, without a
    * spread shuffle or `Dataset.count`'s aggregate exchange.
    */
  private def inputRows(df: DataFrame, idCol: String): Long =
    df.select(col(idCol)).queryExecution.toRdd.count()

  /** The input's row count when it is at most `cap`, else None: the
    * [[inputRows]] job with each partition stopping at cap + 1 rows.
    */
  private def rowsUpTo(df: DataFrame, idCol: String, cap: Long): Option[Long] =
    Some(df.select(col(idCol)).queryExecution.toRdd
      .mapPartitions(rows => Iterator(rows.take(cap.toInt + 1).length.toLong))
      .collect().sum).filter(_ <= cap)

  /** `k / bands` rows per band needs 1 ≤ bands ≤ k: past k every band is
    * an empty slice, one bucket holding every doc.
    */
  private def requireBands(k: Int, bands: Int): Unit =
    require(bands >= 1 && bands <= k, s"LSH bands must lie in 1..k = $k, got $bands")

  /** INCREMENTAL MinHash-LSH: near-dup pairs BETWEEN an existing corpus
    * and a new batch — the daily-crawl shape. Re-running
    * [[minhashLshPairs]] over corpus ∪ batch re-compares corpus × corpus
    * every day, O(C²) work for pairs already known; this emits only the
    * (corpus, batch) cross pairs, so a full ingest round is
    * `minhashLshPairsAgainst(corpus, batch)` + `minhashLshPairs(batch)`
    * — O(C·B + B²) candidate work, and the corpus side never self-joins.
    * The union equivalence (old ∪ cross ∪ batch-internal = pairs of the
    * union, for disjoint id spaces) is spec-proved.
    *
    * Same discipline as the self-join: band equi-join (corpus bands build
    * one side, batch bands probe), verify the signature estimate BEFORE
    * the distinct so only 24-byte survivors shuffle. At steady state the
    * batch side is small — AQE broadcasts it and the corpus's banded rows
    * never move. This overload recomputes signatures from text on both
    * sides; the production loop persists [[minhashSignatures]] once at
    * ingest and calls [[minhashLshPairsAgainstSignatures]], so the corpus
    * text is never re-shingled. Ids must be disjoint across the inputs.
    */
  def minhashLshPairsAgainst(corpus: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, k: Int = 64, bands: Int = 16,
                             threshold: Double = 0.5): DataFrame =
    minhashLshPairsAgainstSignatures(
      minhashSignatures(corpus, idCol, textCol, n, k),
      minhashSignatures(batch, idCol, textCol, n, k),
      k, bands, threshold)

  /** [[minhashLshPairsAgainst]] over PRECOMPUTED (id, sig) relations
    * ([[minhashSignatures]]) — the steady-state ingest shape: the corpus
    * side reads its persisted signature table (a few hundred bytes per
    * document, no text column ever scanned) and only the new batch pays
    * the shingling pass. Both relations must share the signature
    * parameters (`k`, and the shingle `n` at signature time).
    */
  def minhashLshPairsAgainstSignatures(corpusSigs: DataFrame, batchSigs: DataFrame,
                                       k: Int = 64, bands: Int = 16,
                                       threshold: Double = 0.5): DataFrame = {
    requireBands(k, bands)
    val a = bandExplode(corpusSigs, k, bands).alias("a")
    val b = bandExplode(batchSigs, k, bands).alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        minhashEstimate(col("a.sig"), col("b.sig"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "est_jaccard")
  }

  /** [[minhashLshPairs]] over a PRECOMPUTED (id, sig) relation — the
    * batch-internal half of the steady-state ingest round, sharing the
    * batch's one shingling pass with the cross-pairs half.
    */
  def minhashLshPairsFromSignatures(sigs: DataFrame, k: Int = 64, bands: Int = 16,
                                    threshold: Double = 0.5): DataFrame = {
    requireBands(k, bands)
    // Verify BEFORE deduplicating: the estimator is a cheap native kernel,
    // so re-evaluating it once per agreeing band costs less than shuffling
    // both 8·k-byte signatures through dropDuplicates. The surviving rows
    // are (long, long, double) — the dedup shuffle moves 24-byte rows.
    // Hot buckets are salted (see bandedCandidatePairs) so no single task
    // owns a boilerplate cluster's C(m,2) enumeration.
    bandedCandidatePairs(bandExplode(sigs, k, bands), Nil, threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "est_jaccard")
  }

  /** The FULL daily ingest round over a persisted signature table, as one
    * call: read the corpus's stored signatures, emit every near-dup pair
    * the new batch introduces (corpus×batch cross pairs ∪ batch-internal
    * pairs — O(C·B + B²) candidate work, the corpus never self-joins or
    * re-shingles), then append the batch's signatures — IDEMPOTENTLY.
    *
    * Replay safety, both halves:
    * - the append is a first-writer-wins keyed upsert
    *   ([[Warehouse.upsertIntoParquet]] on `id`), so re-running a batch
    *   appends ZERO duplicate signatures;
    * - the corpus side excludes the batch's own ids (anti-join) before
    *   pairing, so a replayed batch — whose signatures are already in the
    *   table — produces exactly the original round's pairs, not
    *   self-matches at est 1.0.
    * Ids must be globally unique per document (the signature table's key).
    */
  def incrementalDedupRound(batch: DataFrame, sigTableDir: String,
                            idCol: String, textCol: String,
                            n: Int = 3, k: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    val batchSigs = minhashSignatures(batch, idCol, textCol, n, k)
    val fs = new org.apache.hadoop.fs.Path(sigTableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = Warehouse.hasDataFiles(fs, new org.apache.hadoop.fs.Path(sigTableDir))
    val internal = minhashLshPairsFromSignatures(batchSigs, k, bands, threshold)
    val pairs =
      if (!exists) internal
      else {
        val corpusOnly = spark.read.parquet(sigTableDir)
          .join(batchSigs.select("id"), Seq("id"), "left_anti")
        minhashLshPairsAgainstSignatures(corpusOnly, batchSigs, k, bands, threshold)
          .unionByName(internal)
      }
    // signatures are a pure function of the text, so same-id collisions
    // carry identical payloads and any deterministic tiebreak works
    Warehouse.upsertIntoParquet(batchSigs, sigTableDir, Seq("id"),
      Seq(org.apache.spark.sql.functions.hash(col("sig"))))
    pairs
  }

  /** Corpus-size cap for [[simhashPairsAuto]]'s single-slice tier: the
    * single-slice scheme's blocking key carries only 64/(d+1) bits, so
    * bucket populations — and the candidate quadratic n²/2^(64/(d+1)) —
    * grow past the combinatorial scheme's explode cost around here
    * (measured: single-slice candidate exponent 1.65/decade at d=8 on
    * the synthetic corpus vs ~1 for Manku blocking).
    */
  val SimhashSingleSliceMaxDocs: Long = 100000L

  /** SimHash near-dup pairs, cost-tiered ([[jaccardPairsGlobal]]
    * discipline): single-slice blocking ([[simhashPairs]]) up to
    * `singleSliceMaxDocs` corpus rows, Manku block-combination keys
    * ([[simhashPairsCombinatorial]], B = d + 3) above. BOTH schemes
    * guarantee full recall by pigeonhole and verify exact Hamming
    * distance, so the tier switch is RESULT-IDENTICAL (spec-pinned) —
    * purely a cost choice: wider keys shrink bucket quadratics at the
    * price of a C(B, B−d) per-row explode. The tier probe is one count()
    * job at construction (SURVEY §2.8).
    */
  def simhashPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       maxDistance: Int = 3,
                       singleSliceMaxDocs: Long = SimhashSingleSliceMaxDocs): DataFrame =
    if (df.count() <= singleSliceMaxDocs)
      simhashPairs(df, idCol, textCol, maxDistance)
    else
      simhashPairsCombinatorial(df, idCol, textCol, maxDistance,
        nBlocks = math.min(64, maxDistance + 3))

  /** SimHash near-dup pairs via Manku-et-al. block COMBINATIONS: split the
    * 64-bit hash into `nBlocks > maxDistance` slices and key on every
    * (nBlocks − maxDistance)-subset's concatenated values. A pair within
    * `maxDistance` differing bits touches at most `maxDistance` slices, so
    * at least one subset matches on BOTH sides in full — recall guaranteed
    * — while each key carries (nBlocks−d)·(64/nBlocks) bits instead of
    * the single-slice scheme's 64/(d+1): e.g. d=8, B=11 keys on ~17 bits
    * vs 7, shrinking bucket collision quadratics by ~2^10 at the price of
    * a C(B, d) per-row explode. Use [[simhashPairs]] when corpora are
    * small or d ≤ 3; this variant when buckets, not rows, dominate.
    */
  def simhashPairsCombinatorial(df: DataFrame, idCol: String, textCol: String,
                                maxDistance: Int, nBlocks: Int): DataFrame = {
    require(maxDistance >= 0 && nBlocks > maxDistance && nBlocks <= 64,
      s"need maxDistance < nBlocks <= 64, got d=$maxDistance B=$nBlocks")
    simhashBlockedPairs(df, idCol, textCol, maxDistance,
      simhashCombKeys(maxDistance, nBlocks))
  }

  /** The Manku scheme's blocking-key expressions over a simhash column
    * named `sh` — one hash per (nBlocks − maxDistance)-subset of the
    * slice set. Shared by [[simhashPairsCombinatorial]] and the
    * ScaleBench candidate-count instrumentation (which must count the
    * EXACT keys the join would shuffle on).
    */
  private[graft] def simhashCombKeys(maxDistance: Int, nBlocks: Int): Seq[Column] = {
    val slices = hashSlices(nBlocks)
    (0 until nBlocks).combinations(nBlocks - maxDistance)
      .map(ss => hash(ss.map(slices): _*)).toSeq
  }

  /** The single-slice scheme's blocking keys over a simhash column named
    * `sh` — the d+1 contiguous slices [[simhashPairs]] joins on. Exposed
    * for the same ScaleBench instrumentation as [[simhashCombKeys]].
    */
  private[graft] def simhashSingleKeys(maxDistance: Int): Seq[Column] = {
    val slices = hashSlices(maxDistance + 1)
    (0 until maxDistance + 1).map(slices)
  }

  // ------------------------------------------------- exact Jaccard pairs
  /** Slack-conservative ceiling for candidate bounds: t·sz in doubles can
    * land one ulp ABOVE the exact rational (0.55·100 → 55.000000000000007,
    * ceil → 56) and drop pairs whose Jaccard equals the threshold exactly.
    * Subtracting 1e-6 makes every bound err on the LOOSE side only — safe,
    * because final verification is exact.
    */
  private def ceilSafe(c: Column): Column = ceil(c - lit(1e-6))

  /** Per-doc token-id bitsets (`keyCols`, `sz`, `bits`) for the blocked
    * bitset tier, over the broadcast binary-sorted dictionary `dict`
    * (≤ [[MaxBitsetUniverse]] tokens): one narrow native projection
    * ([[graft.functions.VectorExpressions.ShinglesToBitset]]) that binary-
    * searches each shingle, so the relation keeps `docs`' partitioning —
    * no explode, join or shuffle. A doc whose shingle array is null or
    * empty has no token to pair on and is dropped.
    */
  private def attachBitsets(docs: DataFrame, keyCols: Seq[String],
                            dict: Broadcast[Array[UTF8String]]): DataFrame =
    docs.filter(size(col("sh")) > 0)
      .select(keyCols.map(col) :+ size(col("sh")).as("sz") :+ graft.functions
        .VectorExpressions.shinglesToBitset(col("sh"), dict).as("bits"): _*)

  /** GLOBAL exact Jaccard similarity join — every pair with J ≥ threshold
    * across the whole corpus, NO blocking column. Tiers ([[JaccardPlan]]):
    *  - bitset: ≤ `bruteMaxDocs` docs whose token universe fits
    *    `maxBitsetUniverse` brute-force all pairs over per-doc bitsets
    *    ([[BitsetTier]]): after the doc count, one probe pass (no shuffle,
    *    no pin) returns each partition's token dictionary and its docs'
    *    token ids, which the driver merges into the universe and the
    *    bitsets; one job of min(cores, docs) tasks then checks every pair
    *    in the size band with popcount(a AND b);
    *  - prefix: the AllPairs/PPJoin prefix filter. Under any canonical
    *    token order, sets with J ≥ t share a token in their first
    *    |X| − ⌈t·|X|⌉ + 1 tokens (given the size filter t·|A| ≤ |B| ≤
    *    |A|/t), so the prefix-token equi-join is a candidate superset,
    *    verified by the sorted merge-scan kernel. Tokens go RAREST-FIRST
    *    by document frequency. Pruning scales with universe diversity:
    *    ~73% of pairs on a 377-gram corpus, far more on Zipfian text;
    *  - escalated: sampled prefix-join total over `candidatePairBudget`.
    *
    * What the result holds until Spark's ContextCleaner drops it with the
    * plan: bitset — one broadcast of the size-sorted bitsets and no pin;
    * prefix — nothing; escalated — the DISK_ONLY raw-text pin with one
    * band chunk, else one DISK_ONLY pin of verified pairs per chunk.
    */
  def jaccardPairsGlobal(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.6,
                         bruteMaxDocs: Long = BruteForceMaxDocs,
                         maxBitsetUniverse: Long = MaxBitsetUniverse,
                         candidatePairBudget: Option[Long] = None): DataFrame =
    jaccardPairs(df, idCol, textCol, None, n, threshold, bruteMaxDocs,
      maxBitsetUniverse, candidatePairBudget)

  /** Exact Jaccard pairs WITHIN a blocking column — corpora with a natural
    * partition key (source, shard, cluster id). Null keys never pair.
    * Tiers ([[JaccardPlan]]): the block equi-join verified by dense-id
    * bitsets when the token universe fits `maxBitsetUniverse` (one capped
    * distinct dictionary pass, over a pin of the docs when a budget counts
    * them ≤ 10k, and a narrow native projection to bitsets; the pin is not
    * spread), by the sorted merge-scan
    * kernel otherwise; within-block MinHash-LSH when the exact pair total
    * Σ C(n_blk, 2) exceeds `candidatePairBudget`.
    *
    * Pins the result holds until Spark's ContextCleaner drops it with the
    * plan: bitset — one localCheckpoint of (id, blk, sz, bits);
    * merge-scan — none; escalated — as in [[jaccardPairsGlobal]].
    */
  def jaccardPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, n: Int = 3,
                          threshold: Double = 0.6,
                          maxBitsetUniverse: Long = MaxBitsetUniverse,
                          candidatePairBudget: Option[Long] = None): DataFrame =
    jaccardPairs(df, idCol, textCol, Some(blockCol), n, threshold,
      BruteForceMaxDocs, maxBitsetUniverse, candidatePairBudget)

  /** The Jaccard tier decision, a pure function of measured stats. They
    * arrive by name and are read at most once, so a probe job runs only
    * when the decision needs its answer.
    *
    * The budget bounds the evaluated-pair total it was measured for.
    * Within blocks that is the exact Σ C(n_blk, 2), the cost of BOTH exact
    * tiers, so it is checked first; globally it is the sampled prefix-join
    * total, checked once the bitset tier (N² bounded by `bruteMaxDocs`) is
    * ruled out. Over budget, candidates come from MinHash-LSH bands — a
    * band key hashes r minhashes of the WHOLE set, so docs sharing one hot
    * token no longer collide — and verification stays exact. A pair at J
    * = t is found w.p. ≥ 1 − (1 − t^r)^bands − 0.0013 (the est-filter's 3σ
    * tail; `margin` is that floor, σ = sqrt(t(1−t)/k)), higher above t.
    */
  private[graft] object JaccardPlan {
    sealed trait Tier
    case object Bitset extends Tier
    /** Sorted merge-scan verify, within blocks or behind the prefix join. */
    case object MergeScan extends Tier
    final case class Escalated(report: CapReport, margin: Double) extends Tier

    def choose(blocked: Boolean, docs: => Option[Long], pairTotal: => Long,
               universe: => Long, budget: Option[Long], budgetSource: String,
               bruteMaxDocs: Long, maxBitsetUniverse: Long, threshold: Double,
               lshShape: => (Int, Int)): Tier = {
      lazy val total = pairTotal
      lazy val over = budget.exists(total > _)
      def escalated = {
        val (bands, r) = lshShape
        val k = bands * r
        val bound = 1.0 - math.pow(1.0 - math.pow(threshold, r), bands) - 0.0013
        Escalated(CapReport(total, budget.get, bands, r, bound, budgetSource),
          math.max(0.0, threshold -
            3.0 * math.sqrt(threshold * (1 - threshold) / k) - 1.0 / k))
      }
      if (blocked && over) escalated
      else if ((blocked || docs.exists(_ <= bruteMaxDocs)) &&
          universe <= maxBitsetUniverse) Bitset
      else if (over) escalated
      else MergeScan
    }
  }

  /** The planner behind both entry points: measure what
    * [[JaccardPlan.choose]] reads, then build the chosen tier over all docs
    * (`blockCol` None) or within blocks (an equi-join on `blk`).
    *
    * On bounded global input the universe comes from the bitset tier's
    * probe pass ([[BitsetTier.probe]]), whose answer the tier then reuses;
    * no pin is taken. It pins only what the returned plan reads, and the
    * result of the global bitset tier holds one broadcast, no pin.
    * Construction-only state of the blocked route — the dictionary
    * broadcast, and the bounded pin taken when a budget counts ≤
    * `bruteMaxDocs` docs so the universe probe and the bitset attachment
    * share one scan + shingle pass — is released before return; a tier
    * that falls through re-reads the unpinned input.
    */
  private def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           blockCol: Option[String], n: Int, threshold: Double,
                           bruteMaxDocs: Long, maxBitsetUniverse: Long,
                           candidatePairBudget: Option[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blk = blockCol.map(_ => "blk")
    val keyNames = "id" +: blk.toSeq
    val keys = keyNames.map(col)
    def project(text: String) = df.select(col(idCol).as("id") +:
      blockCol.toSeq.map(c => col(c).as("blk")) :+ col(textCol).as(text): _*)
    val spread = ScanSpread.spread(project("__t"), col("id"))
    val docs = spread.select(keys :+ sortedShingles(col("__t"), n).as("sh"): _*)
    // null-keyed rows never satisfy `a.blk === b.blk`
    val joinable = blk.fold(docs)(b => docs.filter(col(b).isNotNull))
    val (budget, budgetSource) = resolveCandidateBudget(spark, candidatePairBudget)

    val scratch = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def construction(pin: DataFrame): DataFrame = { scratch += (() => release(pin)); pin }
    // (per-block all-pairs total, joinable docs): one exact aggregate
    lazy val blockHist = joinable.groupBy("blk").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") * (col("c") - lit(1)) / 2).cast("long")), lit(0L)),
        coalesce(sum(col("c")), lit(0L)))
      .as[(Long, Long)].first()
    lazy val nDocs: Option[Long] =
      if (blk.isEmpty) Some(inputRows(df, idCol))
      else budget.map(_ => blockHist._2)
    lazy val bounded = nDocs.exists(_ <= bruteMaxDocs)
    val cap = math.min(math.max(maxBitsetUniverse, 0L), Int.MaxValue - 1L).toInt
    // bounded global input: ONE probe pass is the universe the decision
    // reads, the dictionary, and every doc's token ids (BitsetTier). The
    // probe needs no shingle order, so it skips the sort
    lazy val probe = BitsetTier.probe(
      spread.select(col("id"), shingles(col("__t"), n).as("sh")), cap)
    // blocked input: the docs, pinned when counted bounded, and ONE
    // distinct pass capped at cap + 1 tokens, both the universe (its
    // length; cap + 1 means "over the cap") and the dictionary
    lazy val exactIn =
      if (bounded) construction(joinable.localCheckpoint()) else joinable
    lazy val capped = exactIn.select(explode(col("sh"))).distinct()
      .limit(cap + 1).as[String].collect()
    def universe: Long =
      if (blk.isEmpty && bounded) probe.universe
      else if (bounded) capped.length
      else {
        // unbounded input: a 1000-doc sample's universe is a lower bound, so
        // when even it overflows the cap the full distinct pass is skipped
        val lower = exactIn.limit(1000).select(explode(col("sh"))).distinct().count()
        if (lower > maxBitsetUniverse) lower else capped.length
      }
    lazy val prefix = prefixRelation(docs, threshold)
    def sampledPrefixTotal: Long = {
      // Σ_tok C(prefix-df(tok), 2) over a deterministic xxhash64(id) sample
      // of ~5 000 docs, scaled by 1/p² (unbiased; exact when the sample is
      // the corpus). Hot tokens dominate the sum: measured 211.3e9 sampled
      // vs 213.6e9 exact at 500k docs, 1-in-100
      val invP = math.max(1L, nDocs.get / 5000L)
      val sample = if (invP == 1L) prefix
        else prefix.filter(pmod(xxhash64(col("id")), lit(invP)) === 0)
      val hist = sample.groupBy("tok").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1))).as[(Long, Long)].collect()
      (hist.iterator.map { case (c, m) => m * (c * (c - 1) / 2.0) }.sum *
        invP * invP).toLong
    }
    // both blocked exact tiers reject by size band first: J ≥ t needs
    // b.sz ≥ ⌈a.sz·t⌉ and symmetrically, precomputed per ROW as `lo`
    def blockPairs(sides: DataFrame, jac: Column): DataFrame = {
      val banded = sides.withColumn("lo", ceilSafe(col("sz") * threshold).cast("long"))
      banded.as("a").join(banded.as("b"), col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id") &&
          col("b.sz") >= col("a.lo") && col("a.sz") >= col("b.lo"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), jac.as("jac"))
        .filter(col("jac") >= threshold)
    }

    try {
      val tier = JaccardPlan.choose(blk.nonEmpty, nDocs,
        blk.fold(sampledPrefixTotal)(_ => blockHist._1), universe, budget,
        budgetSource, bruteMaxDocs, maxBitsetUniverse, threshold,
        resolveLshShape(threshold))
      lastCapReport = tier match {
        case JaccardPlan.Escalated(rep, margin) =>
          System.err.println(s"[graft] jaccardPairs${blk.fold("Global")(_ => "Blocked")}: " +
            s"the exact tier would evaluate ${rep.candidatesBefore} candidate " +
            s"pairs (budget ${rep.budget} from ${rep.source}) — escalating the " +
            s"candidate generator to MinHash-LSH (${rep.bands} bands x " +
            f"${rep.rowsPerBand} rows, est-filter margin $margin%.3f); " +
            "verification stays exact (precision 1.0), per-pair recall at " +
            f"J=$threshold >= ${rep.recallBoundAtThreshold}%.6f and higher above it")
          Some(rep)
        case _ => None
      }
      tier match {
        case JaccardPlan.Bitset if blk.isEmpty =>
          BitsetTier.pairs(spark, probe, docs.schema("id"), threshold, nDocs.get)
        case JaccardPlan.Bitset =>
          val dict = spark.sparkContext.broadcast(
            capped.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0))
          scratch += (() => dict.destroy())
          // materialized, so both join sides read one attach pass; the
          // equi-join shuffles on `blk`
          blockPairs(attachBitsets(exactIn, keyNames, dict).localCheckpoint(),
            graft.functions.VectorExpressions.bitsetJaccard(col("a.bits"), col("b.bits")))
        case JaccardPlan.MergeScan if blk.nonEmpty =>
          blockPairs(joinable.withColumn("sz", size(col("sh"))),
            graft.functions.VectorExpressions
              .jaccardSortedGE(col("a.sh"), col("b.sh"), threshold))
        case JaccardPlan.MergeScan =>
          prefixPairs(docs, prefix, threshold)
        case JaccardPlan.Escalated(rep, margin) =>
          // RAW text, not shingle arrays (see verifyJaccardRaw), on disk
          // (see escalatedLshPairs)
          val raw = project("txt").localCheckpoint(eager = true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val sigs = raw.select(keys :+ minhashSignature(sortedShingles(col("txt"), n),
            rep.bands * rep.rowsPerBand).as("sig"): _*)
          val pairs = escalatedLshPairs(sigs, rep.bands, rep.rowsPerBand, margin,
            blk, verifyJaccardRaw(raw, n, threshold))
          // with band chunks every verified chunk is materialized, and
          // only the single-chunk plan still reads the raw pin
          if (resolveBandChunks(spark, rep.bands) > 1) construction(raw)
          pairs
      }
    } finally scratch.foreach(_())
  }

  /** Drop a construction-time pin. `Dataset.unpersist` reaches only the
    * CacheManager; a localCheckpoint's blocks belong to its RDD.
    */
  private def release(pin: DataFrame): Unit = pin.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => pin.unpersist()
  }

  /** PPJoin prefix rows (id, sz, pos, tok, lo) of an (id, sh) relation:
    * tokens rarest-first by global document frequency (one aggregation,
    * broadcast back), prefix length sz − ⌈t·sz⌉ + 1.
    */
  private def prefixRelation(docs: DataFrame, threshold: Double): DataFrame = {
    val tokens = docs.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    val tokDf = tokens.groupBy("tok").agg(count(lit(1)).as("tdf"))
    tokens.join(broadcast(tokDf), "tok")
      .groupBy("id", "sz")
      .agg(array_sort(collect_list(struct(col("tdf"), col("tok")))).as("ordered"))
      .select(col("id"), col("sz"),
        posexplode(slice(col("ordered"), lit(1),
          (col("sz") - ceilSafe(col("sz") * threshold) + 1).cast("int")))
          .as(Seq("pos", "p")))
      .select(col("id"), col("sz"), col("pos"), col("p.tok").as("tok"),
        ceilSafe(col("sz") * threshold).cast("long").as("lo"))
  }

  /** The prefix tier's pairs: the prefix equi-join, size-band and
    * PPJoin-positional filtered (a true pair's FIRST shared token bounds
    * its overlap by the suffix sizes from the match, sz − pos, which must
    * reach ⌈t/(1+t)·(|A|+|B|)⌉), then the merge-scan verify against the
    * (id, sh) `docs`. Distinct BEFORE verification (measured both ways):
    * candidates repeat per shared prefix token and a row is 16 bytes of
    * ids, so deduplicating first halves the verifications.
    */
  private def prefixPairs(docs: DataFrame, prefix: DataFrame,
                          threshold: Double): DataFrame = {
    val minOverlap = ceilSafe((col("a.sz") + col("b.sz")) * (threshold / (1 + threshold)))
    prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("b.sz") >= col("a.lo") && col("a.sz") >= col("b.lo") &&
          (least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))
            >= minOverlap))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), graft.functions.VectorExpressions
        .jaccardSortedGE(col("sh_a"), col("sh_b"), threshold).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** How the candidate budget bound on the LAST Jaccard pair plan built
    * on this driver — the "no silent caps" probe (specs assert it; the
    * planner also logs one stderr line). None when the budget was absent
    * or did not bind.
    */
  @volatile var lastCapReport: Option[CapReport] = None

  /** `source` names where the binding budget came from — the session conf
    * or the caller's argument — so an escalation in the no-silent-caps
    * probe is attributable without a rebuild-time diff.
    */
  final case class CapReport(candidatesBefore: Long, budget: Long,
                             bands: Int, rowsPerBand: Int,
                             recallBoundAtThreshold: Double,
                             source: String = "arg")

  /** Session conf that overrides the caller's `candidatePairBudget`
    * argument on both Jaccard pair paths — a long, or `none`/`off` to
    * disable the budget entirely. Operators tune the exact↔LSH tradeoff
    * per session instead of rebuilding the jar.
    */
  val CandidateBudgetConf = "spark.graft.dedup.candidatePairBudget"

  /** Band-group chunking for the budget-ESCALATED candidate joins:
    * `auto` (default, ~4 bands per chunk) | an int chunk count | `1` to
    * disable. Chunks run SEQUENTIALLY, so the concurrent working set of
    * the banded self-join + pair distinct divides by the chunk count.
    * Output equals unchunked (spec-pinned; see [[escalatedLshPairs]]).
    */
  val LshBandChunksConf = "spark.graft.dedup.lsh.bandChunks"

  private[graft] def resolveBandChunks(spark: SparkSession, bands: Int): Int = {
    val n = spark.conf.getOption(LshBandChunksConf).map(_.trim)
        .filterNot(v => v.isEmpty || v.equalsIgnoreCase("auto")) match {
      case Some(v) => v.toInt
      case None => (bands + 3) / 4 // ~4 bands per chunk
    }
    require(n >= 1, s"$LshBandChunksConf must be >= 1, got $n")
    math.min(n, bands)
  }

  /** Hot-bucket salt threshold for the banded SELF-joins: a (band,
    * bhash) bucket with more than this many members splits into
    * ~this-many-member sub-groups before the join (see
    * [[bandedCandidatePairs]]). `off`/`0` disables salting. Default
    * 8192: C(8192,2) ≈ 3.4e7 estimator evaluations per join cell, a
    * few seconds of one task — the straggler ceiling. Below the
    * threshold nothing changes shape, so organically-bucketed corpora
    * never pay the histogram broadcast's explode.
    */
  val SaltBucketRowsConf = "spark.graft.dedup.lsh.saltBucketRows"

  private[graft] def resolveSaltBucketRows(spark: SparkSession): Option[Long] =
    spark.conf.getOption(SaltBucketRowsConf).map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("off") || v == "0" => None
      case Some(v) =>
        val s = v.toLong
        require(s >= 2, s"$SaltBucketRowsConf must be >= 2 (or off/0), got $s")
        Some(s)
      case None => Some(8192L)
    }

  /** Catalyst-stats gate for the hot-bucket probe (bytes): corpora whose
    * banded relation estimates below this never pay the probe's
    * histogram job. Calibrated against the shipped fixtures' optimized
    * stats (sf0.1 ≈ 170 KB, 50k docs ≈ 2 MB, 500k docs ≈ 24 MB): the
    * default 8 MB engages from ~200k docs — below that the naive join's
    * worst case is seconds, above it an unprobed hot bucket is the
    * difference between 258 s and 1165 s (measured, 500k docs). `0`
    * probes always (the spec hook).
    */
  val SaltProbeMinBytesConf = "spark.graft.dedup.lsh.saltProbeMinBytes"

  /** Every unordered candidate pair the banded buckets admit, with the
    * pair's signature estimate, floor-filtered: the single-task-safe
    * replacement for the naive banded self-join
    * `banded.as("a").join(banded.as("b"), keys && a.id < b.id)`.
    *
    * The naive join's weakness at scale is the HOT bucket: every pair of
    * a bucket's m members enumerates inside ONE task (the bucket's key
    * lands in one shuffle partition — AQE's skew split cannot divide a
    * single key group's C(m,2) pair space), so one boilerplate cluster
    * of 10⁵ near-identical docs pins a core for hours while 31 idle.
    * Measured on the 5M-doc decade: a 680 s straggler inside the
    * estimator with the other 31 threads parked.
    *
    * Fix, in three stages so cold corpora pay nothing:
    *  1. GATE — skip everything when the banded relation's Catalyst
    *     size estimate is under [[SaltProbeMinBytesConf]] (suite-scale
    *     corpora keep the exact pre-salting plan, zero overhead).
    *  2. PROBE — one eager histogram job collects the buckets over
    *     [[SaltBucketRowsConf]] members (bounded: ≤ rows/S of them).
    *     Same eager-at-construction discipline as the candidate-budget
    *     probe. No hot buckets → the naive plan again; the probe job
    *     was the only cost.
    *  3. SALT — the driver-built hot list (tiny) broadcast-joins onto
    *     the banded rows (the in-plan histogram alternative would
    *     recompute the full signature pass per join side — measured 3×
    *     on a hot-free corpus). Hot members get a deterministic sub-id
    *     u = hash(id) mod g (g ≈ m/S) and the join runs per sub-group
    *     PAIR — the triangle cover: the left side replicates a member
    *     under cells (p=u, q=u..g−1), the right side under (p=0..u,
    *     q=u), so an unordered pair with sub-ids (u₁ ≤ u₂) meets in
    *     EXACTLY the (u₁, u₂) cell and each cell's ≈S×S pair space is
    *     its own shuffle key. Cold buckets keep g=1 (a single (0,0)
    *     cell — no replication). Pairs are canonicalized
    *     least/greatest since a p<q cell sees them in hash order, and
    *     the per-cell `p==q ⇒ id<id` guard dedups within-cell mirrors.
    *
    * Same admitted pair set, same estimates on every route
    * (spec-pinned salted == unsalted); the estimator floor applies
    * with the early-exit kernel
    * ([[graft.functions.VecKernels.sigEqFracGE]]). Measured at 500k
    * docs, 16×4 banding, t=0.5 (190.5M true pairs): naive 1165 s,
    * salted 258 s — the hot cells spread instead of straggling.
    */
  private def bandedCandidatePairs(banded: DataFrame,
      extraKeys: Seq[String], estFloor: Double): DataFrame = {
    val spark = banded.sparkSession
    val keyNames = extraKeys ++ Seq("band", "bhash")
    val keys = keyNames.map(col)
    def pairsOf(a: DataFrame, b: DataFrame, cellKeys: Seq[String],
                extraCond: Column): DataFrame =
      a.as("a").join(b.as("b"),
          cellKeys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
            extraCond)
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"),
          graft.functions.VectorExpressions.sigEqFracGE(
            col("a.sig"), col("b.sig"), estFloor).as("est_jaccard"))
        .filter(col("est_jaccard") >= estFloor)
    // salting off / gated / hot-free: the naive self-join (id order IS
    // the canonical order, so least/greatest in pairsOf is a no-op)
    def naive = pairsOf(banded, banded, keyNames, col("a.id") < col("b.id"))
    resolveSaltBucketRows(spark) match {
      case None => naive
      case Some(s) =>
        val minBytes = spark.conf.getOption(SaltProbeMinBytesConf)
          .map(_.trim.toLong).getOrElse(8L << 20)
        if (banded.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes)
          return naive
        val hotRows = banded.groupBy(keys: _*).count()
          .filter(col("count") > s).collect()
        if (hotRows.isEmpty) return naive
        val gs = hotRows.map(r =>
          math.ceil(r.getLong(keyNames.length).toDouble / s).toInt)
        System.err.println(s"[graft] bandedCandidatePairs: salting ${hotRows.length} " +
          s"hot bucket(s) over $s rows (max sub-groups ${gs.max}) — " +
          "triangle-cover cells replace single-task enumeration")
        val keySchema = org.apache.spark.sql.types.StructType(
          banded.select(keys: _*).schema.fields :+
            org.apache.spark.sql.types.StructField("__g",
              org.apache.spark.sql.types.IntegerType, nullable = false))
        val hotLocal = hotRows.toSeq.zip(gs).map { case (r, g) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq.init :+ g)
        }
        import scala.jdk.CollectionConverters._
        val hot = spark.createDataFrame(hotLocal.asJava, keySchema)
        val withU = banded.join(broadcast(hot), keyNames, "left")
          .withColumn("__g", coalesce(col("__g"), lit(1)))
          .withColumn("__u", pmod(xxhash64(col("id")), col("__g")).cast("int"))
        val aSide = withU.withColumn("__p", col("__u"))
          .withColumn("__q", explode(sequence(col("__u"), col("__g") - 1)))
        val bSide = withU.withColumn("__q", col("__u"))
          .withColumn("__p", explode(sequence(lit(0), col("__u"))))
        pairsOf(aSide, bSide, keyNames ++ Seq("__p", "__q"),
          col("a.__p") < col("a.__q") || col("a.id") < col("b.id"))
    }
  }

  /** The escalated tier's verification from RAW text: `base` carries
    * (id, txt) and the shingles are recomputed INSIDE the verify
    * projection (same kernel — identical jac). Shingle arrays are ~10× the
    * raw text, and the verify joins shuffle base rows per candidate: at
    * the 5M-doc decade a shingle-pinned variant exhausted local disk,
    * while shingling twice per candidate is codegen-cheap.
    */
  private def verifyJaccardRaw(base: DataFrame, n: Int, threshold: Double)
                              (cands: DataFrame): DataFrame =
    cands
      .join(base.select(col("id").as("id_a"), col("txt").as("t_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("txt").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.jaccardSortedGE(
          sortedShingles(col("t_a"), n), sortedShingles(col("t_b"), n),
          threshold).as("jac"))
      .filter(col("jac") >= threshold)

  /** Banded explode over minhash signatures for bands [lo, hi): one row
    * per (id, band) with `bhash` = hash of the band's signature slice,
    * seeded by the TRUE band index — so a chunk's (band, bhash) keys are
    * exactly the unchunked keys restricted to its bands.
    */
  private def bandedExplode(src: DataFrame, r: Int, lo: Int, hi: Int,
                            extraCols: Seq[String] = Nil): DataFrame = {
    val keep = Seq(col("id"), col("sig")) ++ extraCols.map(col)
    src.select(keep :+ posexplode(array((lo until hi).map(bd =>
        hash(slice(col("sig"), bd * r + 1, r), lit(bd))): _*))
      .as(Seq("band", "bhash")): _*)
  }

  /** The escalated Jaccard tier: the banded self-join (within `blk` when
    * set) + per-chunk EXACT verification, band-chunked per
    * [[LshBandChunksConf]]. Two measured 100× pathologies motivate the
    * chunking, and both divide by the chunk count:
    *  - the unchunked banded join's per-task working set (hot-band
    *    bucket pairs streaming through the candidate distinct) was the
    *    per-suite MEMORY floor (executor OOM at 20 g);
    *  - the verification join shuffles each candidate's text, so
    *    verifying the full candidate set in one job was the per-suite
    *    DISK floor (spill exhaustion at the recall-raising 20×3 shape).
    * Each chunk is verified and materialized (eager localCheckpoint =
    * the sequencing point) before the next starts, so the concurrent
    * working set — heap AND spill — is one chunk's; verified pairs are
    * tiny. Output equals the unchunked pair set (spec-pinned).
    */
  private def escalatedLshPairs(sigs: DataFrame, bands: Int, r: Int,
                                margin: Double, blk: Option[String],
                                verify: DataFrame => DataFrame): DataFrame = {
    val nChunks = resolveBandChunks(sigs.sparkSession, bands)
    // hot-bucket-salted banded self-join (see bandedCandidatePairs): a
    // boilerplate cluster's bucket must not pin one task on C(m,2)
    // estimator evaluations while the rest of the executor idles
    def candsOf(src: DataFrame, lo: Int, hi: Int): DataFrame =
      bandedCandidatePairs(bandedExplode(src, r, lo, hi, blk.toSeq), blk.toSeq, margin)
        .select(col("id_a"), col("id_b"))
        .distinct()
    // DISK_ONLY scratch: the escalated tier runs on exactly the corpora
    // big enough to trip the budget — its pins must not compete for
    // executor heap with its own sorts (each is read ≤ 2× per chunk)
    val scratch = org.apache.spark.storage.StorageLevel.DISK_ONLY
    if (nChunks <= 1) verify(candsOf(sigs, 0, bands))
    else {
      // signatures materialized ONCE (narrow: id + k longs); each chunk
      // re-explodes only ITS bands from the pinned relation
      val pinned = sigs.localCheckpoint(eager = true, scratch)
      val bounds = (0 to nChunks).map(i => i * bands / nChunks)
      // every candidate verifies EXACTLY once across chunks: chunk i
      // anti-joins its candidates against all earlier chunks' (a skinny
      // 16-byte-row join) before paying the wide verification — without
      // this a high-J pair colliding in every band would verify once
      // per chunk (measured 14× wall blowup at 100×)
      var seen: DataFrame = null
      val pins = scala.collection.mutable.ArrayBuffer(pinned)
      val out = (0 until nChunks).map { i =>
        val c = candsOf(pinned, bounds(i), bounds(i + 1))
        val fresh = (if (seen == null) c
                     else c.join(seen, Seq("id_a", "id_b"), "left_anti"))
          .localCheckpoint(eager = true, scratch)
        pins += fresh
        seen = if (seen == null) fresh else seen.unionByName(fresh)
        val v = verify(fresh).localCheckpoint(eager = true, scratch)
        // reap chunk i's shuffle files BEFORE chunk i+1 writes its own:
        // the checkpoint above dropped the last references to this
        // chunk's shuffle dependencies, but the ContextCleaner only
        // deletes the files after a driver GC notices — left to the
        // default periodic GC, nChunks × tens-of-GB of dead shuffle
        // accumulates and exhausts local disk at the 5M-doc decade
        System.gc()
        v
      }.reduce(_ unionByName _)
      // fresh sets are disjoint by construction — the union IS the
      // verified pair set of the unchunked run. The signature and fresh
      // pins fed only the materialized chunks: release them now
      pins.foreach(release)
      out
    }
  }

  /** (effective budget, source label): conf beats argument. */
  private[graft] def resolveCandidateBudget(spark: SparkSession,
      arg: Option[Long]): (Option[Long], String) =
    spark.conf.getOption(CandidateBudgetConf) match {
      case Some(v) if v.equalsIgnoreCase("none") || v.equalsIgnoreCase("off") =>
        (None, s"conf:$CandidateBudgetConf=$v")
      case Some(v) => (Some(v.trim.toLong), s"conf:$CandidateBudgetConf")
      case None => (arg, "arg")
    }

  /** The escalated tiers' (bands, rowsPerBand), THRESHOLD-ADAPTIVE: pick
    * the LARGEST r (steepest S-curve — at equal recall, larger r admits
    * strictly fewer sub-threshold collisions) whose minimal band count
    * `b_min = ⌈ln(1−target−tail)/ln(1−t^r)⌉` keeps the signature
    * budget k = r·b ≤ 128 minhashes; bands never drop below the k=60
    * divisor default ⌊60/r⌋, so high thresholds keep their sharper
    * established shapes. The target is an at-threshold recall of 0.9
    * (band-collision bound `1-(1-t^r)^b` minus the est-filter tail):
    * t=0.8 → 12×5 (k=60, bound 0.990 — the classic shape, unchanged);
    * t=0.6 → 17×4 (k=68, bound 0.904) — where 12×5 bounds only 0.62
    * and loses a third of true pairs; t=0.5 → 20×3 (k=60, bound
    * 0.930). Sub-threshold noise beyond the bands is held by the
    * in-join est filter, which margins on the FULL k-minhash signature.
    */
  private[graft] def resolveLshShape(threshold: Double): (Int, Int) = {
    val targetRecall = 0.9
    val estTail = 0.0013
    val need = targetRecall + estTail
    (5 to 1 by -1).iterator.map { r =>
      val tr = math.pow(threshold, r)
      val bMin =
        if (tr >= 1.0) 1
        else math.max(1, math.ceil(
          math.log(1.0 - need) / math.log(1.0 - tr)).toInt)
      (math.max(bMin, 60 / r), r)
    }.find { case (bands, r) => bands.toLong * r <= 128 } // Int would wrap at low t
      .getOrElse((60, 1)) // r=1 maximizes the bound; take it even short
  }

  /** Token-universe cap for the bitset verification path: ⌈U/64⌉ longs per
    * doc (32768 → 4 KB) — past that, per-doc bitsets cost more to shuffle
    * than they save in verification, and the diverse universe makes string
    * prefixes selective anyway.
    */
  val MaxBitsetUniverse: Long = 32768L

  /** Corpus-size cap for the brute-force tier of [[jaccardPairsGlobal]]:
    * 10k docs → ≤50M size-band checks, mostly rejected before any popcount
    * — cheaper than the prefix join's explode/shuffle/distinct pipeline.
    * Past this, quadratic growth loses to the prefix filter no matter how
    * cheap the per-pair verify is. [[minhashLshPairs]] takes its driver
    * tier ([[MinhashTier]]) up to the same count.
    */
  val BruteForceMaxDocs: Long = 10000L

  // ------------------------------------------------------------- SimHash
  /** 64-bit SimHash over a token array: per-token xxhash64 (seed 42, same
    * as Spark's builtin), per-bit ±1 votes, sign → bit — one native
    * expression pass ([[graft.functions.VectorExpressions.SimHash64]]).
    */
  def simhash(tokensCol: Column): Column =
    graft.functions.VectorExpressions.simhash64(tokensCol)

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on `maxDistance + 1` contiguous bit
    * slices of the 64-bit hash — a pair differing in ≤ `maxDistance` bits
    * can touch at most `maxDistance` slices, so at least one slice matches
    * exactly (pigeonhole), guaranteeing full recall. Then verify exact
    * Hamming distance. Same shuffle discipline as MinHash-LSH.
    *
    * Scale note: slice width is 64/(d+1) bits, so the blocking key has
    * ~2^(64/(d+1)) distinct values — for large d on a billion-doc corpus
    * the buckets grow quadratic-costly, and the Manku-et-al. scheme
    * (block on (B−d)-subsets of B>d+1 slices) trades explode factor
    * C(B,d) for narrower buckets. At d ≤ 8 single-slice blocking holds.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 32,
      s"maxDistance must be in [0, 32), got $maxDistance")
    val slices = hashSlices(maxDistance + 1)
    simhashBlockedPairs(df, idCol, textCol, maxDistance,
      (0 until maxDistance + 1).map(slices))
  }

  /** `nBlocks` contiguous bit slices of the `sh` column, widths balanced
    * (the first 64 % nBlocks slices one bit wider).
    */
  private def hashSlices(nBlocks: Int): Int => Column = {
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    // JVM shifts mask the count mod 64, so a full-width slice (d=0 →
    // one 64-bit block) needs an explicit all-ones mask: (1L<<64)-1 is 0
    def sliceMask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1
    q => shiftrightunsigned(col("sh"), starts(q))
      .bitwiseAND(lit(sliceMask(widths(q))))
  }

  /** Shared candidate-generation tail for both simhash blocking schemes:
    * per-row `keys` explode → self-equi-join on (key index, key value) →
    * exact hamming verify BEFORE dedup (same shuffle discipline as
    * minhashLshPairs: only surviving 20-byte rows reach dropDuplicates).
    */
  private def simhashBlockedPairs(df: DataFrame, idCol: String, textCol: String,
                                  maxDistance: Int, keys: Seq[Column]): DataFrame = {
    val withHash = ScanSpread.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), simhash(TextOps.tokens(col("__t"))).as("sh"))
    val blocked = withHash.select(col("id"), col("sh"),
      posexplode(array(keys: _*)).as(Seq("q", "block")))
    blocked.as("a").join(blocked.as("b"),
        col("a.q") === col("b.q") && col("a.block") === col("b.block") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------------------- edit distance
  /** EXACT edit-distance ≤ 1 similarity self-join via FastSS deletion
    * neighborhoods (Bocek et al., 2007): each string's blocking keys are
    * itself plus every 1-deletion variant. Any pair within Levenshtein 1
    * provably shares a key (substitution at i → both i-deletions match;
    * insertion/deletion → the longer's variant equals the shorter itself;
    * equality → the identity key), so recall is total and the builtin
    * `levenshtein` verify only ever REMOVES false candidates.
    *
    * Why not PassJoin-style segment blocking: with a shared long prefix
    * (id-like strings — the common dedup case) the prefix segment puts
    * EVERY row in one bucket and the join degenerates quadratic. Deletion
    * variants stay discriminative: a bucket holds only strings one edit
    * from a specific 17-char core. Explode factor is len+1 keys per row;
    * join shuffles 16-byte (id, key-hash) pairs.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val s = col(strCol)
    // Key on each deletion variant's 64-bit hash, not the variant string:
    // the explode+join then moves fixed 8-byte keys instead of len-char
    // strings (which for long inputs would re-materialize ~len²/2 bytes
    // per row). A hash collision only ADDS a false candidate, and the
    // exact levenshtein verify removes it — recall is untouched. The seed
    // is constant so a length-L string's i-th variant and a length-(L−1)
    // string's identity variant still collide when equal.
    // i = 0..len: delete char at position i+1; i = len yields the identity
    val src = ScanSpread.spread(df.select(col(idCol), col(strCol)), col(idCol))
    val keyed = src.select(col(idCol).as("id"), s.as("s"),
      explode(array_distinct(expr(
        s"transform(sequence(0, length($strCol)), i -> " +
          s"xxhash64(concat(substring($strCol, 1, i), substring($strCol, i + 2, length($strCol)))))")))
        .as("k"))
    // verify BEFORE dedup (simhashBlockedPairs discipline): only surviving
    // (id, id, dist) triples reach the dropDuplicates shuffle, not strings.
    // The verify is the specialized O(len) greedy `graft_edit_dist_le1`
    // (exact at distance ≤ 1, allocation-free), not the banded levenshtein
    // DP — the verify runs once per candidate pair, and on ~1M candidates
    // the DP was the measured dominant cost (2.3 s of a 5.8 s query at
    // sf0.1; the greedy cuts it ~10×). Differentially spec'd against
    // Spark's levenshtein in DedupSpec.
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.VectorExpressions.editDistLe1(col("a.s"), col("b.s")).as("dist"))
      .filter(col("dist") >= 0)
      .dropDuplicates("id_a", "id_b")
  }
}
