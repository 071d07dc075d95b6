package perfbench

import java.io.File

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorExpressions
import graft.ops.DedupOps

/** LLM-data near-duplicate detection over a Zipfian corpus with planted
  * clusters. Ops alternate between the exact global Jaccard join and
  * MinHash-LSH, each over one fixed corpus shard read from parquet.
  */
final class TextDedup(spark: SparkSession, work: File, seed: Long, tracer: Tracer)
    extends Workload(spark, work, seed, tracer) {
  import spark.implicits._

  // the shares are assumed, not measured (README, "Assumed traffic shares")
  val p = Gen.TextParams(docs = 3000, shards = 4, vocab = 30000, zipfS = 1.05,
    docChars = 300, plantedShare = 0.06, clusterSize = 3, mutateWords = 3)
  val threshold = 0.6

  private var shards: IndexedSeq[Gen.Shard] = _
  private var universe = 0
  def params: Map[String, Any] = Map(
    "docs" -> p.docs, "shards" -> p.shards, "vocabulary" -> p.vocab,
    "zipf_s" -> p.zipfS, "doc_chars" -> p.docChars,
    "planted_share" -> p.plantedShare, "cluster_size" -> p.clusterSize,
    "mutated_words" -> p.mutateWords, "jaccard_threshold" -> threshold,
    "gram_universe" -> universe,
    "planted_pairs" -> Option(shards).map(_.map(_.planted.size).sum).getOrElse(0))

  private def shardPath(s: Int) = new File(work, s"corpus/shard-$s").getPath

  def createState(): Unit = {
    val vocab = Gen.vocabulary(seed, p)
    shards = (0 until p.shards).map(s => Gen.shard(seed, p, vocab, s))
    val all = new java.util.HashSet[String]()
    shards.foreach(_.texts.foreach(t => all.addAll(Gen.grams(t))))
    universe = all.size
    shards.zipWithIndex.foreach { case (sh, s) =>
      sh.ids.zip(sh.texts).toSeq.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(shardPath(s))
    }
  }

  def warmUpOps: Int = cycle

  private var pairs: Array[(Long, Long, Double)] = _

  override def cycle: Int = 2
  def nominalCycleS: Double = 3.3
  private def kind(i: Int) = if (Math.floorMod(i, 2) == 0) "jaccard_global" else "minhash_lsh"
  private def shardOf(i: Int) = Math.floorMod(i / 2, p.shards)

  /** Only the op's own queries reach the plan listener. */
  override def prepare(i: Int): Unit = if (tracer.enabled) tracer.plans.take(spark.sparkContext)

  def run(i: Int): OpResult = {
    val docs = spark.read.parquet(shardPath(shardOf(i)))
    pairs = tracer.span(s"dedup.${kind(i)}") {
      val out =
        if (kind(i) == "jaccard_global")
          DedupOps.jaccardPairsGlobal(docs, "doc_id", "text", threshold = threshold)
        else DedupOps.minhashLshPairs(docs, "doc_id", "text")
      out.select(col("id_a"), col("id_b"), col(out.columns(2)).cast("double"))
        .as[(Long, Long, Double)].collect()
    }
    OpResult(kind(i), "read", shards(shardOf(i)).ids.length.toLong)
  }

  override def verify(i: Int, r: OpResult): Unit = {
    val sh = shards(shardOf(i))
    val found = pairs.iterator.map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).toSet
    val must = sh.planted.filter(_._3 >= threshold + 1e-9)
    val hit = must.count(t => found.contains((t._1, t._2)))
    if (kind(i) != "minhash_lsh") {
      require("dedup.exact_finds_planted", hit == must.size,
        s"op $i: exact path found $hit of ${must.size} planted pairs")
      // reported pairs re-checked against exact Jaccard on a sample
      val text = sh.ids.zip(sh.texts).toMap
      val r = Gen.rng(seed, 5, i)
      val sample = if (pairs.length <= 64) pairs.toSeq
        else Seq.fill(64)(pairs(r.nextInt(pairs.length)))
      sample.foreach { case (a, b, _) =>
        val j = Gen.jaccard(text(a), text(b))
        require("dedup.exact_pairs_above_threshold", j >= threshold - 1e-9,
          s"op $i: pair ($a, $b) reported, exact Jaccard $j")
      }
    } else {
      count("dedup.planted_pairs", must.size)
      count("dedup.planted_found", hit)
      recallNum += hit; recallDen += must.size
      if (countersOn) {
        // the rows out of the engine's band join (band collisions that
        // passed its signature check, before cross-band duplicates drop),
        // read from the executed plan of the op's query
        val plans = tracer.plans.take(spark.sparkContext)
        count("dedup.band_join_rows", PlanListener.joinOutputRows(plans))
        count("dedup.verified_pairs", pairs.length)
      }
    }
    count(s"dedup.${kind(i)}_ops", 1)
  }

  private var recallNum = 0L
  private var recallDen = 0L

  def finalCheck(): Unit = ()

  def endState(): Map[String, Double] = Map(
    "dedup_recall" -> (if (recallDen == 0) 1.0 else recallNum.toDouble / recallDen),
    "dedup_recall_base" -> recallDen.toDouble)

  /** Each kernel alone over one fixed cached batch: rows per second. */
  override def traceExtras(): Unit = {
    // every shard's documents, four times over, each paired with the next
    val texts = Seq.fill(4)(shards.flatMap(_.texts)).flatten.toIndexedSeq
    val n = texts.length
    val r = Gen.rng(seed, 6)
    val vec = () => Array.fill(64)(r.nextFloat())
    val base = (0 until n).map { j =>
      (texts(j), texts((j + 1) % n), vec(), vec())
    }.toDF("t1", "t2", "v1", "v2")
      .select(col("t1"), col("v1"), col("v2"),
        DedupOps.sortedShingles(col("t1"), 3).as("s1"),
        DedupOps.sortedShingles(col("t2"), 3).as("s2"),
        split(col("t1"), " ").as("w1"))
      .select(col("*"),
        VectorExpressions.idsToBitset(transform(col("s1"), g => pmod(hash(g), lit(4096))), 64).as("b1"),
        VectorExpressions.idsToBitset(transform(col("s2"), g => pmod(hash(g), lit(4096))), 64).as("b2"))
      .repartition(4)
      .persist(StorageLevel.MEMORY_ONLY)
    base.count()
    val kernels: Seq[(String, Column)] = Seq(
      "graft_shingles" -> size(VectorExpressions.charShingles(col("t1"), 3)),
      "graft_minhash" -> size(VectorExpressions.minhashSig(col("s1"), 64)),
      "graft_jaccard_ge" -> VectorExpressions.jaccardSortedGE(col("s1"), col("s2"), threshold),
      "graft_bitset_jaccard" -> VectorExpressions.bitsetJaccard(col("b1"), col("b2")),
      "graft_simhash" -> VectorExpressions.simhash64(col("w1")),
      "graft_dot" -> VectorExpressions.dotProduct(col("v1"), col("v2")))
    kernels.foreach { case (name, k) =>
      val times = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"functions.$name")(base.select(sum(hash(k))).collect())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      kernelRowsPerS(name) = n / times(2)
    }
    base.unpersist()
  }

  val kernelRowsPerS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
}
