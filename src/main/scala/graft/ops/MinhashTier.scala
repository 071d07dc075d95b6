package graft.ops

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.functions.VecKernels

/** The MinHash-LSH tier over ≤ [[DedupOps.BruteForceMaxDocs]] docs (the bounded,
  * non-streaming route of [[DedupOps.minhashLshPairs]]), in two jobs after
  * the doc count:
  *  1. [[probe]]: one pass over the (id, sig, bh) docs, no shuffle, no
  *     pin. Each partition returns, for every doc whose id and signature
  *     are not null, the id, the signature and its band hashes
  *     ([[probePartition]]). The signature and hashes come from the same
  *     expressions the join route evaluates, so the buckets are its
  *     (band, bhash) keys bit for bit.
  *  2. the pair job: the driver puts the docs in id order
  *     ([[BitsetTier.ranks]], [[corpus]]) and broadcasts them once; the
  *     one pair job runs `width` tasks, task p taking the rows i ≡ p (mod
  *     width) through [[VecKernels.lshPairsOf]] ([[stripe]]). A pair is
  *     checked only in the first band where the two docs agree, so it is
  *     emitted once and no distinct runs.
  *
  * Building the result runs no job: [[pairs]] returns a `LogicalRDD` over
  * a [[Deferred]] RDD, and the count, the probe and the route choice run
  * when the first job over the result asks for its partitions.
  *
  * Driver bytes: the probe answer and the broadcast hold at most
  * `BruteForceMaxDocs` × (8·k + 4·bands) bytes plus the ids (and a 16-byte
  * header per signature): 5.8 MB at 10 000 docs, k = 64 and 16 bands.
  * Each executor derives the bucket chains ([[chains]], another 4·bands
  * bytes per doc) once from its copy of the broadcast. The cut-off bounds
  * these bytes, not time: on 4 cores the tier ran 3.2-3.4× faster than
  * the join route at 10 000, 20 000 and 40 000 docs.
  *
  * The salt confs ([[DedupOps.SaltBucketRowsConf]]) do not apply: a hot
  * bucket's pairs belong to the stripe of their lower row, so the stripes
  * already spread its C(m, 2) pairs over the `width` tasks.
  */
private[graft] object MinhashTier {

  /** One partition's probe answer: the pairable docs' ids (copied Catalyst
    * values), their signatures, and their band hashes, doc r's at
    * `bh(r·bands until (r + 1)·bands)`.
    */
  final case class Part(ids: Array[Any], sigs: Array[ArrayData], bh: Array[Int])

  /** The probe of one partition of (id, sig, bh) rows. A null id or a null
    * signature (a null text) never pairs and is left out.
    */
  def probePartition(rows: Iterator[InternalRow], idType: DataType, bands: Int): Part = {
    val ids = ArrayBuffer.empty[Any]
    val sigs = ArrayBuffer.empty[ArrayData]
    val bh = ArrayBuilder.make[Int]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        ids += InternalRow.copyValue(r.get(0, idType))
        sigs += r.getArray(1).copy()
        val h = r.getArray(2)
        var b = 0
        while (b < bands) { bh += h.getInt(b); b += 1 }
      }
    }
    Part(ids.toArray, sigs.toArray, bh.result())
  }

  /** The job of step 1: one pass over `docs`, exactly (id, sig, bh). */
  def probe(docs: DataFrame, bands: Int): Array[Part] = {
    val idType = docs.schema("id").dataType
    docs.queryExecution.toRdd
      .mapPartitions(rows => Iterator(probePartition(rows, idType, bands))).collect()
  }

  /** The pairable docs in ascending id order. `next` is derived lazily
    * where the corpus is read, and never serialized.
    */
  final class Corpus(val ids: Array[Any], val sigs: Array[ArrayData], val bh: Array[Int],
                     val bands: Int) extends Serializable {
    @transient lazy val next: Array[Int] = chains(bh, bands)
  }

  /** The probe answer in id order; None when two docs share an id. */
  def corpus(parts: Array[Part], idType: DataType, bands: Int): Option[Corpus] = {
    val ids = parts.flatMap(_.ids)
    val n = ids.length
    val rank = BitsetTier.ranks(ids, idType)
    if (n > 0 && rank.max != n - 1) None
    else {
      val sigs = parts.flatMap(_.sigs)
      val bh = parts.flatMap(_.bh)
      val at = new Array[Int](n)
      rank.indices.foreach(i => at(rank(i)) = i)
      Some(new Corpus(at.map(ids(_)), at.map(sigs(_)),
        at.flatMap(i => bh.slice(i * bands, (i + 1) * bands)), bands))
    }
  }

  /** The band buckets as chains: `next(r·bands + b)` is the next row
    * after r whose band-b hash equals r's, -1 at the bucket's end. One
    * sort of (hash, row) per band.
    */
  def chains(bh: Array[Int], bands: Int): Array[Int] = {
    val n = bh.length / bands
    val next = Array.fill(bh.length)(-1)
    val keys = new Array[Long](n)
    var b = 0
    while (b < bands) {
      var r = 0
      while (r < n) { keys(r) = (bh(r * bands + b).toLong << 32) | r; r += 1 }
      java.util.Arrays.sort(keys)
      var k = 1
      while (k < n) {
        if ((keys(k - 1) >> 32) == (keys(k) >> 32))
          next(keys(k - 1).toInt * bands + b) = keys(k).toInt
        k += 1
      }
      b += 1
    }
    next
  }

  /** Stripe p of `width`: the (id_a, id_b, est_jaccard) rows of the corpus
    * rows i ≡ p (mod width), one row's pairs at a time.
    */
  def stripe(c: Corpus, threshold: Double, p: Int, width: Int): Iterator[InternalRow] = {
    val next = c.next
    Iterator.range(p, c.ids.length, width).flatMap { i =>
      val out = ArrayBuffer.empty[InternalRow]
      VecKernels.lshPairsOf(c.sigs, c.bh, next, c.bands, threshold, i) {
        (j, est) => out += InternalRow(c.ids(i), c.ids(j), est)
      }
      out
    }
  }

  /** The (id_a, id_b, est_jaccard) pairs of the (id, sig, bh) `docs` with
    * est ≥ `threshold` and id_a < id_b, in the join route's schema. When
    * the first job over the result needs its rows, the driver evaluates
    * `inputRows`; at a count it runs steps 1 and 2, and at None, or when
    * two pairable docs share an id, it runs `joinRoute` (whose
    * `dropDuplicates` keeps an arbitrary estimate for such a pair, which
    * the tier must not choose differently).
    */
  def pairs(docs: DataFrame, bands: Int, threshold: Double, inputRows: => Option[Long])
           (joinRoute: => DataFrame): DataFrame = {
    val (id, sig) = (docs.schema("id"), docs.schema("sig"))
    val sc = docs.sparkSession.sparkContext
    BitsetTier.frame(docs.sparkSession, Seq(
      AttributeReference("id_a", id.dataType, id.nullable)(),
      AttributeReference("id_b", id.dataType, id.nullable)(),
      // graft_sig_eq_frac_ge is null exactly when a signature is
      AttributeReference("est_jaccard", DoubleType, sig.nullable)()),
      new Deferred(sc, () => inputRows
        .flatMap(rows => corpus(probe(docs, bands), id.dataType, bands).map(c =>
          BitsetTier.stripedRows(sc, c, rows)((c, p, width) => stripe(c, threshold, p, width))))
        .getOrElse(joinRoute.queryExecution.toRdd)))
  }

  /** The rows of the RDD `choose` returns, called on the driver the first
    * time a job asks for this RDD's partitions (Spark computes a job's
    * partitions on the submitting thread, so `choose` may run jobs of its
    * own). Later jobs reuse that answer.
    */
  final class Deferred(sc: SparkContext, @transient choose: () => RDD[InternalRow])
      extends RDD[InternalRow](sc, Nil) {
    @transient private lazy val chosen = choose()
    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(chosen))
    override protected def getPartitions: Array[Partition] = chosen.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      dependencies.head.rdd.asInstanceOf[RDD[InternalRow]].iterator(split, context)
  }
}
