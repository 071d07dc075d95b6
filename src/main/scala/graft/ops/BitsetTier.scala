package graft.ops

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedOrdering}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, DoubleType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VecKernels

/** The exact-Jaccard bitset tier over ALL docs (the global route of
  * [[DedupOps.jaccardPairsGlobal]] on ≤ `bruteMaxDocs` docs), in two jobs
  * after the doc count:
  *  1. [[probe]]: one pass over the (id, sh) docs, no shuffle, no pin.
  *     Each partition returns its local token dictionary and each doc's
  *     local token ids ([[probePartition]]). The driver merges the
  *     dictionaries; their size is the universe the tier decision reads.
  *  2. [[pairs]]: the driver remaps the ids into bitsets sorted by size
  *     ([[corpus]]), broadcasts them once, and returns a DataFrame whose
  *     one job runs `width` tasks, task p taking the rows i ≡ p (mod
  *     width) through [[VecKernels.bitsetPairsOf]] ([[stripe]]).
  *
  * Driver bytes are bounded by the caps: the probe returns about one int
  * per shingle (~12 MB at 10 000 docs of ~300 shingles), and the bitsets
  * take at most 10 000 × 512 words (41 MB at the default caps), the bytes
  * a broadcast join of the bitsets would collect too.
  */
private[graft] object BitsetTier {

  /** One partition's probe answer: its tokens in local-id order, and for
    * each doc that can pair (id not null, shingles neither null nor empty)
    * the id, a copied Catalyst value, and its local token ids, doc k's at
    * `toks(ends(k - 1) until ends(k))`. `over` marks a partition that met
    * more than `cap` tokens; it returns nothing else.
    */
  final case class Part(dict: Array[UTF8String], ids: Array[Any], ends: Array[Int],
                        toks: Array[Int], over: Boolean)

  /** The probe of one partition of (id, sh) rows. Every doc's tokens
    * count toward the universe, pairable or not. A token is cloned only
    * when first inserted, and the pass stops at cap + 1 tokens.
    */
  def probePartition(rows: Iterator[InternalRow], idType: DataType, cap: Int): Part = {
    val index = new java.util.HashMap[UTF8String, Integer]()
    val dict = ArrayBuffer.empty[UTF8String]
    val ids = ArrayBuffer.empty[Any]
    val ends = ArrayBuilder.make[Int]
    val toks = ArrayBuilder.make[Int]
    while (rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(1)) {
        val sh = r.getArray(1)
        val n = sh.numElements()
        val keep = n > 0 && !r.isNullAt(0)
        var k = 0
        while (k < n) {
          val tok = sh.getUTF8String(k)
          var id = index.get(tok)
          if (id == null) {
            if (dict.length == cap) return Part(Array.empty, Array.empty, Array.empty,
              Array.empty, over = true)
            id = dict.length
            val owned = tok.clone()
            index.put(owned, id)
            dict += owned
          }
          if (keep) toks += id.intValue
          k += 1
        }
        if (keep) {
          ids += InternalRow.copyValue(r.get(0, idType))
          ends += toks.length
        }
      }
    }
    Part(dict.toArray, ids.toArray, ends.result(), toks.result(), over = false)
  }

  /** The merged probe: the binary-sorted global dictionary, None when the
    * partitions hold more than `cap` distinct tokens.
    */
  final class Probe(val parts: Array[Part], cap: Int) {
    val dict: Option[Array[UTF8String]] =
      if (parts.exists(_.over)) None
      else {
        val all = new java.util.HashSet[UTF8String]()
        parts.foreach(_.dict.foreach(all.add))
        if (all.size > cap) None
        else {
          val sorted = all.toArray(new Array[UTF8String](0))
          java.util.Arrays.sort(sorted, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
          Some(sorted)
        }
      }

    /** The distinct token count, cap + 1 meaning "over the cap". */
    def universe: Long = dict.fold(cap + 1L)(_.length.toLong)
  }

  /** The job of step 1: one pass over `docs`, exactly (id, sh). */
  def probe(docs: DataFrame, cap: Int): Probe = {
    val idType = docs.schema("id").dataType
    new Probe(docs.queryExecution.toRdd
      .mapPartitions(rows => Iterator(probePartition(rows, idType, cap))).collect(), cap)
  }

  /** The pairable docs as bitsets over the global dictionary, sorted by
    * set size (`sz` is each bitset's popcount). `rank` is each id's rank
    * under the id type's Spark ordering, equal for equal ids.
    */
  final class Corpus(val bits: Array[Array[Long]], val sz: Array[Int],
                     val rank: Array[Int], val ids: Array[Any]) extends Serializable

  def corpus(probe: Probe, idType: DataType): Corpus = {
    val dict = probe.dict.getOrElse(
      throw new IllegalStateException("bitset tier over a universe past its cap"))
    val global = new java.util.HashMap[UTF8String, Integer](dict.length * 2)
    dict.indices.foreach(i => global.put(dict(i), i))
    val nWords = (dict.length + 63) >>> 6
    val bits = ArrayBuffer.empty[Array[Long]]
    val ids = ArrayBuffer.empty[Any]
    probe.parts.foreach { p =>
      val remap = p.dict.map(global.get(_).intValue)
      var from = 0
      p.ends.indices.foreach { k =>
        val b = new Array[Long](nWords)
        while (from < p.ends(k)) {
          val g = remap(p.toks(from))
          b(g >>> 6) |= 1L << (g & 63)
          from += 1
        }
        bits += b
        ids += p.ids(k)
      }
    }
    val n = ids.length
    val rankOf = ranks(ids, idType)
    val sizes = bits.map(_.iterator.map(java.lang.Long.bitCount).sum).toArray
    val bySize = Array.range(0, n).sortBy(sizes(_))
    new Corpus(bySize.map(bits(_)), bySize.map(sizes(_)), bySize.map(rankOf(_)),
      bySize.map(ids(_)))
  }

  /** Each id's rank under the id type's Spark ordering
    * (`InterpretedOrdering`), equal for equal ids: the ranks keep any id
    * type's `a.id < b.id` order.
    */
  def ranks(ids: collection.IndexedSeq[Any], idType: DataType): Array[Int] = {
    val n = ids.length
    val ord = InterpretedOrdering.forSchema(Seq(idType))
    val keys = ids.map(InternalRow(_))
    val byId = Array.range(0, n).sortWith((x, y) => ord.lt(keys(x), keys(y)))
    val rankOf = new Array[Int](n)
    var r = 0
    byId.indices.foreach { k =>
      if (k > 0 && ord.compare(keys(byId(k - 1)), keys(byId(k))) != 0) r += 1
      rankOf(byId(k)) = r
    }
    rankOf
  }

  /** Stripe p of `width`: the (id_a, id_b, jac) rows of the corpus rows
    * i ≡ p (mod width), one row's pairs at a time.
    */
  def stripe(c: Corpus, threshold: Double, p: Int, width: Int): Iterator[InternalRow] =
    Iterator.range(p, c.sz.length, width).flatMap { i =>
      val out = ArrayBuffer.empty[InternalRow]
      VecKernels.bitsetPairsOf(c.bits, c.sz, c.rank, threshold, i) {
        (a, b, jac) => out += InternalRow(c.ids(a), c.ids(b), jac)
      }
      out
    }

  /** Step 2: the (id_a, id_b, jac) pairs with jac ≥ `threshold` and id_a <
    * id_b, over the one broadcast of [[corpus]].
    */
  def pairs(spark: SparkSession, probe: Probe, idField: StructField,
            threshold: Double, docs: Long): DataFrame =
    striped(spark, corpus(probe, idField.dataType), docs, Seq(
      AttributeReference("id_a", idField.dataType, idField.nullable)(),
      AttributeReference("id_b", idField.dataType, idField.nullable)(),
      AttributeReference("jac", DoubleType, nullable = false)())) {
      (c, p, width) => stripe(c, threshold, p, width)
    }

  /** The pair job of a driver-built corpus: `corpus` is broadcast once,
    * and the returned DataFrame is a `LogicalRDD` over one RDD job of
    * `width` = min(`defaultParallelism`, `docs`) tasks, task p returning
    * `stripe(corpus, p, width)`. The result holds the broadcast, and
    * Spark's ContextCleaner drops it with the plan.
    */
  def striped[C: ClassTag](spark: SparkSession, corpus: C, docs: Long,
                           output: Seq[AttributeReference])
                          (stripe: (C, Int, Int) => Iterator[InternalRow]): DataFrame =
    frame(spark, output, stripedRows(spark.sparkContext, corpus, docs)(stripe))

  /** The RDD of [[striped]]: one broadcast of `corpus`, `width` tasks. */
  def stripedRows[C: ClassTag](sc: SparkContext, corpus: C, docs: Long)
                              (stripe: (C, Int, Int) => Iterator[InternalRow]): RDD[InternalRow] = {
    val width = math.max(1L, math.min(sc.defaultParallelism.toLong, docs)).toInt
    val bc = sc.broadcast(corpus)
    sc.parallelize(0 until width, width).mapPartitions(_.flatMap(p => stripe(bc.value, p, width)))
  }

  /** A DataFrame of `output` columns over `rows`, a `LogicalRDD`. */
  def frame(spark: SparkSession, output: Seq[AttributeReference],
            rows: RDD[InternalRow]): DataFrame =
    GraftShim.dataFrame(spark, LogicalRDD(output, rows)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
}
