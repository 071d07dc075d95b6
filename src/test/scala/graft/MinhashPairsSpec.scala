package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecKernels
import graft.ops.MinhashTier

/** The MinHash-LSH tier's driver and kernel halves, without Spark:
  * [[MinhashTier.probePartition]] over hand-built (id, sig, bh) rows,
  * [[MinhashTier.corpus]] and every [[MinhashTier.stripe]] of the
  * [[VecKernels.lshPairsOf]] loop must return exactly the pairs of a
  * quadratic reference, each once: id_a < id_b, the two docs share a band
  * hash, and the signature estimate is ≥ t. Null ids and null signatures
  * never pair, and two docs with one id refuse the tier.
  */
class MinhashPairsSpec extends AnyFunSuite {

  /** A doc: its id (None = null) and its signature (None = null). */
  private type Doc = (Option[Any], Option[Array[Long]])

  /** Band b's hash of a signature: `mask` coarsens it, so that unequal
    * slices collide too (a band hash, not the slice, defines a bucket).
    */
  private def bandHashes(sig: Array[Long], bands: Int, mask: Int): Array[Int] = {
    val r = sig.length / bands
    Array.tabulate(bands)(b => (sig.slice(b * r, (b + 1) * r).toSeq, b).hashCode & mask)
  }

  private def row(d: Doc, idType: DataType, bands: Int, mask: Int): InternalRow = {
    // a null signature still carries band hashes, as the hash of a null
    // slice does in Spark
    val bh = d._2.fold(Array.fill(bands)(42))(bandHashes(_, bands, mask))
    InternalRow(
      d._1.map(v => if (idType == StringType) UTF8String.fromString(v.toString) else v).orNull,
      d._2.map(UnsafeArrayData.fromPrimitiveArray).orNull,
      UnsafeArrayData.fromPrimitiveArray(bh))
  }

  private def external(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case o => o
  }

  private def corpus(docs: Seq[Doc], idType: DataType, bands: Int, mask: Int,
                     nParts: Int): Option[MinhashTier.Corpus] = {
    val chunk = math.max(1, (docs.length + nParts - 1) / nParts)
    val parts = docs.grouped(chunk).map(ds => MinhashTier.probePartition(
      ds.iterator.map(row(_, idType, bands, mask)), idType, bands)).toArray
    MinhashTier.corpus(parts, idType, bands)
  }

  /** The tier over `docs` split into `nParts` partitions, every stripe of
    * `width`, as a multiset of (id_a, id_b, est).
    */
  private def tier(docs: Seq[Doc], idType: DataType, bands: Int, t: Double, width: Int,
                   mask: Int = -1, nParts: Int = 3): Map[(Any, Any, Double), Int] = {
    val c = corpus(docs, idType, bands, mask, nParts).get
    (0 until width).flatMap(p => MinhashTier.stripe(c, t, p, width))
      .map(r => (external(r.get(0, idType)), external(r.get(1, idType)), r.getDouble(2)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def less(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) => x.compareTo(y) < 0 // ASCII ids: binary order
    case _ => sys.error(s"unexpected ids $a, $b")
  }

  private def reference(docs: Seq[Doc], bands: Int, t: Double,
                        mask: Int): Map[(Any, Any, Double), Int] = {
    val live = docs.collect { case (Some(id), Some(sig)) => (id, sig, bandHashes(sig, bands, mask)) }
    (for {
      (ia, a, ha) <- live
      (ib, b, hb) <- live if less(ia, ib) && ha.indices.exists(i => ha(i) == hb(i))
      est = a.indices.count(i => a(i) == b(i)).toDouble / a.length if est >= t
    } yield (ia, ib, est)).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def check(name: String, docs: Seq[Doc], idType: DataType, bands: Int, t: Double,
                    mask: Int = -1, widths: Seq[Int] = Seq(1, 3, 4, 8)): Unit = {
    val want = reference(docs, bands, t, mask)
    for (w <- widths; parts <- Seq(1, 3)) {
      val got = tier(docs, idType, bands, t, w, mask, parts)
      assert(got == want, s"$name (bands=$bands, t=$t, width=$w, parts=$parts): " +
        s"missing ${(want.keySet -- got.keySet).take(3)}, extra ${(got.keySet -- want.keySet).take(3)}")
    }
  }

  /** Seeded signatures over a small value alphabet, half of them mutated
    * copies of an earlier one, so that docs share several bands and
    * estimates cross every threshold.
    */
  private def signatures(seed: Long, n: Int, k: Int, alphabet: Int): Seq[Array[Long]] = {
    val r = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    (0 until n).foreach { _ =>
      if (out.nonEmpty && r.nextBoolean()) {
        val base = out(r.nextInt(out.length))
        val flip = r.nextInt(k / 2 + 1)
        out += base.map(v => if (r.nextInt(k) < flip) r.nextInt(alphabet).toLong else v)
      } else out += Array.fill(k)(r.nextInt(alphabet).toLong)
    }
    out.toSeq
  }

  private def withIds(sigs: Seq[Array[Long]]): Seq[Doc] =
    sigs.zipWithIndex.map { case (s, i) => (Some(i.toLong * 7 % 101): Option[Any], Some(s)) }

  test("seeded signatures: every stripe width equals the quadratic reference") {
    for (seed <- 1L to 4L; (k, bands) <- Seq((16, 4), (16, 16), (12, 1)); t <- Seq(0.3, 0.5, 0.8)) {
      check(s"seed $seed, k $k", withIds(signatures(seed, 60, k, 3)), LongType, bands, t)
    }
  }

  test("pairs that collide in several bands are emitted once, in the first shared band") {
    // a 2-letter alphabet makes most pairs share most bands, and the
    // coarse mask adds collisions of unequal slices
    for (seed <- 5L to 8L; mask <- Seq(-1, 3)) {
      val docs = withIds(signatures(seed, 40, 16, 2))
      check(s"seed $seed, mask $mask", docs, LongType, 8, 0.4, mask)
      assert(tier(docs, LongType, 8, 0.4, 4, mask).values.forall(_ == 1))
    }
    // b ⊂ agreement of a in bands 1 and 3 only
    val a = Array.tabulate(8)(_.toLong)
    val b = a.clone(); b(0) = 100; b(4) = 100
    assert(tier(Seq((Some(1L), Some(a)), (Some(2L), Some(b))), LongType, 4, 0.5, 2) ==
      Map((1L, 2L, 0.75) -> 1))
  }

  test("an all-equal hot bucket: every pair once, over every width") {
    val sig = Array.tabulate(16)(i => i * 31L)
    val docs = (0 until 50).map(i => (Some(i.toLong): Option[Any], Some(sig.clone())))
    check("hot bucket", docs, LongType, 4, 0.9)
    assert(tier(docs, LongType, 4, 0.9, 8).size == 50 * 49 / 2)
  }

  test("k not a multiple of bands: the tail components count in the estimate only") {
    for (seed <- 9L to 11L; (k, bands) <- Seq((10, 4), (17, 5), (64, 7))) {
      check(s"seed $seed, k $k", withIds(signatures(seed, 50, k, 3)), LongType, bands, 0.5)
    }
    // equal in the banded 8 of 10 components, unequal in the tail
    val a = Array.fill(10)(1L)
    val b = a.clone(); b(8) = 2; b(9) = 2
    assert(tier(Seq((Some(1L), Some(a)), (Some(2L), Some(b))), LongType, 4, 0.5, 1) ==
      Map((1L, 2L, 0.8) -> 1))
  }

  test("null ids and null signatures never pair; duplicate ids refuse the tier") {
    for (seed <- 12L to 14L) {
      val r = new scala.util.Random(seed)
      val docs = signatures(seed, 50, 16, 2).zipWithIndex.map { case (s, i) =>
        (if (r.nextInt(6) == 0) None else Some(i.toLong): Option[Any],
          if (r.nextInt(6) == 0) None else Some(s))
      }
      check(s"seed $seed", docs, LongType, 4, 0.5)
    }
    val sig = Array.fill(8)(3L)
    val dup = Seq[Doc]((Some(1L), Some(sig)), (Some(2L), Some(sig)), (Some(1L), Some(sig)))
    assert(corpus(dup, LongType, 4, -1, 2).isEmpty)
    // a duplicate id that cannot pair (null signature) keeps the tier
    val held = Seq[Doc]((Some(1L), Some(sig)), (Some(2L), Some(sig)), (Some(1L), None))
    assert(tier(held, LongType, 4, 0.5, 2) == Map((1L, 2L, 1.0) -> 1))
  }

  test("string ids pair in their binary order") {
    val r = new scala.util.Random(21)
    val docs = signatures(21, 50, 16, 3).zipWithIndex.map { case (s, i) =>
      (Some(s"d${r.nextInt(1000)}-$i"): Option[Any], Some(s))
    }
    check("string ids", docs, StringType, 4, 0.5)
  }

  test("n = 0, n = 1 and n below the stripe width") {
    check("n = 0", Seq.empty, LongType, 4, 0.5)
    check("n = 1", Seq((Some(1L), Some(Array.fill(8)(1L)))), LongType, 4, 0.5)
    val three = withIds(signatures(31, 3, 8, 2))
    check("n = 3", three, LongType, 4, 0.3, widths = Seq(8, 16))
  }

  test("chains link each band bucket's rows in ascending order") {
    val bh = Array(5, 1, 7, 1, 5, 2, 5, 1) // 4 rows, 2 bands
    assert(MinhashTier.chains(bh, 2).toSeq == Seq(2, 1, -1, 3, 3, -1, -1, -1))
    assert(MinhashTier.chains(Array.empty, 3).isEmpty)
  }
}
