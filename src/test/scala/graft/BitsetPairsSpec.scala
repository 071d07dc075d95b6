package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecKernels
import graft.ops.BitsetTier

/** The global bitset tier's driver and kernel halves, without Spark:
  * [[BitsetTier.probePartition]] over hand-built rows, the merged
  * [[BitsetTier.Probe]], [[BitsetTier.corpus]] and every
  * [[BitsetTier.stripe]] of the [[VecKernels.bitsetPairsOf]] loop must
  * return exactly the pairs of a quadratic
  * reference: id_a < id_b, equal or null ids never pair, a null or empty
  * shingle set never pairs, and jac is |A ∩ B| / |A ∪ B| in doubles.
  */
class BitsetPairsSpec extends AnyFunSuite {

  /** A doc: its id (None = null) and its shingles (None = null). */
  private type Doc = (Option[Any], Option[Seq[String]])

  private def row(d: Doc, idType: DataType): InternalRow = InternalRow(
    d._1.map(v => if (idType == StringType) UTF8String.fromString(v.toString) else v).orNull,
    d._2.map(sh => new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any])).orNull)

  private def external(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case o => o
  }

  /** The tier over `docs` split into `nParts` partitions, every stripe of
    * `width`, as a multiset of (id_a, id_b, jac).
    */
  private def tier(docs: Seq[Doc], idType: DataType, t: Double, width: Int,
                   nParts: Int = 3, cap: Int = 32768): Map[(Any, Any, Double), Int] = {
    val chunk = math.max(1, (docs.length + nParts - 1) / nParts)
    val parts = docs.grouped(chunk).map(ds =>
      BitsetTier.probePartition(ds.iterator.map(row(_, idType)), idType, cap)).toArray
    val c = BitsetTier.corpus(new BitsetTier.Probe(parts, cap), idType)
    assert(c.sz.toSeq == c.sz.sorted.toSeq, "bitsets must come sorted by size")
    (0 until width).flatMap(p => BitsetTier.stripe(c, t, p, width))
      .map(r => (external(r.get(0, idType)), external(r.get(1, idType)), r.getDouble(2)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def less(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) => x.compareTo(y) < 0 // ASCII ids: binary order
    case _ => sys.error(s"unexpected ids $a, $b")
  }

  private def reference(docs: Seq[Doc], t: Double): Map[(Any, Any, Double), Int] = {
    val live = docs.collect { case (Some(id), Some(sh)) if sh.nonEmpty => (id, sh.toSet) }
    (for {
      (ia, a) <- live
      (ib, b) <- live if less(ia, ib)
      jac = (a & b).size.toDouble / (a | b).size.toDouble if jac >= t
    } yield (ia, ib, jac)).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def check(name: String, docs: Seq[Doc], idType: DataType, t: Double,
                    widths: Seq[Int] = Seq(1, 3, 4, 8)): Unit = {
    val want = reference(docs, t)
    for (w <- widths; parts <- Seq(1, 3)) {
      val got = tier(docs, idType, t, w, parts)
      assert(got == want, s"$name (t=$t, width=$w, parts=$parts): " +
        s"missing ${(want.keySet -- got.keySet).take(3)}, extra ${(got.keySet -- want.keySet).take(3)}")
    }
  }

  /** Seeded docs over a `universe`-token alphabet, a third of them mutated
    * copies of an earlier doc so that pairs cross every threshold.
    */
  private def corpus(seed: Long, n: Int, universe: Int, maxSz: Int): Seq[Seq[String]] = {
    val r = new scala.util.Random(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n).foreach { _ =>
      if (out.nonEmpty && r.nextInt(3) == 0) {
        val base = out(r.nextInt(out.length))
        val drop = base.filter(_ => r.nextInt(8) != 0)
        out += (drop ++ Seq.fill(r.nextInt(3))(s"t${r.nextInt(universe)}")).distinct
      } else out += Seq.fill(1 + r.nextInt(maxSz))(s"t${r.nextInt(universe)}").distinct
    }
    out.toSeq
  }

  test("seeded corpora: every stripe width equals the quadratic reference") {
    for (seed <- 1L to 6L; t <- Seq(0.3, 0.5, 0.6, 0.8)) {
      val docs = corpus(seed, 60, 90, 24).zipWithIndex.map { case (sh, i) =>
        (Some(i.toLong * 7 % 61): Option[Any], Some(sh)) }
      check(s"seed $seed", docs, LongType, t)
    }
  }

  test("duplicate and null ids never pair; null and empty shingle sets never pair") {
    for (seed <- 11L to 14L) {
      val r = new scala.util.Random(seed)
      val docs = corpus(seed, 50, 60, 16).map { sh =>
        val id: Option[Any] = if (r.nextInt(6) == 0) None else Some(r.nextInt(12).toLong)
        val shs = r.nextInt(8) match {
          case 0 => None
          case 1 => Some(Seq.empty[String])
          case _ => Some(sh)
        }
        (id, shs)
      }
      check(s"seed $seed", docs, LongType, 0.5)
    }
    // two identical sets: equal ids never pair, a null id never pairs
    val same = Seq("a", "b", "c")
    assert(tier(Seq((Some(1L), Some(same)), (Some(1L), Some(same)), (None, Some(same))),
      LongType, 0.5, 2).isEmpty)
  }

  test("string ids pair in their binary order") {
    val r = new scala.util.Random(21)
    val docs = corpus(21, 50, 70, 20).map(sh =>
      (Some(s"d${r.nextInt(30)}"): Option[Any], Some(sh)))
    check("string ids", docs, StringType, 0.5)
  }

  test("all-equal sizes and sizes on the exact band edge (the 0.55 ceil trap)") {
    val equal = corpus(31, 40, 30, 40).map(_.take(10)).filter(_.length == 10)
      .zipWithIndex.map { case (sh, i) => (Some(i.toLong): Option[Any], Some(sh)) }
    assert(equal.length > 10)
    check("equal sizes", equal, LongType, 0.5)
    // B ⊂ A with |A| = 100, |B| = 55: J = 0.55 exactly, where 0.55·100 is
    // 55.000000000000007 in doubles; |A| = 60, |B| = 33 likewise
    val a = (0 until 100).map(i => s"a$i")
    val b = (0 until 60).map(i => s"b$i")
    val edge = Seq[Doc](
      (Some(1L), Some(a)), (Some(2L), Some(a.take(55))),
      (Some(3L), Some(b)), (Some(4L), Some(b.take(33))))
    check("band edge", edge, LongType, 0.55)
    assert(tier(edge, LongType, 0.55, 4) ==
      Map((1L, 2L, 0.55) -> 1, (3L, 4L, 0.55) -> 1))
  }

  test("n = 0, n = 1 and n below the stripe width") {
    check("n = 0", Seq.empty, LongType, 0.5)
    check("n = 1", Seq((Some(1L), Some(Seq("x", "y")))), LongType, 0.5)
    val three = Seq[Doc]((Some(3L), Some(Seq("x", "y"))), (Some(1L), Some(Seq("x", "y"))),
      (Some(2L), Some(Seq("x", "y", "z"))))
    check("n = 3", three, LongType, 0.5, widths = Seq(8, 16))
    assert(tier(three, LongType, 0.5, 8) ==
      Map((1L, 3L, 1.0) -> 1, (1L, 2L, 2.0 / 3) -> 1, (2L, 3L, 2.0 / 3) -> 1))
  }

  test("universes of 64·k and 64·k + 1 tokens: the word count and the pairs") {
    for (u <- Seq(128, 129)) {
      val tokens = (0 until u).map(i => s"u$i")
      // docs on the top tokens, so the last word carries bits
      val docs = (0 until 20).map { i =>
        (Some(i.toLong): Option[Any], Some(tokens.drop(i * 3 % (u - 40)).take(40)))
      } :+ ((Some(99L): Option[Any], Some(tokens)))
      val parts = Array(BitsetTier.probePartition(docs.iterator.map(row(_, LongType)),
        LongType, 32768))
      val probe = new BitsetTier.Probe(parts, 32768)
      assert(probe.universe == u)
      val c = BitsetTier.corpus(probe, LongType)
      assert(c.bits.forall(_.length == (u + 63) / 64))
      assert(c.sz.max == u)
      check(s"universe $u", docs, LongType, 0.6)
    }
  }

  test("the universe counts every doc's tokens and stops at cap + 1") {
    val docs = Seq[Doc]((Some(1L), Some(Seq("a", "b"))), (None, Some(Seq("c"))),
      (Some(2L), Some(Seq.empty)), (Some(3L), None), (Some(4L), Some(Seq("a", "d"))))
    def probe(cap: Int, chunk: Int) = new BitsetTier.Probe(docs.grouped(chunk).map(ds =>
      BitsetTier.probePartition(ds.iterator.map(row(_, LongType)), LongType, cap)).toArray, cap)
    for (chunk <- Seq(1, 2, 5)) {
      // a null id's tokens count; a null or empty set adds none
      assert(probe(32768, chunk).universe == 4)
      assert(probe(4, chunk).universe == 4)
      assert(probe(3, chunk).universe == 4 && probe(3, chunk).dict.isEmpty)
      assert(probe(0, chunk).universe == 1)
    }
    val over = BitsetTier.probePartition(docs.iterator.map(row(_, LongType)), LongType, 2)
    assert(over.over && over.ids.isEmpty && over.toks.isEmpty)
  }
}
