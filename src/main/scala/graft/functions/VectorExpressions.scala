package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector / dedup hot paths.
  *
  * Spark's higher-order array functions (`transform`, `zip_with`,
  * `aggregate`, `array_intersect`…) are `CodegenFallback` — evaluated
  * interpreted with one boxed object per array element. For the O(pairs)
  * inner loops of similarity search and near-dup detection that cost
  * dominates everything, so each hot kernel is a real `Expression` whose
  * `doGenCode` stays inside whole-stage codegen and calls a static
  * primitive-loop kernel in [[VecKernels]].
  *
  * All are null-intolerant scalars: null in → null out, handled by
  * `nullSafeCodeGen`/`nullSafeEval`.
  */
object VectorExpressions {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Dot product of two float- or double-array columns in double precision
    * (strict left-to-right accumulation — oracle-bit-identical). The
    * element-type-specific kernel is chosen once at planning.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_dot"
    private lazy val kernel: String = (isFloatArray(left), isFloatArray(right)) match {
      case (true, true) => "dotFF"
      case (true, false) => "dotFD"
      case (false, true) => "dotDF"
      case (false, false) => "dotDD"
    }
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      kernel match {
        case "dotFF" => VecKernels.dotFF(x, y)
        case "dotFD" => VecKernels.dotFD(x, y)
        case "dotDF" => VecKernels.dotDF(x, y)
        case _ => VecKernels.dotDD(x, y)
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.$kernel($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Σ v², double, left-to-right — `sqrt` of this is the L2 norm. Accepts
    * float or double element arrays.
    */
  case class NormSq(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_normsq"
    private lazy val kernel: String =
      if (isFloatArray(child)) "normSqF" else "normSqD"
    override protected def nullSafeEval(a: Any): Any =
      if (isFloatArray(child)) VecKernels.normSqF(a.asInstanceOf[ArrayData])
      else VecKernels.normSqD(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.$kernel($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Exact set-Jaccard of two string arrays — semantics identical to
    * `size(array_intersect)/size(array_union)` including 0/0 → NaN.
    */
  case class JaccardSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_jaccard"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.jaccard($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Threshold-pruned exact Jaccard over SORTED-DISTINCT string arrays:
    * exact value when ≥ `thresh`, −1.0 otherwise (early-exit merge scan —
    * see [[VecKernels.jaccardSortedGE]]). A downstream `>= thresh` filter
    * yields exactly the rows the unpruned kernel would.
    */
  case class JaccardSortedGE(left: Expression, right: Expression, thresh: Double)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_jaccard_sorted_ge"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.jaccardSortedGE(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], thresh)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.jaccardSortedGE($a, $b, $thresh);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** One-pass token statistics [nTokens, nStopwords, nDistinct,
    * sumTokenChars] — see [[VecKernels.textStats]].
    */
  case class TextStats(child: Expression, stopwords: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_text_stats"
    @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
      val h = new java.util.HashSet[UTF8String]()
      stopwords.foreach(w => h.add(UTF8String.fromString(w)))
      h
    }
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.textStats(a.asInstanceOf[UTF8String], stopSet)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.textStats($a, $ref);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Within-document bigram repetition signals — see
    * [[VecKernels.repetitionStats]].
    */
  case class RepetitionStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_repetition_stats"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.repetitionStats(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.repetitionStats($a);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Stopword-vote language id with fixed tie priority — see
    * [[VecKernels.langId]].
    */
  case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_lang_id"
    @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
      langs.map { case (_, ws) =>
        val h = new java.util.HashSet[UTF8String]()
        ws.foreach(w => h.add(UTF8String.fromString(w)))
        h
      }.toArray
    @transient private lazy val names: Array[UTF8String] =
      langs.map(l => UTF8String.fromString(l._1)).toArray
    private val und = UTF8String.fromString("und")
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.langId(a.asInstanceOf[UTF8String], sets, names, und)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
      val namesRef = ctx.addReferenceObj("langNames", names,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val undRef = ctx.addReferenceObj("und", und,
        "org.apache.spark.unsafe.types.UTF8String")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.langId($a, $setsRef, $namesRef, $undRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Morton/Z-order bit interleave of two non-negative 32-bit ints — see
    * [[VecKernels.interleaveBits]].
    */
  case class ZValue2(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_zvalue2"
    // clean analysis error instead of a runtime codegen/ClassCast failure
    // when handed raw bigint keys (normalize with LayoutOps.rank32 first)
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == IntegerType && right.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (INT, INT) rank columns, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.interleaveBits(a.asInstanceOf[Int], b.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.interleaveBits($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Edit distance when ≤ 1 else −1, allocation-free greedy — see
    * [[VecKernels.editDistLe1]].
    */
  case class EditDistLe1(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_edit_dist_le1"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.editDistLe1(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.editDistLe1($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Content-defined (Gear CDC) chunk end-offsets in codepoints — see
    * [[VecKernels.cdcChunkBounds]].
    */
  case class CdcChunkBounds(child: Expression, minSize: Int, maskBits: Int,
                            maxSize: Int) extends UnaryExpression {
    require(minSize > 0 && maxSize >= minSize && maskBits >= 1 && maskBits <= 32,
      s"bad CDC parameters: min=$minSize mask=$maskBits max=$maxSize")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_cdc_chunk_bounds"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(VecKernels.cdcChunkBounds(
        a.asInstanceOf[UTF8String], minSize, maskBits, maxSize))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.cdcChunkBounds($a, $minSize, $maskBits, $maxSize));""".stripMargin)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Rolling codepoint hash mod 1e9+7 — see [[VecKernels.fingerprint64]]. */
  case class Fingerprint64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_fingerprint"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.fingerprint64(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.fingerprint64($a);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct int ids → packed long bitset of `nWords` words — see
    * [[VecKernels.idsToBitset]].
    */
  case class IdsToBitset(child: Expression, nWords: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_ids_to_bitset"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(VecKernels.idsToBitset(a.asInstanceOf[ArrayData], nWords))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.idsToBitset($a, $nWords));""".stripMargin)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Shingle array → packed token-id bitset over a binary-sorted
    * dictionary — see [[VecKernels.shinglesToBitset]]. The dictionary is a
    * broadcast handle held as a codegen reference object (its value is
    * read once per generated-class instance, never inlined into the code);
    * its owner destroys it once the bitsets are materialized.
    */
  case class ShinglesToBitset(child: Expression, dict: Broadcast[Array[UTF8String]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_shingles_to_bitset"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(VecKernels.shinglesToBitset(a.asInstanceOf[ArrayData], dict.value))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dict", dict, classOf[Broadcast[_]].getName)
      val tokens = ctx.addMutableState("org.apache.spark.unsafe.types.UTF8String[]",
        "dictTokens", v => s"$v = (org.apache.spark.unsafe.types.UTF8String[]) $ref.value();")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.shinglesToBitset($a, $tokens));""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Exact Jaccard of two packed long bitsets (popcounts) — see
    * [[VecKernels.bitsetJaccard]].
    */
  case class BitsetJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_bitset_jaccard"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.bitsetJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.bitsetJaccard($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** k-component MinHash signature of a shingle array, single pass
    * (double-hashing; see [[VecKernels.minhashSig]]).
    */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_minhash"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(VecKernels.minhashSig(a.asInstanceOf[ArrayData], k))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.minhashSig($a, $k));""".stripMargin)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct character n-gram shingles (optionally binary-sorted) — see
    * [[VecKernels.charShingles]].
    */
  /** Space-joined word n-grams, document order, duplicates kept — see
    * [[VecKernels.wordNgrams]].
    */
  case class WordNgrams(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_word_ngrams"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.wordNgrams(a.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.wordNgrams($a, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class CharShingles(child: Expression, n: Int, sorted: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_shingles"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.charShingles(a.asInstanceOf[UTF8String], n, sorted)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.charShingles($a, $n, $sorted);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fraction of equal components of two long-array signatures (the MinHash
    * Jaccard estimator).
    */
  case class SigEqFrac(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_sig_eq_frac"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.sigEqFrac(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.sigEqFrac($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** [[SigEqFrac]] with an early-exit floor: the exact fraction when
    * `>= floor`, else -1.0 — see [[VecKernels.sigEqFracGE]].
    */
  case class SigEqFracGE(left: Expression, right: Expression, floor: Double)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_sig_eq_frac_ge"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VecKernels.sigEqFracGE(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], floor)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VecKernels.sigEqFracGE($a, $b, $floor);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash of a token array (xxhash64 seed 42 per token). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_simhash"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.simhash64(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.simhash64($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `tables` random-hyperplane sign-LSH bucket ids (`bits` bits each) for a
    * float embedding. Hyperplane weights are deterministic hash-derived
    * constants, cached per (dim, bits, tables) in the executor.
    */
  case class RhpBuckets(child: Expression, bits: Int, tables: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_rhp_buckets"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(VecKernels.rhpBuckets(a.asInstanceOf[ArrayData], bits, tables))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.rhpBuckets($a, $bits, $tables));""".stripMargin)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Shared shape for centroid-matrix expressions: the (small, collected)
    * C×dim matrix rides along as a codegen reference object, making
    * cluster assignment a NARROW per-row op — no join, no shuffle.
    */
  sealed trait CentroidBased { self: UnaryExpression =>
    def centroidMatrix: Array[Array[Double]]
    @transient protected lazy val dim: Int = centroidMatrix.head.length
    @transient protected lazy val flat: Array[Double] = {
      val f = new Array[Double](centroidMatrix.length * dim)
      var i = 0
      while (i < centroidMatrix.length) {
        System.arraycopy(centroidMatrix(i), 0, f, i * dim, dim); i += 1
      }
      f
    }
    @transient protected lazy val invNorms: Array[Double] =
      centroidMatrix.map { row =>
        val n = math.sqrt(row.map(v => v * v).sum)
        if (n == 0.0) 0.0 else 1.0 / n
      }
  }

  /** argmax-cosine centroid id for a float embedding. */
  case class NearestCentroid(child: Expression, centroidMatrix: Array[Array[Double]])
      extends UnaryExpression with CentroidBased {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_nearest_centroid"
    override protected def nullSafeEval(a: Any): Any =
      VecKernels.nearestCentroid(a.asInstanceOf[ArrayData], flat, invNorms, dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
      val nRef = ctx.addReferenceObj("invNorms", invNorms, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.VecKernels.nearestCentroid($a, $fRef, $nRef, $dim);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Best-first ids of the nprobe max-cosine centroids. */
  case class TopCentroids(child: Expression, centroidMatrix: Array[Array[Double]],
                          nprobe: Int)
      extends UnaryExpression with CentroidBased {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_top_centroids"
    override protected def nullSafeEval(a: Any): Any =
      new GenericArrayData(
        VecKernels.topCentroids(a.asInstanceOf[ArrayData], flat, invNorms, dim, nprobe))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
      val nRef = ctx.addReferenceObj("invNorms", invNorms, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
           |  graft.functions.VecKernels.topCentroids($a, $fRef, $nRef, $dim, $nprobe));"""
          .stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ----------------------------------------------------------- Column API
  private def e(c: Column): Expression = GraftShim.expression(c)

  def dotProduct(a: Column, b: Column): Column = GraftShim.column(DotProduct(e(a), e(b)))
  def normSq(a: Column): Column = GraftShim.column(NormSq(e(a)))
  def jaccardSim(a: Column, b: Column): Column = GraftShim.column(JaccardSim(e(a), e(b)))
  def jaccardSortedGE(a: Column, b: Column, thresh: Double): Column =
    GraftShim.column(JaccardSortedGE(e(a), e(b), thresh))
  def charShingles(a: Column, n: Int, sorted: Boolean = false): Column =
    GraftShim.column(CharShingles(e(a), n, sorted))
  def wordNgrams(a: Column, n: Int): Column = GraftShim.column(WordNgrams(e(a), n))
  def minhashSig(a: Column, k: Int): Column = GraftShim.column(MinHashSig(e(a), k))
  def sigEqFrac(a: Column, b: Column): Column = GraftShim.column(SigEqFrac(e(a), e(b)))
  def sigEqFracGE(a: Column, b: Column, floor: Double): Column =
    GraftShim.column(SigEqFracGE(e(a), e(b), floor))
  def simhash64(a: Column): Column = GraftShim.column(SimHash64(e(a)))
  def rhpBuckets(a: Column, bits: Int, tables: Int): Column =
    GraftShim.column(RhpBuckets(e(a), bits, tables))
  def nearestCentroid(a: Column, m: Array[Array[Double]]): Column =
    GraftShim.column(NearestCentroid(e(a), m))
  def topCentroids(a: Column, m: Array[Array[Double]], nprobe: Int): Column =
    GraftShim.column(TopCentroids(e(a), m, nprobe))
  def idsToBitset(a: Column, nWords: Int): Column =
    GraftShim.column(IdsToBitset(e(a), nWords))
  def shinglesToBitset(a: Column, dict: Broadcast[Array[UTF8String]]): Column =
    GraftShim.column(ShinglesToBitset(e(a), dict))
  def bitsetJaccard(a: Column, b: Column): Column =
    GraftShim.column(BitsetJaccard(e(a), e(b)))
  def textStats(a: Column, stopwords: Seq[String]): Column =
    GraftShim.column(TextStats(e(a), stopwords))
  def repetitionStats(a: Column): Column =
    GraftShim.column(RepetitionStats(e(a)))
  def langIdNative(a: Column, langs: Seq[(String, Seq[String])]): Column =
    GraftShim.column(LangIdExpr(e(a), langs))
  def fingerprint64(a: Column): Column = GraftShim.column(Fingerprint64(e(a)))
  def zvalue2(a: Column, b: Column): Column = GraftShim.column(ZValue2(e(a), e(b)))
  def cdcChunkBounds(a: Column, minSize: Int, maskBits: Int, maxSize: Int): Column =
    GraftShim.column(CdcChunkBounds(e(a), minSize, maskBits, maxSize))
  def editDistLe1(a: Column, b: Column): Column =
    GraftShim.column(EditDistLe1(e(a), e(b)))
}
