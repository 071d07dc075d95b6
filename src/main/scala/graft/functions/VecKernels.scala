package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Branch-free primitive kernels invoked from generated code by the native
  * expressions in [[VectorExpressions]]. Every method takes Catalyst's
  * unsafe `ArrayData` directly — no per-element boxing, no intermediate
  * array materialization — which is what makes these ~100× faster than the
  * equivalent `aggregate(zip_with(...))` higher-order-function plans (those
  * are `CodegenFallback`: interpreted, one `Object` per element).
  *
  * Numeric contracts (bit-reproducibility against the DuckDB oracle):
  *  - [[dotFF]]/[[normSqF]] accumulate left-to-right in double precision —
  *    identical fold order to `list_sum(list_transform(...))`.
  *  - [[jaccard]] is exact-integer |A∩B| / (|A|+|B|-|A∩B|) double division.
  */
object VecKernels {

  /** Σ (double)a[i] * (double)b[i], strict left-to-right. */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Mixed/double-element variants — same contract as [[dotFF]]. */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def normSqD(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  /** Σ (double)a[i]^2, strict left-to-right. */
  def normSqF(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  /** Exact Jaccard over two string arrays with set semantics — identical to
    * `size(array_intersect(a,b)) / size(array_union(a,b))` (distinct-aware;
    * 0/0 → NaN preserved). Null elements are ignored (shingle arrays never
    * contain them).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](math.max(8, a.numElements() * 2))
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (!a.isNullAt(i)) setA.add(a.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[UTF8String](math.max(8, b.numElements() * 2))
    i = 0
    val nb = b.numElements()
    while (i < nb) {
      if (!b.isNullAt(i)) setB.add(b.getUTF8String(i))
      i += 1
    }
    var inter = 0
    val it = setA.iterator()
    while (it.hasNext) if (setB.contains(it.next())) inter += 1
    val union = setA.size() + setB.size() - inter
    inter.toDouble / union.toDouble
  }

  // --------------------------------------------------------- text stats
  /** Java-regex `\s` class (ASCII-only by default) — the byte-level test is
    * UTF-8-safe because multibyte sequences never contain bytes < 0x80.
    */
  @inline private def isWs(b: Byte): Boolean =
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte

  /** [nTokens, nStopwords, nDistinctTokens, sumTokenChars] in ONE pass over
    * the UTF-8 bytes — semantics identical to the
    * `filter(split(c, "\\s+"), _ =!= "")` HOF pipeline (tokens are maximal
    * non-whitespace runs) but without materializing per-char arrays.
    */
  def textStats(s: UTF8String, stop: java.util.HashSet[UTF8String]): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var nTok = 0L
    var nStop = 0L
    var sumChars = 0L
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        nTok += 1
        sumChars += tok.numChars()
        if (stop.contains(tok)) nStop += 1
        seen.add(tok)
      }
    }
    new GenericArrayData(Array(nTok, nStop, seen.size.toLong, sumChars))
  }

  /** Space-joined word n-grams in document order, duplicates kept — the
    * byte-scan equivalent of
    * `transform(sequence(1, T−n+1), i -> array_join(slice(tokens, i, n), ' '))`
    * (whose higher-order functions are CodegenFallback — one boxed lambda
    * call per element). Tokens are maximal non-whitespace runs; separators
    * collapse to ONE space in the output (array_join semantics). Empty
    * array when the doc has fewer than n tokens.
    */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token [start, end) byte offsets
    var count = 0
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isWs(bytes(i))) i += 1
        ends.add(i)
        count += 1
      }
    }
    if (count < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count - n + 1)
    var g = 0
    while (g < count - n + 1) {
      var sz = n - 1 // single-space separators
      var t = g
      while (t < g + n) { sz += ends.get(t) - starts.get(t); t += 1 }
      val buf = new Array[Byte](sz)
      var pos = 0
      t = g
      while (t < g + n) {
        if (t > g) { buf(pos) = ' '.toByte; pos += 1 }
        val l = ends.get(t) - starts.get(t)
        System.arraycopy(bytes, starts.get(t), buf, pos, l)
        pos += l
        t += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** [nBigrams, nDistinctBigrams, topBigramCount, dupBigramOccurrences] in
    * ONE pass — the Gopher/C4-style within-document repetition signals.
    * Bigram identity is the space-joined pair string, exactly what the SQL
    * oracle builds with `ts[i] || ' ' || ts[i+1]` (tokens never contain
    * whitespace, so the concat is bijective with the pair). All-zero array
    * for docs with fewer than two tokens.
    */
  def repetitionStats(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val counts = new java.util.HashMap[UTF8String, Long]()
    val space = UTF8String.fromString(" ")
    var prev: UTF8String = null
    var total = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        if (prev != null) {
          counts.merge(UTF8String.concat(prev, space, tok), 1L, (a, b) => a + b)
          total += 1
        }
        prev = tok
      }
    }
    var top = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > top) top = c
      if (c > 1L) dup += c
    }
    new GenericArrayData(Array(total, counts.size.toLong, top, dup))
  }

  /** Stopword-vote language id over the LOWERCASED text: hit count per
    * language set, winner = first language (array order = priority) with a
    * positive count equal to the max; "und" when no set hits.
    */
  def langId(s: UTF8String, sets: Array[java.util.HashSet[UTF8String]],
             langs: Array[UTF8String], und: UTF8String): UTF8String = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    val counts = new Array[Long](sets.length)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        var l = 0
        while (l < sets.length) {
          if (sets(l).contains(tok)) counts(l) += 1
          l += 1
        }
      }
    }
    var max = 0L
    var l = 0
    while (l < counts.length) { if (counts(l) > max) max = counts(l); l += 1 }
    if (max == 0L) und
    else {
      l = 0
      while (counts(l) != max) l += 1
      langs(l)
    }
  }

  /** Polynomial rolling hash over CODEPOINTS, mod 1e9+7 — identical fold to
    * `aggregate(split(c, ""), 0L, (h, ch) => (h*31 + ascii(ch)) % p)` and
    * to DuckDB's `list_reduce` over `unicode()` per character.
    */
  def fingerprint64(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Morton/Z-order interleave: spread the low 32 bits of x into the even
    * bit positions and of y into the odd ones. Nearby (x, y) points get
    * nearby z-values, so range-partitioning + sorting by z clusters
    * multi-dimensional neighborhoods into the same files/row groups.
    */
  def interleaveBits(x: Int, y: Int): Long = {
    var a = x.toLong & 0xFFFFFFFFL
    var b = y.toLong & 0xFFFFFFFFL
    a = (a | (a << 16)) & 0x0000FFFF0000FFFFL
    a = (a | (a << 8)) & 0x00FF00FF00FF00FFL
    a = (a | (a << 4)) & 0x0F0F0F0F0F0F0F0FL
    a = (a | (a << 2)) & 0x3333333333333333L
    a = (a | (a << 1)) & 0x5555555555555555L
    b = (b | (b << 16)) & 0x0000FFFF0000FFFFL
    b = (b | (b << 8)) & 0x00FF00FF00FF00FFL
    b = (b | (b << 4)) & 0x0F0F0F0F0F0F0F0FL
    b = (b | (b << 2)) & 0x3333333333333333L
    b = (b | (b << 1)) & 0x5555555555555555L
    a | (b << 1)
  }

  /** Pack an array of distinct non-negative int ids into a fixed-width
    * long bitset (`nWords` 64-bit words). Ids ≥ nWords·64 are a caller
    * bug — bounds are enforced by the dictionary build.
    */
  def idsToBitset(ids: ArrayData, nWords: Int): Array[Long] = {
    val out = new Array[Long](nWords)
    val n = ids.numElements()
    var i = 0
    while (i < n) {
      val id = ids.getInt(i)
      out(id >>> 6) |= (1L << (id & 63))
      i += 1
    }
    out
  }

  /** A shingle array → packed bitset of its tokens' ids in `dict`, a
    * binary-sorted distinct dictionary: one binary search per shingle,
    * ⌈|dict|/64⌉ words out. A shingle missing from the dictionary sets no
    * bit (the dictionary build collects every token, so none is missing).
    */
  def shinglesToBitset(sh: ArrayData, dict: Array[UTF8String]): Array[Long] = {
    val out = new Array[Long]((dict.length + 63) >>> 6)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val id = dictIndex(dict, sh.getUTF8String(i))
      if (id >= 0) out(id >>> 6) |= (1L << (id & 63))
      i += 1
    }
    out
  }

  /** Index of `tok` in the binary-sorted `dict`, or -1. */
  private def dictIndex(dict: Array[UTF8String], tok: UTF8String): Int = {
    var lo = 0
    var hi = dict.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = dict(mid).binaryCompare(tok)
      if (cmp < 0) lo = mid + 1
      else if (cmp > 0) hi = mid - 1
      else return mid
    }
    -1
  }

  /** Exact Jaccard of two equal-width long bitsets:
    * popcount(AND)/popcount(OR). For a token universe of U distinct values
    * this is U/64 word ops per pair — the verification kernel of choice
    * when a dictionary fits (small-universe corpora), ~50× cheaper than a
    * string merge scan. 0/0 (both empty) → NaN, matching set semantics.
    */
  def bitsetJaccard(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var inter = 0
    var union = 0
    var i = 0
    while (i < n) {
      val wa = a.getLong(i)
      val wb = b.getLong(i)
      inter += java.lang.Long.bitCount(wa & wb)
      union += java.lang.Long.bitCount(wa | wb)
      i += 1
    }
    inter.toDouble / union.toDouble
  }

  /** Row i's pairs in an all-pairs exact Jaccard join over packed
    * bitsets sorted by set size: `bits(k)` has popcount `sz(k)`, ascending
    * in k. It checks each j > i while sz(i) ≥ ⌈t·sz(j)⌉, the size band
    * J ≥ t needs, which the sort turns into a loop bound (its ceiling errs
    * loose by 1e-6, as the exact check follows). A pair costs one
    * popcount(a AND b) per word, since |a ∪ b| = sz(i) + sz(j) − inter,
    * and jac is the same inter/union double division as [[bitsetJaccard]].
    * Rows of equal `rank` never pair; `emit` gets (lower-rank row,
    * higher-rank row, jac) for every jac ≥ t.
    */
  def bitsetPairsOf(bits: Array[Array[Long]], sz: Array[Int], rank: Array[Int],
                    threshold: Double, i: Int)(emit: (Int, Int, Double) => Unit): Unit = {
    val n = sz.length
    val a = bits(i)
    val si = sz(i)
    var j = i + 1
    while (j < n && si >= math.ceil(sz(j) * threshold - 1e-6)) {
      if (rank(i) != rank(j)) {
        val b = bits(j)
        var inter = 0
        var w = 0
        while (w < a.length) {
          inter += java.lang.Long.bitCount(a(w) & b(w))
          w += 1
        }
        val jac = inter.toDouble / (si + sz(j) - inter).toDouble
        if (jac >= threshold) {
          if (rank(i) < rank(j)) emit(i, j, jac) else emit(j, i, jac)
        }
      }
      j += 1
    }
  }

  /** Jaccard over two SORTED-DISTINCT string arrays (binary order, as
    * produced by `array_sort`; no null elements) with a threshold
    * early-exit: returns the exact Jaccard when it is ≥ `thresh`, else
    * -1.0. Downstream `>= thresh` filters are therefore unchanged — a
    * pruned pair's true Jaccard is below the threshold by construction.
    *
    * Linear merge, no allocation, no hashing; the upper bound
    * (inter + remaining)/(|A|+|B|−(inter + remaining)) is monotonically
    * tightening, so the scan aborts as soon as the pair can no longer
    * reach the threshold — for mostly-dissimilar corpora that is ~halfway
    * through. This is the verification kernel of the prefix-filter
    * similarity-join family (PPJoin et al., public literature).
    */
  def jaccardSortedGE(a: ArrayData, b: ArrayData, thresh: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // J = I/(na+nb-I) ≥ t  ⟺  I·(1+t) ≥ t·(na+nb): one fused bound check
    // per step against the best-case final intersection, no division.
    // The 1e-6 slack keeps the exit conservative: t·(na+nb) computed in
    // doubles can land one ulp above the exact rational (t=0.55, na=60,
    // nb=33 → 51.150000000000006 > 51.15) and would discard a pair whose
    // Jaccard equals the threshold exactly. Failing to exit early is
    // harmless (the final exact check decides); exiting wrongly is not.
    val need = thresh * (na + nb) - 1e-6
    val onePlusT = 1.0 + thresh
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      if ((inter + math.min(na - i, nb - j)) * onePlusT < need) return -1.0
      val cmp = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val jac = inter.toDouble / (na + nb - inter).toDouble
    if (jac >= thresh) jac else -1.0
  }

  /** Distinct character n-gram shingles of a string, optionally in binary
    * sorted order — native replacement for
    * `array_distinct(transform(sequence(1, greatest(len-n+1, 1)), i ->
    * substr(i, n)))` with identical SET semantics (first-occurrence order
    * differs once sorted; every consumer is order-insensitive):
    * a string shorter than n (including empty) contributes itself, clamped.
    * Char-correct for multi-byte UTF-8: one pass records char start
    * offsets, shingles are byte slices between them.
    */
  def charShingles(s: UTF8String, n: Int, sorted: Boolean): ArrayData = {
    val numBytes = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // char-start byte offsets (ASCII fast path would scan identically)
    val starts = new Array[Int](s.numChars + 1)
    var c = 0
    var b = 0
    while (b < numBytes) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(org.apache.spark.unsafe.Platform.getByte(base, off + b))
      c += 1
    }
    starts(c) = numBytes
    val numChars = c
    if (numChars < n) {
      return new GenericArrayData(Array[Any](s.copy()))
    }
    val set = new java.util.LinkedHashSet[UTF8String](numChars * 2)
    var i = 0
    while (i + n <= numChars) {
      val from = starts(i)
      val until = starts(i + n)
      val bytes = new Array[Byte](until - from)
      org.apache.spark.unsafe.Platform.copyMemory(
        base, off + from, bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        until - from)
      set.add(UTF8String.fromBytes(bytes))
      i += 1
    }
    val arr = set.toArray(new Array[UTF8String](set.size))
    if (sorted) {
      java.util.Arrays.sort(arr, new java.util.Comparator[UTF8String] {
        override def compare(x: UTF8String, y: UTF8String): Int = x.binaryCompare(y)
      })
    }
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  private final val Seed1 = 42L   // Spark's xxhash64 default seed
  private final val Seed2 = 7919L

  /** Murmur3 64-bit finalizer — full-avalanche bit mix. */
  @inline private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** k-component MinHash signature in ONE pass over the shingle array:
    * component i is min over shingles of fmix64(h1(s) + i·h2(s)) — double
    * hashing ("Less Hashing, Same Performance", Kirsch & Mitzenmacher
    * 2006, public) so each shingle costs 2 xxhash64 calls instead of k.
    * The fmix64 finalizer is load-bearing: without it, adjacent components
    * share their argmin shingle (h1 + i·h2 is monotone in i between
    * shingles), entire LSH bands collide spuriously, and the band join's
    * candidate count explodes.
    */
  def minhashSig(shingles: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed1)
        val h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed2)
        var j = 0
        var g = h1
        while (j < k) {
          val v = fmix64(g)
          if (v < mins(j)) mins(j) = v
          g += h2
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Fraction of equal components between two equal-length signatures. */
  def sigEqFrac(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n.toDouble
  }

  /** [[sigEqFrac]] with an early-exit floor: the exact fraction when it
    * is `>= floor`, else -1.0. The banded joins evaluate this once per
    * ENUMERATED bucket pair — for the dominant sub-threshold pairs
    * (equal-rate ≈ their true Jaccard, well under the floor) the exit
    * fires once the remaining components can no longer reach the floor,
    * ~halfway through the signature. Same conservative-slack discipline
    * as [[jaccardSortedGE]]: `floor·n` computed in doubles can land one
    * ulp above the exact rational, so the exit under-fires rather than
    * discarding a pair whose fraction equals the floor exactly; the
    * final exact division decides survivors. n=0 returns NaN exactly
    * like sigEqFrac's 0/0 (and NaN sorts above any floor in Spark's
    * double ordering, so filters keep it — unreachable for fixed-k
    * signatures, pinned only for drop-in equivalence).
    */
  def sigEqFracGE(a: ArrayData, b: ArrayData, floor: Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return Double.NaN
    val need = floor * n - 1e-6
    var eq = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      else if (eq + (n - i - 1) < need) return -1.0
      i += 1
    }
    val f = eq.toDouble / n.toDouble
    if (f >= floor) f else -1.0
  }

  /** Row i's pairs in a MinHash-LSH self-join over docs in id order:
    * `bh(r·bands + b)` is row r's band-b hash and `next(r·bands + b)` the
    * next row r' > r of its band-b bucket, -1 at the bucket's end. For
    * each band b it walks row i's later bucket-mates j and checks a pair
    * only in the FIRST band where the two rows' hashes agree, so a pair
    * sharing several buckets is checked once. `emit` gets (j, est) for
    * every est = [[sigEqFracGE]](sig i, sig j, t) ≥ t.
    */
  def lshPairsOf(sigs: Array[ArrayData], bh: Array[Int], next: Array[Int], bands: Int,
                 threshold: Double, i: Int)(emit: (Int, Double) => Unit): Unit = {
    val bi = i * bands
    var b = 0
    while (b < bands) {
      var j = next(bi + b)
      while (j >= 0) {
        val bj = j * bands
        var c = 0
        while (c < b && bh(bi + c) != bh(bj + c)) c += 1
        if (c == b) {
          val est = sigEqFracGE(sigs(i), sigs(j), threshold)
          if (est >= threshold) emit(j, est)
        }
        j = next(bj + b)
      }
      b += 1
    }
  }

  /** 64-bit SimHash over a token array: per-token xxhash64 (seed 42, same
    * as Spark's builtin), ±1 vote per bit, sign → bit.
    */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, Seed1)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  // --------------------------------------------------------- IVF
  /** Index of the max-cosine centroid for a float vector; ties → lower id.
    * `centroids` is row-major C×dim with precomputed inverse norms so the
    * inner loop is dim multiply-adds per centroid.
    */
  def nearestCentroid(emb: ArrayData, centroids: Array[Double],
                      invNorms: Array[Double], dim: Int): Int = {
    val c = invNorms.length
    var best = 0
    var bestScore = Double.NegativeInfinity
    var ci = 0
    while (ci < c) {
      var acc = 0.0
      val base = ci * dim
      val n = math.min(dim, emb.numElements())
      var d = 0
      while (d < n) { acc += emb.getFloat(d).toDouble * centroids(base + d); d += 1 }
      val score = acc * invNorms(ci) // query norm constant across centroids
      if (score > bestScore) { bestScore = score; best = ci }
      ci += 1
    }
    best
  }

  /** Ids of the `nprobe` max-cosine centroids, best-first (selection pass —
    * C is small by construction).
    */
  def topCentroids(emb: ArrayData, centroids: Array[Double],
                   invNorms: Array[Double], dim: Int, nprobe: Int): Array[Int] = {
    val c = invNorms.length
    val scores = new Array[Double](c)
    var ci = 0
    while (ci < c) {
      var acc = 0.0
      val base = ci * dim
      val n = math.min(dim, emb.numElements())
      var d = 0
      while (d < n) { acc += emb.getFloat(d).toDouble * centroids(base + d); d += 1 }
      scores(ci) = acc * invNorms(ci)
      ci += 1
    }
    val k = math.min(nprobe, c)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](c)
    var r = 0
    while (r < k) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      ci = 0
      while (ci < c) {
        if (!taken(ci) && scores(ci) > bestScore) { bestScore = scores(ci); best = ci }
        ci += 1
      }
      if (best < 0) {
        // every remaining score is NaN (NaN embedding values): degrade to
        // index order rather than throwing on taken(-1)
        ci = 0
        while (ci < c && best < 0) { if (!taken(ci)) best = ci; ci += 1 }
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    out
  }

  // --------------------------------------------------------- RHP-LSH
  /** Deterministic hyperplane weight, identical to the expression-tree
    * formula it replaces: pmod(xxhash64(t·1000003 + b·7919 + d), 1e5)/1e5
    * − 0.5 (xxhash64 over an int literal = XXH64.hashInt(v, 42)).
    */
  private def rhpWeight(table: Int, bit: Int, d: Int): Double = {
    val h = XXH64.hashInt(table * 1000003 + bit * 7919 + d, Seed1)
    val m = ((h % 100000L) + 100000L) % 100000L
    m / 100000.0 - 0.5
  }

  /** weights[(t*bits + b)*dim + d], cached per (dim, bits, tables). */
  private val weightCache = new ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def weights(dim: Int, bits: Int, tables: Int): Array[Double] =
    weightCache.computeIfAbsent((dim, bits, tables), { key =>
      val (dm, bt, tb) = key
      val w = new Array[Double](tb * bt * dm)
      var t = 0
      while (t < tb) {
        var b = 0
        while (b < bt) {
          var d = 0
          while (d < dm) {
            w((t * bt + b) * dm + d) = rhpWeight(t, b, d)
            d += 1
          }
          b += 1
        }
        t += 1
      }
      w
    })

  /** Edit distance when ≤ 1, else −1 — same contract as Spark's
    * `levenshtein(a, b, 1)` but O(n) with zero allocation instead of the
    * banded DP: at distance ≤ 1 the greedy first-mismatch rule is exact
    * (advance both for a substitution, the longer side for an
    * insertion/deletion, then the suffixes must match codepoint-for-
    * codepoint). Codepoint-walk keeps it equal to Levenshtein's
    * character semantics for multibyte text. The FastSS verify runs this
    * once per candidate pair — on ~1M pairs the DP was the dominant cost.
    */
  def editDistLe1(ua: UTF8String, ub: UTF8String): Int = {
    val a = ua.toString
    val b = ub.toString
    if (a.equals(b)) return 0
    // codepoint counts, NOT UTF-16 lengths: a supplementary char makes the
    // two orderings disagree and would misroute substitution vs insertion
    val cpA = a.codePointCount(0, a.length)
    val cpB = b.codePointCount(0, b.length)
    if (math.abs(cpA - cpB) > 1) return -1
    val (s, t) = if (cpA <= cpB) (a, b) else (b, a)
    val sameLen = cpA == cpB
    var i = 0 // index into s (codepoint-shorter or equal)
    var j = 0 // index into t
    var edits = 0
    while (i < s.length && j < t.length) {
      val cs = s.codePointAt(i)
      val ct = t.codePointAt(j)
      if (cs == ct) {
        i += Character.charCount(cs)
        j += Character.charCount(ct)
      } else {
        edits += 1
        if (edits > 1) return -1
        if (sameLen) { // substitution
          i += Character.charCount(cs)
          j += Character.charCount(ct)
        } else { // insertion in the codepoint-longer side
          j += Character.charCount(ct)
        }
      }
    }
    // trailing remainder on the longer side is one more edit per codepoint
    while (j < t.length) {
      edits += 1
      if (edits > 1) return -1
      j += Character.charCount(t.codePointAt(j))
    }
    edits
  }

  /** Gear table for content-defined chunking: 256 pseudo-random longs,
    * derived deterministically (splitmix64 of the byte value) so chunk
    * boundaries are stable across engines, sessions, and partitionings.
    */
  private val gearTable: Array[Long] = Array.tabulate(256) { b =>
    var z = b.toLong * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Content-defined chunk boundaries (Gear hash CDC — the FastCDC/ddelta
    * family, public literature: Xia et al., USENIX ATC'16): walk the
    * codepoints keeping a shifting Gear hash; a boundary lands where the
    * top `maskBits` bits of the hash are zero (expected chunk length ≈
    * minSize + 2^maskBits), subject to [minSize, maxSize] bounds. Returns
    * the chunk END offsets in codepoints, last == length.
    *
    * Why CDC instead of fixed-size chunking for a training corpus:
    * boundaries depend only on a sliding content window (the Gear hash's
    * `<< 1` ages a codepoint out of the top bits after ~64 steps), so an
    * insertion near the start of a re-crawled document shifts ONE chunk's
    * boundary and every later chunk re-aligns — its fingerprint dedups
    * against the previous crawl. Fixed-size chunks all shift and nothing
    * dedups. Single pass, O(1) state, codegen-friendly — scan-speed at
    * 100 TB.
    */
  def cdcChunkBounds(s: UTF8String, minSize: Int, maskBits: Int,
                     maxSize: Int): Array[Int] = {
    val str = s.toString
    val n = str.length
    val mask = ((1L << maskBits) - 1) << (64 - maskBits)
    val ends = new scala.collection.mutable.ArrayBuffer[Int](8)
    var h = 0L
    var chunkLen = 0
    var i = 0   // UTF-16 index into str
    var pos = 0 // codepoint offset — matches Spark substring() semantics
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      pos += 1
      h = (h << 1) + gearTable(cp & 0xFF) + (cp >>> 8)
      chunkLen += 1
      if ((chunkLen >= minSize && (h & mask) == 0L) || chunkLen >= maxSize) {
        ends += pos
        h = 0L
        chunkLen = 0
      }
    }
    if (chunkLen > 0 || ends.isEmpty) ends += pos
    ends.toArray
  }

  /** One random-hyperplane sign-LSH bucket id per hash table: bit b of
    * table t is sign(Σ_d emb[d]·w[t,b,d]). Single pass per (t,b).
    */
  def rhpBuckets(emb: ArrayData, bits: Int, tables: Int): Array[Long] = {
    val dim = emb.numElements()
    val w = weights(dim, bits, tables)
    val v = new Array[Double](dim)
    var d = 0
    while (d < dim) { v(d) = emb.getFloat(d).toDouble; d += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var proj = 0.0
        d = 0
        while (d < dim) { proj += v(d) * w(base + d); d += 1 }
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}
