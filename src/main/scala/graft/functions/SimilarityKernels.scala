package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Scalar similarity kernels invoked from codegen'd Catalyst expressions.
  *
  * Spark-native re-expression of the reference's pairwise scoring stage
  * (reference: nordlys/retrieval/scorer.py:197-269 — mixture-of-field LM
  * scoring of (mention, entity) candidates). The graft scores candidate
  * *pairs* with batched string-similarity kernels instead; Jaro-Winkler is
  * the one kernel Spark lacks as a built-in (levenshtein exists).
  *
  * The Jaro-Winkler definition matches the standard Winkler variant
  * (prefix scale p=0.1, max prefix 4, boost only when jaro > 0.7), which is
  * also what DuckDB's `jaro_winkler_similarity` (rapidfuzz) computes — that
  * equivalence is what the oracle harness checks.
  */
object SimilarityKernels {

  /** Jaro similarity in [0,1] over unicode *code points* — the unit
    * Catalyst's `Length` and DuckDB count; UTF-16 `charAt` iteration would
    * diverge from both on supplementary-plane text.
    */
  def jaro(s1: String, s2: String): Double = {
    val a = s1.codePoints().toArray
    val b = s2.codePoints().toArray
    jaroCp(a, b)
  }

  private def jaroCp(a: Array[Int], b: Array[Int]): Double = {
    val len1 = a.length
    val len2 = b.length
    if (len1 == 0 && len2 == 0) return 1.0
    if (len1 == 0 || len2 == 0) return 0.0
    val matchDist = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && a(i) == b(j)) {
          matched1(i) = true
          matched2(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars out of order, halved
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    (mm / len1 + mm / len2 + (mm - t / 2) / mm) / 3.0
  }

  /** Jaro-Winkler: jaro boosted by shared prefix (≤4) when jaro > 0.7. */
  def jaroWinkler(s1: String, s2: String): Double =
    jwCp(s1.codePoints().toArray, s2.codePoints().toArray)

  private def jwCp(a: Array[Int], b: Array[Int]): Double = {
    val j = jaroCp(a, b)
    if (j > 0.7) {
      var l = 0
      val maxL = math.min(4, math.min(a.length, b.length))
      while (l < maxL && a(l) == b(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }

  /** UTF8String → code points. Pure-ASCII values — which is what every
    * scoring path feeds (prefixes are `norm_text` output, alphabet
    * [a-z0-9 ]) — are widened straight from the UTF-8 bytes, skipping
    * the String materialization + codePoints stream the per-pair hot
    * loops previously paid twice per comparison; ASCII bytes ARE their
    * code points, so the result is bit-identical. Any byte ≥ 0x80 falls
    * back to the full decode.
    */
  private def codePoints(s: UTF8String): Array[Int] = {
    val b = s.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) < 0) return s.toString.codePoints().toArray
      i += 1
    }
    val out = new Array[Int](b.length)
    i = 0
    while (i < b.length) { out(i) = b(i); i += 1 }
    out
  }

  /** Entry point used by generated code (UTF8String in the codegen path). */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    jwCp(codePoints(a), codePoints(b))

  /** Banded Levenshtein distance over code points, -1 when > maxDist.
    *
    * Replaces the built-in `levenshtein(l, r, threshold)` in the scoring
    * hot path: the built-in decodes UTF8 bytes per cell access, measured
    * 135 s for 733k pairs of 256-char prefixes at local[4]; this kernel
    * decodes each string once into code-point arrays and runs the
    * O((2·maxDist+1)·len) band on ints. Same contract as the built-in
    * (distance, or -1 beyond the threshold), code-point units matching
    * DuckDB's levenshtein.
    */
  def levenshteinBanded(s1: UTF8String, s2: UTF8String, maxDist: Int): Int = {
    val a = codePoints(s1)
    val b = codePoints(s2)
    if (maxDist < 0 || math.abs(a.length - b.length) > maxDist) return -1
    val d = levenshteinMyersCp(a, b)
    if (d <= maxDist) d else -1
  }

  /** Myers/Hyyrö bit-parallel Levenshtein distance over code points —
    * O(⌈m/64⌉·n) word ops, independent of any threshold. Pattern = the
    * shorter string; per-block horizontal deltas chained via the hin/hout
    * carries (Hyyrö 2003's blocked formulation, the same scheme edlib
    * uses). Padding bits above row m evolve freely but only propagate
    * upward (left shifts / add carries), never into the live bits that
    * the row-m delta is read from.
    */
  private[graft] def levenshteinMyersCp(aIn: Array[Int], bIn: Array[Int]): Int = {
    var a = aIn
    var b = bIn
    if (a.length > b.length) { val t = a; a = b; b = t }
    val m = a.length
    val n = b.length
    if (m == 0) return n
    val nb = (m + 63) >> 6
    // pattern alphabet: sorted unique code points -> per-block Eq masks
    val sorted = java.util.Arrays.copyOf(a, m)
    java.util.Arrays.sort(sorted)
    var u = 0
    var i = 0
    while (i < m) {
      if (u == 0 || sorted(i) != sorted(u - 1)) { sorted(u) = sorted(i); u += 1 }
      i += 1
    }
    val peq = new Array[Long](u * nb)
    i = 0
    while (i < m) {
      val idx = java.util.Arrays.binarySearch(sorted, 0, u, a(i))
      peq(idx * nb + (i >> 6)) |= 1L << (i & 63)
      i += 1
    }
    val vp = new Array[Long](nb)
    val vn = new Array[Long](nb)
    java.util.Arrays.fill(vp, -1L)
    var score = m
    val lastMask = 1L << ((m - 1) & 63)
    val lb = nb - 1
    var j = 0
    while (j < n) {
      val idx = java.util.Arrays.binarySearch(sorted, 0, u, b(j))
      var hin = 1 // row-0 boundary: D(0, j+1) − D(0, j) = +1
      var r = 0
      while (r < nb) {
        var eq = if (idx >= 0) peq(idx * nb + r) else 0L
        val pv = vp(r)
        val mv = vn(r)
        val xv = eq | mv
        if (hin < 0) eq |= 1L
        val xh = (((eq & pv) + pv) ^ pv) | eq
        var ph = mv | ~(xh | pv)
        var mh = pv & xh
        val mask = if (r == lb) lastMask else Long.MinValue // bit 63
        var hout = 0
        if ((ph & mask) != 0L) hout = 1
        else if ((mh & mask) != 0L) hout = -1
        ph = (ph << 1) | (if (hin > 0) 1L else 0L)
        mh = (mh << 1) | (if (hin < 0) 1L else 0L)
        vp(r) = mh | ~(xv | ph)
        vn(r) = ph & xv
        hin = hout
        r += 1
      }
      score += hin // the last block's hout is the row-m delta
      j += 1
    }
    score
  }

  private[graft] def levenshteinCp(a: Array[Int], b: Array[Int], k: Int): Int = {
    val m = a.length
    val n = b.length
    if (k < 0) return -1
    if (math.abs(m - n) > k) return -1
    if (m == 0) return n
    if (n == 0) return m
    val INF = k + 1
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= k) j else INF; j += 1 }
    var i = 1
    while (i <= m) {
      val lo = math.max(1, i - k)
      val hi = math.min(n, i + k)
      cur(0) = if (i <= k) i else INF
      if (lo > 1) cur(lo - 1) = INF   // left edge outside the band
      if (hi < n) cur(hi + 1) = INF   // right edge (read by the next row)
      var rowMin = cur(0)             // j=0 boundary is a live path when i ≤ k
      j = lo
      while (j <= hi) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var v = prev(j - 1) + cost                       // substitution
        val del = prev(j) + 1
        if (del < v) v = del                             // deletion
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins                             // insertion
        if (v > INF) v = INF
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > k) return -1 // the whole band exceeded the threshold
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) > k) -1 else prev(n)
  }

  /** Set-Jaccard over two long arrays with the exact semantics of
    * `size(array_intersect(a,b)) / size(array_distinct(concat(a,b)))`:
    * |set(a) ∩ set(b)| / |set(a) ∪ set(b)|, 0.0 when the union is empty.
    * Null elements are treated as one distinct value shared by both sides
    * (array_intersect/array_distinct's null semantics).
    *
    * Why it exists: the built-in collection expressions allocate a fresh
    * hash map + output array per row; at ~10⁶ verify pairs per query this
    * kernel (one probe-only open-address long table, no boxing, no output
    * materialization) removed the dominant term of the near-dup verify
    * stage (round-6 fragment probe: token_jaccard added 4.1 s on 1.13M
    * pairs at 32 cores; see OPTIMIZATION_r06.md).
    */
  def jaccardLongSets(a: org.apache.spark.sql.catalyst.util.ArrayData,
                      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // open-address table sized for both sides; payload = the long value,
    // state tracked via a parallel byte array: 0 empty, 1 = in a only,
    // 2 = counted in intersection (or "in b" during the b pass)
    var cap = 8
    while (cap < (na + nb) * 2) cap <<= 1
    val table = new Array[Long](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var aHasNull = false; var bHasNull = false
    var da = 0 // |set(a)|
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aHasNull = true
      else {
        val v = a.getLong(i)
        var idx = (java.lang.Long.hashCode(v * -7046029254386353131L) & mask)
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        if (state(idx) == 0) { state(idx) = 1; table(idx) = v; da += 1 }
      }
      i += 1
    }
    var db = 0 // |set(b)|
    var inter = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) { if (!bHasNull) { bHasNull = true } }
      else {
        val v = b.getLong(i)
        var idx = (java.lang.Long.hashCode(v * -7046029254386353131L) & mask)
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        state(idx) match {
          case 0 => state(idx) = 3; table(idx) = v; db += 1 // b-only
          case 1 => state(idx) = 2; db += 1; inter += 1     // shared
          case _ => // already counted for b
        }
      }
      i += 1
    }
    if (aHasNull) da += 1
    if (bHasNull) db += 1
    if (aHasNull && bHasNull) inter += 1
    val union = da + db - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** String-array variant of [[jaccardLongSets]] — same set semantics over
    * UTF8String elements.
    */
  def jaccardStringSets(a: org.apache.spark.sql.catalyst.util.ArrayData,
                        b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](na * 2)
    var aHasNull = false; var bHasNull = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aHasNull = true else setA.add(a.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[UTF8String](nb * 2)
    var inter = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val v = b.getUTF8String(i)
        if (setB.add(v) && setA.contains(v)) inter += 1
      }
      i += 1
    }
    var da = setA.size(); var db = setB.size()
    if (aHasNull) da += 1
    if (bHasNull) db += 1
    if (aHasNull && bHasNull) inter += 1
    val union = da + db - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** 64-bit SimHash over token hashes: bit b of the result is 1 iff the
    * sum over tokens of (+1 / -1 for bit b of the token's hash) is > 0.
    * Token hash = xxHash64-compatible via Spark's hash of the UTF8 bytes is
    * not needed here — any stable 64-bit mix works; we use the same mix in
    * tests. Used by [[graft.operators.Dedup.simhash]].
    */
  def simhash64(tokenHashes: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokenHashes.length) {
      val h = tokenHashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
