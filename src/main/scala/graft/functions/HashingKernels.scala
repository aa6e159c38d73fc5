package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Tight-loop hashing kernels called from the codegen'd expressions in
  * [[HashingExprs]]. These replace interpreted higher-order-function
  * compositions (transform/aggregate over sequence) on the blocking hot
  * path: the HOF tree allocates boxed rows per lambda call and does a full
  * 8-byte-string hash per (shingle × hash-function) pair; these kernels
  * hash each shingle once and derive the `numHashes` MinHash slots by
  * long-remixing (XXH64.hashLong) — measured 2 orders of magnitude less
  * CPU at 10^4 docs, and allocation-free except the output array (which is
  * what lets the stage scale across executor threads instead of
  * serializing on GC).
  */
object HashingKernels {

  private val ShingleSeed = 42L

  /** MinHash signature over k-token shingles, folded straight into `bands`
    * LSH band keys. Semantics mirror
    * `band_keys(minhash_signature(word_shingles(tokens, k), H), B, H/B)`
    * modulo the hash family (different constants, same S-curve).
    */
  private val EmptyLongs = Array.empty[Long]

  /** Positional k-shingle chain-hash sequence over STRING tokens. */
  private def shingleHashSeq(toks: ArrayData, k: Int, seed: Long): Array[Long] = {
    val n = toks.numElements()
    if (n == 0) return EmptyLongs
    val nSh = if (n <= k) 1 else n - k + 1 // short docs: one whole-doc shingle
    val hs = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = seed
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        val t = toks.getUTF8String(j)
        h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    hs
  }

  /** Positional k-shingle hash sequence over PRE-HASHED tokens
    * (array<long>): one `XXH64.hashLong` per token instead of re-hashing
    * token bytes. This is the 100-TB path — docs materialize 64-bit token
    * hashes ONCE at assembly, and every blocking/verify consumer streams
    * 8 bytes/token from cache instead of the string payload (the blocks
    * stage is bandwidth-bound, BASELINE.md round 3). Different hash family
    * than the string chain (internal keys — nothing requires them equal).
    */
  private def shingleHashSeqFromHashes(tokH: ArrayData, k: Int, seed: Long): Array[Long] = {
    val n = tokH.numElements()
    if (n == 0) return EmptyLongs
    val nSh = if (n <= k) 1 else n - k + 1
    val hs = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = seed
      var j = i
      val end = math.min(i + k, n)
      while (j < end) { h = XXH64.hashLong(tokH.getLong(j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    hs
  }

  /** MinHash slots + band fold over a positional shingle-hash sequence. */
  private def bandKeysFromSeq(hs: Array[Long], numHashes: Int, bands: Int): ArrayData = {
    // zero shingles → zero keys: an empty doc is unblockable, not a member
    // of every band bucket (which would make punctuation-only docs a hot
    // key AND pair them all with each other)
    if (hs.length == 0) return new GenericArrayData(EmptyLongs)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var s = 0
      while (s < numHashes) {
        val g = XXH64.hashLong(hs(i), s)
        if (g < mins(s)) mins(s) = g
        s += 1
      }
      i += 1
    }
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b, 777L)
      var s = b * r
      val end = (b + 1) * r
      while (s < end) { h = XXH64.hashLong(mins(s), h); s += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  def minhashBandKeys(toks: ArrayData, k: Int, numHashes: Int, bands: Int): ArrayData =
    bandKeysFromSeq(shingleHashSeq(toks, k, ShingleSeed), numHashes, bands)

  def minhashBandKeysFromHashes(tokH: ArrayData, k: Int, numHashes: Int,
                                bands: Int): ArrayData =
    bandKeysFromSeq(shingleHashSeqFromHashes(tokH, k, ShingleSeed), numHashes, bands)

  /** All word n-grams of lengths 1..maxN, space-joined, in order — the
    * reference's all-lengths n-gram generator (query.py:72-86) as a single
    * pass. Returns array<string>.
    */
  def ngramsUpTo(toks: ArrayData, maxN: Int): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val top = math.min(maxN, n)
    var total = 0
    var len = 1
    while (len <= top) { total += n - len + 1; len += 1 }
    val out = new Array[Any](total)
    var idx = 0
    len = 1
    while (len <= top) {
      var i = 0
      while (i + len <= n) {
        if (len == 1) out(idx) = toks.getUTF8String(i)
        else {
          val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * len - 1)
          var j = 0
          while (j < len) {
            if (j > 0) parts(2 * j - 1) = Space
            parts(2 * j) = toks.getUTF8String(i + j)
            j += 1
          }
          out(idx) = org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
        }
        idx += 1
        i += 1
      }
      len += 1
    }
    new GenericArrayData(out)
  }

  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Contiguous k-token shingles (space-joined strings), whole-doc fallback
    * for docs shorter than k, none for zero tokens (as [[shingleHashes]]:
    * empty docs must not share a block) — the native replacement for the
    * transform/slice/array_join HOF tree (HOFs are interpreted, not
    * codegen'd; measured ~0.5 ms/doc interpreted vs ~µs here).
    */
  def wordShingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    if (n < k) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        if (j > 0) parts(2 * j - 1) = Space
        parts(2 * j) = toks.getUTF8String(j)
        j += 1
      }
      return new GenericArrayData(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.concat(parts.toIndexedSeq: _*)))
    }
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i + k <= n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * k - 1)
      var j = 0
      while (j < k) {
        if (j > 0) parts(2 * j - 1) = Space
        parts(2 * j) = toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concat(parts.toIndexedSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit hashes of the k-token shingles (optionally deduplicated) —
    * the allocation-free path for blocking keys and Jaccard verify sets:
    * no shingle string is ever materialized; each token's bytes are
    * chain-hashed (same scheme as [[minhashBandKeys]]). `seed` namespaces
    * hash families (exact-shingle block keys must not collide with LSH
    * band keys in hybrid blocking).
    */
  private def maybeDedup(out: Array[Long], distinct: Boolean): ArrayData = {
    if (!distinct) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  // zero tokens → empty set (NOT a [seed] sentinel): two docs that both
  // normalize to nothing must score token_jaccard 0.0, not 1.0, and an
  // empty doc must not carry a shared block key
  def shingleHashes(toks: ArrayData, k: Int, seed: Long, distinct: Boolean): ArrayData =
    maybeDedup(shingleHashSeq(toks, k, seed), distinct)

  def shingleHashesFromHashes(tokH: ArrayData, k: Int, seed: Long,
                              distinct: Boolean): ArrayData =
    maybeDedup(shingleHashSeqFromHashes(tokH, k, seed), distinct)

  /** Robust winnowing over the positional k-shingle hash sequence
    * (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD'03 — the MOSS fingerprinter): from
    * every window of `w` consecutive shingle hashes keep the minimum
    * (rightmost on ties), then dedup. Guarantee: two documents sharing any
    * token run of length ≥ w + k − 1 share at least one selected
    * fingerprint — selection depends only on hash values, so shared
    * windows select identically. Cuts exact-shingle blocking keys ~w×
    * (and the cross-block redundant pair enumeration with them) while
    * keeping long-run recall.
    */
  private def winnowFromSeq(hs: Array[Long], w: Int): ArrayData = {
    val nSh = hs.length
    if (nSh == 0) return new GenericArrayData(EmptyLongs) // see shingleHashes
    if (nSh <= w) { // short doc: one global fingerprint
      var m = hs(0)
      var i = 1
      while (i < nSh) { if (hs(i) < m) m = hs(i); i += 1 }
      return new GenericArrayData(Array(m))
    }
    val sel = new Array[Long](nSh - w + 1)
    var cnt = 0
    var prevPos = -1
    var i = 0
    while (i + w <= nSh) {
      var mp = i // rightmost min of hs[i, i+w)
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(mp)) mp = j; j += 1 }
      if (mp != prevPos) { sel(cnt) = hs(mp); cnt += 1; prevPos = mp }
      i += 1
    }
    java.util.Arrays.sort(sel, 0, cnt)
    var wr = 0
    var r = 0
    while (r < cnt) {
      if (wr == 0 || sel(r) != sel(wr - 1)) { sel(wr) = sel(r); wr += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, wr))
  }

  def winnowedShingleHashes(toks: ArrayData, k: Int, w: Int, seed: Long): ArrayData =
    winnowFromSeq(shingleHashSeq(toks, k, seed), w)

  def winnowedShingleHashesFromHashes(tokH: ArrayData, k: Int, w: Int,
                                      seed: Long): ArrayData =
    winnowFromSeq(shingleHashSeqFromHashes(tokH, k, seed), w)

  /** All unordered pairs (a < b) of a long member array, sorted — the pair
    * enumeration inside a capped block. Output: array<struct<a,b>>.
    * Input arrays are bounded by the block cap, so n² stays tiny; the
    * tight loop avoids the interpreted nested-transform tree (measured
    * ~10× on 10^6 blocks).
    */
  def pairCombosLong(members: ArrayData): ArrayData = {
    val arr = members.toLongArray()
    java.util.Arrays.sort(arr)
    val n = arr.length
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        row.setLong(0, arr(i))
        row.setLong(1, arr(j))
        out(idx) = row
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over token hashes (one XXH64 per token, bit votes). */
  def simhash64(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}
