package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level primitives of the engine — every function here composes
  * built-in (codegen'd) Spark expressions; the only custom Catalyst
  * expression is [[functions.JaroWinklerExpr]]. No Scala UDFs anywhere:
  * UDFs are black boxes to Catalyst (no pushdown through them, no codegen),
  * which matters at 100 TB.
  */
package object functions {

  import org.apache.spark.sql.graftinternal.Internals

  /** Jaro-Winkler similarity in [0,1] (custom codegen'd Catalyst expr). */
  def jaro_winkler(a: Column, b: Column): Column =
    Internals.column(
      JaroWinklerExpr(Internals.expression(a), Internals.expression(b)))

  /** Reference text normalization (nordlys/erd/query/query.py:30-40):
    * lower-case, any non-alphanumeric run → single space, trim.
    * Byte-identical semantics are a parity invariant — native codegen'd
    * kernel; [[norm_text_builtin]] is the transparent regex composition
    * unit tests cross-check against (see [[TextKernels]] for the
    * byte-level equivalence argument).
    */
  def norm_text(c: Column): Column =
    Internals.column(NormTextExpr(Internals.expression(c)))

  /** Regex-composed normalization (interpreted-parity reference only). */
  def norm_text_builtin(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the normalized text — native kernel fusing the
    * normalization with the split (the composed form ran the JVM regex
    * twice per document and materialized the normalized string under
    * every blocking/scoring path). [[tokens_builtin]] is the reference
    * composition tests cross-check against.
    */
  def tokens(c: Column): Column =
    Internals.column(NormTokensExpr(Internals.expression(c)))

  /** Built-in-composed tokenizer (parity reference only). Empty input →
    * empty array (split of "" yields [""], which array_remove drops).
    */
  def tokens_builtin(c: Column): Column =
    array_remove(split(norm_text_builtin(c), " "), "")

  /** All word n-grams of lengths 1..maxN (space-joined), in order — native
    * codegen'd expression. The reference generates *all* lengths up to the
    * query length (nordlys/erd/query/query.py:72-86); no Spark built-in
    * emits all lengths.
    */
  def ngrams_up_to(toks: Column, maxN: Int): Column =
    Internals.column(NgramsUpToExpr(Internals.expression(toks), maxN))

  /** HOF-composed n-gram generator (transparent reference implementation;
    * unit tests cross-check the native expression against it).
    */
  def ngrams_up_to_hof(toks: Column, maxN: Int): Column =
    // guard: sequence(1, 0) would count *down* ([1,0]), so empty input
    // must short-circuit to an empty array
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(flatten(
        transform(sequence(lit(1), least(lit(maxN), size(toks))), n =>
          transform(sequence(lit(1), size(toks) - n + 1), i =>
            array_join(slice(toks, i, n), " ")))))

  /** Contiguous word shingles of exactly k tokens (space-joined); docs with
    * 1..k-1 tokens yield the whole doc as a single shingle so no doc is
    * unblockable, and zero-token docs yield none. Native codegen'd
    * expression; [[word_shingles_hof]] is the transparent reference
    * implementation tests cross-check against.
    */
  def word_shingles(toks: Column, k: Int): Column =
    Internals.column(WordShinglesExpr(Internals.expression(toks), k))

  /** HOF-composed shingle generator (interpreted — test reference only). */
  def word_shingles_hof(toks: Column, k: Int): Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < k, array(array_join(toks, " ")))
      .otherwise(
        transform(sequence(lit(1), size(toks) - k + 1), i =>
          array_join(slice(toks, i, lit(k)), " ")))

  /** 64-bit hashes of the k-token shingles, optionally deduplicated —
    * the allocation-free kernel for blocking keys and Jaccard verify sets
    * (no shingle string is materialized; token bytes are chain-hashed).
    * `seed` namespaces hash families so different key kinds never collide
    * structurally (e.g. exact-shingle blocks vs LSH bands in hybrid mode).
    */
  def shingle_hashes(toks: Column, k: Int, seed: Long = 42L,
                     distinct: Boolean = true): Column =
    Internals.column(ShingleHashesExpr(Internals.expression(toks), k, seed, distinct))

  /** Winnowed shingle fingerprints: min hash (rightmost tie) of each
    * w-window of the positional k-shingle hash sequence, deduplicated —
    * ~w× fewer keys than [[shingle_hashes]] with a guaranteed shared
    * fingerprint for any shared token run of length ≥ w + k − 1
    * (Schleimer et al., SIGMOD'03).
    */
  def winnowed_shingle_hashes(toks: Column, k: Int, w: Int,
                              seed: Long = 42L): Column =
    Internals.column(WinnowedShingleHashesExpr(Internals.expression(toks), k, w, seed))

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum xxhash64 over the element set. Null-safe for empty arrays
    * (yields nulls which callers must filter). All built-in exprs.
    */
  def minhash_signature(elems: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(elems, e => xxhash64(e, h))))

  /** LSH band keys from a MinHash signature: `bands` keys, each hashing
    * `rowsPerBand` consecutive signature slots together with the band index
    * (so keys from different bands never collide).
    */
  def band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Count of code points in [A-Za-z0-9 ] — native kernel ≡
    * `length(regexp_replace(c, "[^A-Za-z0-9 ]", ""))` (the quality
    * operator's alpha count); [[ascii_alnum_space_count_builtin]] is the
    * parity reference.
    */
  def ascii_alnum_space_count(c: Column): Column =
    Internals.column(AsciiAlnumSpaceCountExpr(Internals.expression(c)))

  /** Regex-composed alpha count (parity reference only). */
  def ascii_alnum_space_count_builtin(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z0-9 ]", ""))

  /** BPE-ish subword count — native kernel ≡
    * `size(regexp_extract_all(lower(c), "[a-z]+|[0-9]|[^a-z0-9\\s]", 0))`;
    * [[bpe_count_builtin]] is the parity reference.
    */
  def bpe_count(c: Column): Column =
    Internals.column(BpeCountExpr(Internals.expression(c)))

  /** Regex-composed subword count (parity reference only). */
  def bpe_count_builtin(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /** Token-set Jaccard similarity of two arrays (array<string> or
    * array<long>; distinct-element semantics). 0.0 when the union is
    * empty. Native codegen'd kernel — the composed
    * intersect/distinct/concat form ([[token_jaccard_hof]]) allocates a
    * hash map and an output array per row and dominated the near-dup
    * verify stage at ~10⁶ pairs/query (round 6).
    */
  def token_jaccard(a: Column, b: Column): Column =
    Internals.column(
      JaccardSetExpr(Internals.expression(a), Internals.expression(b)))

  /** Built-in-composed Jaccard (interpreted-parity reference: unit tests
    * cross-check the native kernel against this shape).
    */
  def token_jaccard_hof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_distinct(concat(a, b))).cast("double")
    when(uni === 0d, 0d).otherwise(inter / uni)
  }

  /** Levenshtein similarity in [0,1] via the native banded kernel
    * (code points decoded once per value; O(maxDist·len) band) — the
    * built-in threshold variant re-decodes UTF8 bytes per DP cell and was
    * the scoring stage's hot spot (135 s of 173 s at 733k pairs).
    * Distances beyond maxDist floor to 0.
    */
  def levenshtein_sim(a: Column, b: Column, maxDist: Int): Column = {
    val longest = greatest(length(a), length(b)).cast("double")
    val d = Internals.column(LevenshteinBandedExpr(
      Internals.expression(a), Internals.expression(b), maxDist)).cast("double")
    when(longest === 0d, 1d)
      .otherwise(when(d < 0d || d > lit(maxDist.toDouble), 0d)
        .otherwise(lit(1d) - d / longest))
  }

  /** Built-in-levenshtein variant (interpreted-parity reference only). */
  def levenshtein_sim_builtin(a: Column, b: Column, maxDist: Int): Column = {
    val longest = greatest(length(a), length(b)).cast("double")
    val d = levenshtein(a, b, maxDist).cast("double")
    when(longest === 0d, 1d)
      .otherwise(when(d < 0d || d > lit(maxDist.toDouble), 0d)
        .otherwise(lit(1d) - d / longest))
  }

  /** Cosine similarity of two numeric arrays in double precision — native
    * codegen'd kernel (the zip_with/aggregate HOF shape is interpreted and
    * was the ANN hot loop). Null/zero-norm → 0.0.
    */
  def cosine_sim(a: Column, b: Column): Column =
    Internals.column(
      CosineSimExpr(Internals.expression(a), Internals.expression(b)))

  /** HOF-composed cosine (interpreted — test reference only). */
  def cosine_sim_hof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0d), (acc, v) => acc + v)
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0d, 0d).otherwise(dot(a, b) / denom)
  }

  /** 1-based nearest-centroid cell by dot-product argmax; `cents` must be
    * L2-normalized rows (then dot order == cosine order). Ties → smallest
    * cell. The centroid matrix rides into generated code as a reference
    * object — no join, no fan-out.
    */
  def nearest_centroid(vec: Column, cents: Array[Array[Double]]): Column =
    Internals.column(NearestCentroidExpr(Internals.expression(vec), cents))

  /** MinHash-LSH band keys over k-token shingles — native codegen'd
    * expression (the blocking hot path; see [[HashingKernels]] for why the
    * HOF composition was replaced).
    */
  def minhash_band_keys(toks: Column, shingleK: Int, numHashes: Int, bands: Int): Column =
    Internals.column(
      MinHashBandKeysExpr(Internals.expression(toks), shingleK, numHashes, bands))

  /** All unordered (a < b) pairs of a long member array — native codegen'd
    * expression used by capped-block pair generation.
    */
  def pair_combos(members: Column): Column =
    Internals.column(PairCombosExpr(Internals.expression(members)))

  /** 64-bit SimHash of a token array — native codegen'd expression. */
  def simhash64(toks: Column): Column =
    Internals.column(SimHash64Expr(Internals.expression(toks)))

  /** HOF-composed SimHash (kept as the slow-but-transparent reference
    * implementation; unit tests cross-check the native expression's
    * bit-vote semantics against this shape).
    */
  def simhash64_hof(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    // single pass over tokens: 64 running bit-votes carried as an array
    val counts = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (c, b) =>
        c + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    val bits = zip_with(counts, sequence(lit(0), lit(63)), (c, b) =>
      when(c > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Freebase id → prefixed URI: '/m/02_286' → '<fb:m.02_286>'; null for
    * invalid ids (the reference raises — nordlys/entity/freebase/utils.py:10-19).
    */
  def fb_id_to_uri(c: Column): Column =
    when(c.startsWith("/m/"),
      concat(lit("<fb:m."), substring(c, 4, Int.MaxValue), lit(">")))

  /** Prefixed Freebase URI → id: '<fb:m.02_286>' → '/m/02_286' (utils.py:21-28). */
  def fb_uri_to_id(c: Column): Column =
    when(c.startsWith("<fb:m.") && c.endsWith(">"),
      concat(lit("/m/"), regexp_extract(c, "^<fb:m\\.(.*)>$", 1)))

  /** URI → display name (indexer.py:27-35): percent-decode, take the part
    * between the LAST ':' and '>', underscores → spaces; non-URIs pass
    * through unchanged.
    */
  def uri_to_name(c: Column): Column = {
    val dec = percent_decode(c)
    when(dec.startsWith("<") && dec.endsWith(">"),
      translate(regexp_extract(dec, ":([^:]*)>$", 1), "_", " "))
      .otherwise(dec)
  }

  /** Percent-decode (indexer.py:29 unquote). Python's unquote never raises
    * on malformed escapes (a stray '%' passes through), while Spark 4's
    * url_decode throws and fails the whole job — try_url_decode + raw-value
    * fallback reproduces the reference's tolerance on dirty data.
    */
  def percent_decode(c: Column): Column =
    coalesce(try_url_decode(c), c)

  /** Word-overlap predicate over two mention strings — column form of
    * segmentation.py:91-110 (a shared word ⇒ overlapping; within-mention
    * duplicates don't count).
    */
  def word_overlap(a: Column, b: Column): Column =
    arrays_overlap(split(a, " "), split(b, " "))
}
