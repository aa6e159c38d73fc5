package graft

import graft.functions._
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("norm_text matches reference preprocessing (query.py:30-40)") {
    val out = Seq("Hello, World!  42", "a--b__c", "").toDF("t")
      .select(norm_text($"t")).as[String].collect()
    assert(out.toSeq == Seq("hello world 42", "a b c", ""))
  }

  test("tokens drops empties") {
    val out = Seq("  Hello,   world ", "").toDF("t")
      .select(tokens($"t")).as[Seq[String]].collect()
    assert(out(0) == Seq("hello", "world"))
    assert(out(1) == Seq.empty)
  }

  test("native norm_text / tokens ≡ regex composition (unicode, punct runs, fuzz)") {
    val hand = Seq(
      "", " ", "   ", "a", "A", "0z9", "Hello, World!  42", "a--b__c",
      "  leading and trailing  ", "__--!!", "Ünïcode ÆØÅ mixed 123",
      "日本語テキスト abc 123", "emoji 😀😀 pair 😀x",
      "Turkish İ dotted", "tab\tnew\nline\r mixed", "MiXeD CaSe 0a9Z",
      "a%2Fb%20c", "ß sharp s", "ﬁ ligature")
    val rnd = new scala.util.Random(20260822)
    val alphabet = "aZ09 .,!_-\t\nü漢😀ß"
    val fuzz = (1 to 300).map { _ =>
      val n = rnd.nextInt(24)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (hand ++ fuzz).toDF("t")
    val norm = df.select(norm_text($"t").as("n"), norm_text_builtin($"t").as("h"))
      .collect()
    norm.foreach(r => assert(r.getString(0) == r.getString(1), s"norm: $r"))
    val tok = df.select(tokens($"t").as("n"), tokens_builtin($"t").as("h"))
      .as[(Seq[String], Seq[String])].collect()
    tok.foreach { case (n, h) => assert(n == h) }
    val counts = df.select(
      ascii_alnum_space_count($"t").as("a"),
      ascii_alnum_space_count_builtin($"t").as("ab"),
      bpe_count($"t").as("b"), bpe_count_builtin($"t").as("bb")).collect()
    counts.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"alpha: $r")
      assert(r.getInt(2) == r.getInt(3), s"bpe: $r")
    }
    // null passthrough
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(norm_text($"t"), tokens($"t"), ascii_alnum_space_count($"t"),
        bpe_count($"t")).collect().head
    assert((0 to 3).forall(nulls.isNullAt))
  }

  test("ngrams_up_to emits all n-grams 1..n (query.py:72-86 fixture)") {
    val out = Seq("jon gruden rumors").toDF("t")
      .select(ngrams_up_to(tokens($"t"), 3)).as[Seq[String]].head()
    assert(out.toSet == Set(
      "jon", "gruden", "rumors", "jon gruden", "gruden rumors", "jon gruden rumors"))
    assert(out.size == 6)
  }

  test("native ngrams_up_to matches the HOF reference implementation") {
    val df = Seq("a b c d e f", "x", "", "one two three four")
      .toDF("t")
    val native = df.select(ngrams_up_to(tokens($"t"), 4)).as[Seq[String]].collect()
    val hof = df.select(ngrams_up_to_hof(tokens($"t"), 4)).as[Seq[String]].collect()
    native.zip(hof).foreach { case (n, h) => assert(n == h) }
  }

  test("word_shingles: k-grams, short docs fall back to whole doc") {
    val out = Seq("a b c d", "a b", "?! ...").toDF("t")
      .select(word_shingles(tokens($"t"), 3)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a b"))
    assert(out(2).isEmpty) // zero tokens: no shingle, not [""]
  }

  test("native word_shingles matches the HOF reference implementation") {
    val df = Seq("a b c d e f g", "a b", "x", "", "?! ...", "one two three").toDF("t")
    for (k <- Seq(1, 2, 3, 5)) {
      val native = df.select(word_shingles(tokens($"t"), k)).as[Seq[String]].collect()
      val hof = df.select(word_shingles_hof(tokens($"t"), k)).as[Seq[String]].collect()
      native.zip(hof).foreach { case (n, h) => assert(n == h, s"k=$k") }
    }
  }

  test("shingle_hashes: per-doc distinct, seed-namespaced, set-isomorphic to string shingles") {
    val df = Seq("a b c a b c a b", "a b", "", "u v w x y z").toDF("t")
    val hashed = df.select(shingle_hashes(tokens($"t"), 2)).as[Seq[Long]].collect()
    val strings = df.select(array_distinct(word_shingles(tokens($"t"), 2)))
      .as[Seq[String]].collect()
    // same distinct-set sizes (hashing is injective w.h.p. on tiny sets);
    // zero-token docs give the empty set on both sides (empty docs must
    // not share a block key or score jaccard 1.0 against each other)
    hashed.zip(strings).foreach { case (h, s) =>
      assert(h.size == s.size)
      assert(h.distinct.size == h.size)
    }
    // different seeds → disjoint hash families
    val other = df.select(shingle_hashes(tokens($"t"), 2, seed = 7L)).as[Seq[Long]].collect()
    assert(hashed(0).toSet.intersect(other(0).toSet).isEmpty)
    // shared shingles ⇒ shared hashes: jaccard over hashes == over strings
    val pair = Seq(("a b c d", "b c d e")).toDF("x", "y")
    val jh = pair.select(token_jaccard(
      shingle_hashes(tokens($"x"), 2), shingle_hashes(tokens($"y"), 2))).as[Double].head()
    val js = pair.select(token_jaccard(
      word_shingles(tokens($"x"), 2), word_shingles(tokens($"y"), 2))).as[Double].head()
    assert(math.abs(jh - js) < 1e-12)
  }

  test("token_jaccard") {
    val df = Seq(("a b c", "b c d"), ("a a b", "a b"), ("", "x")).toDF("x", "y")
      .select(token_jaccard(tokens($"x"), tokens($"y")).as("j")).as[Double].collect()
    assert(math.abs(df(0) - 0.5) < 1e-12)   // {a,b,c} vs {b,c,d}: 2/4
    assert(math.abs(df(1) - 1.0) < 1e-12)   // duplicate-insensitive
    assert(df(2) == 0.0)
  }

  test("token_jaccard native kernel ≡ built-in composition (strings and longs)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300) {
      def arr() = Seq.fill(rnd.nextInt(12))(s"t${rnd.nextInt(8)}")
      (arr().mkString(" "), arr().mkString(" "))
    } ++ Seq(("", ""), ("", "x y"), ("a a a", "a"), ("a b", "c d"))
    val df = rows.toDF("x", "y")
    // string arrays (with duplicates and empties)
    val s = df.select(
      token_jaccard(split($"x", " "), split($"y", " ")).as("n"),
      token_jaccard_hof(split($"x", " "), split($"y", " ")).as("h")).collect()
    s.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // long arrays via shingle hashes (the verify-stage shape)
    val l = df.select(
      token_jaccard(shingle_hashes(tokens($"x"), 1, distinct = false),
        shingle_hashes(tokens($"y"), 1, distinct = false)).as("n"),
      token_jaccard_hof(shingle_hashes(tokens($"x"), 1, distinct = false),
        shingle_hashes(tokens($"y"), 1, distinct = false)).as("h")).collect()
    l.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
    // null input → null, both forms
    val n = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(token_jaccard($"a", $"b"), token_jaccard_hof($"a", $"b")).collect()
    assert(n(0).isNullAt(0) && n(0).isNullAt(1))
  }

  test("jaro_winkler column expr matches scalar kernel and codegens") {
    val df = Seq(("martha", "marhta"), ("dixon", "dicksonx")).toDF("a", "b")
      .select(jaro_winkler($"a", $"b").as("jw"))
    val out = df.as[Double].collect()
    assert(math.abs(out(0) - SimilarityKernels.jaroWinkler("martha", "marhta")) < 1e-12)
    assert(math.abs(out(1) - SimilarityKernels.jaroWinkler("dixon", "dicksonx")) < 1e-12)
    // stays inside whole-stage codegen (inputs derived from range so the
    // projection isn't constant-folded into a LocalTableScan)
    val live = spark.range(4).select(
      jaro_winkler(concat(lit("martha"), $"id".cast("string")),
        concat(lit("marhta"), $"id".cast("string"))).as("jw"))
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // "*" = whole-stage codegen stage
    assert(live.collect().forall(r => r.getDouble(0) > 0.9))
  }

  test("jaro_winkler null semantics") {
    val out = Seq((Some("a"), None: Option[String])).toDF("a", "b")
      .select(jaro_winkler($"a", $"b")).collect()
    assert(out(0).isNullAt(0))
  }

  test("minhash signature: deterministic, sensitive to content") {
    val df = Seq("a b c d e", "a b c d e", "v w x y z").toDF("t")
      .select(minhash_signature(word_shingles(tokens($"t"), 2), 16).as("sig"))
      .as[Seq[Long]].collect()
    assert(df(0) == df(1))
    assert(df(0) != df(2))
    assert(df(0).size == 16)
  }

  test("band_keys: equal signatures share all bands, band index isolates") {
    val df = Seq("p q r s t u v w").toDF("t")
      .select(band_keys(minhash_signature(word_shingles(tokens($"t"), 2), 16), 4, 4).as("b"))
      .as[Seq[Long]].head()
    assert(df.size == 4)
    assert(df.distinct.size == 4) // band index mixed in → no cross-band collision
  }

  test("levenshtein_sim bounded") {
    val out = Seq(("kitten", "sitting"), ("same", "same"), ("abcdefgh", "zzzzzzzz"))
      .toDF("a", "b")
      .select(levenshtein_sim($"a", $"b", 4).as("s")).as[Double].collect()
    assert(math.abs(out(0) - (1.0 - 3.0 / 7.0)) < 1e-12)
    assert(out(1) == 1.0)
    assert(out(2) == 0.0) // beyond maxDist floors to 0
  }

  test("simhash64 column: identical text equal, near text close, disjoint far") {
    val out = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "completely different words entirely unrelated content here")
      .toDF("t").select(simhash64(tokens($"t")).as("h")).as[Long].collect()
    assert(out(0) == Seq(
      "the quick brown fox jumps over the lazy dog").toDF("t")
      .select(simhash64(tokens($"t"))).as[Long].head())
    val near = java.lang.Long.bitCount(out(0) ^ out(1))
    val far = java.lang.Long.bitCount(out(0) ^ out(2))
    assert(near < far, s"near=$near far=$far")
  }

  test("native simhash64 is bit-identical to the HOF reference implementation") {
    // both hash tokens with XXH64 seed 42 over UTF8 bytes, so the bit votes
    // must agree exactly
    val df = Seq("the quick brown fox", "a", "", "x y z w v u t")
      .toDF("t")
    val native = df.select(simhash64(tokens($"t"))).as[Long].collect()
    val hof = df.select(simhash64_hof(tokens($"t"))).as[Long].collect()
    assert(native.toSeq == hof.toSeq)
  }

  test("cosine_sim") {
    val out = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b").select(cosine_sim($"a", $"b").as("c")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1)) < 1e-12)
    assert(out(2) == 0.0)
  }

  test("native cosine_sim matches the HOF reference implementation") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 20).map(_ =>
      (Seq.fill(16)(rnd.nextFloat() - 0.5f), Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val native = df.select(cosine_sim($"a", $"b")).as[Double].collect()
    val hof = df.select(cosine_sim_hof($"a", $"b")).as[Double].collect()
    native.zip(hof).foreach { case (n, h) => assert(math.abs(n - h) < 1e-9) }
  }

  test("winnowed shingles: subset of full shingles, w=1 ≡ all, shared-run guarantee") {
    val rnd = new scala.util.Random(23)
    def doc(n: Int): Seq[String] = Seq.fill(n)("t" + rnd.nextInt(500))
    for (_ <- 0 until 25) {
      val toks = doc(30 + rnd.nextInt(100))
      val df = Seq(Tuple1(toks)).toDF("tokens")
      val full = df.select(shingle_hashes($"tokens", 3, 7L)).as[Seq[Long]].head().toSet
      val win = df.select(winnowed_shingle_hashes($"tokens", 3, 8, 7L)).as[Seq[Long]].head()
      assert(win.nonEmpty && win.toSet.subsetOf(full))
      assert(win.toSet.size < full.size || full.size <= 2)
      val w1 = df.select(winnowed_shingle_hashes($"tokens", 3, 1, 7L)).as[Seq[Long]].head().toSet
      assert(w1 == full) // w=1 degenerates to every distinct shingle
    }
    // guarantee: docs sharing a run of ≥ w+k−1 tokens share ≥1 fingerprint
    for (_ <- 0 until 25) {
      val shared = doc(10) // w+k−1 = 8+3−1 = 10
      val a = doc(rnd.nextInt(60)) ++ shared ++ doc(rnd.nextInt(60))
      val b = doc(rnd.nextInt(60)) ++ shared ++ doc(rnd.nextInt(60))
      val df = Seq(Tuple1(a), Tuple1(b)).toDF("tokens")
      val fp = df.select(winnowed_shingle_hashes($"tokens", 3, 8, 7L)).as[Seq[Long]].collect()
      assert(fp(0).toSet.intersect(fp(1).toSet).nonEmpty,
        s"shared 10-token run produced no shared fingerprint")
    }
  }

  test("pre-hashed token input: shingle family keeps its invariants on array<long>") {
    val rnd = new scala.util.Random(31)
    def doc(n: Int): Seq[String] = Seq.fill(n)("t" + rnd.nextInt(500))
    // token-hash materialization: the pipeline's docs-stage payload
    def tokh(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      shingle_hashes(toks, 1, distinct = false)

    for (_ <- 0 until 15) {
      val a = doc(30 + rnd.nextInt(80))
      val df = Seq(Tuple1(a)).toDF("t").select(tokh(tokens(array_join($"t", " "))).as("h"),
        tokens(array_join($"t", " ")).as("s"))
      // positional hash count == token count; equal tokens ⇒ equal hashes
      val (hs, ss) = df.select($"h", $"s").as[(Seq[Long], Seq[String])].head()
      assert(hs.length == ss.length)
      assert(ss.zip(hs).toMap.size == ss.distinct.size) // token → hash functional

      // k-shingle hashes over pre-hashed tokens: same cardinality structure
      // as the string path (positional count, distinct dedup), long input
      val full = df.select(shingle_hashes($"h", 3, 7L)).as[Seq[Long]].head()
      val fullStr = df.select(shingle_hashes($"s", 3, 7L)).as[Seq[Long]].head()
      assert(full.length == fullStr.length) // same shingle positions survive dedup

      // winnow on long input: subset + w=1 degeneracy
      val win = df.select(winnowed_shingle_hashes($"h", 3, 8, 7L)).as[Seq[Long]].head()
      assert(win.nonEmpty && win.toSet.subsetOf(full.toSet))
      val w1 = df.select(winnowed_shingle_hashes($"h", 3, 1, 7L)).as[Seq[Long]].head().toSet
      assert(w1 == full.toSet)

      // minhash bands on long input: band count, determinism
      val b1 = df.select(minhash_band_keys($"h", 2, 16, 4)).as[Seq[Long]].head()
      val b2 = df.select(minhash_band_keys($"h", 2, 16, 4)).as[Seq[Long]].head()
      assert(b1.length == 4 && b1 == b2)
    }

    // the guarantees that make blocking correct hold on the long path:
    // shared (w+k−1)-token run ⇒ shared winnow fingerprint AND shared
    // exact-shingle key; identical docs ⇒ identical band keys
    for (_ <- 0 until 15) {
      val shared = doc(10)
      val mk = (s: Seq[String]) => Seq(Tuple1(s)).toDF("t")
        .select(tokh(tokens(array_join($"t", " "))).as("h"))
      val a = mk(doc(rnd.nextInt(50)) ++ shared ++ doc(rnd.nextInt(50)))
      val b = mk(doc(rnd.nextInt(50)) ++ shared ++ doc(rnd.nextInt(50)))
      val fa = a.select(winnowed_shingle_hashes($"h", 3, 8, 7L)).as[Seq[Long]].head().toSet
      val fb = b.select(winnowed_shingle_hashes($"h", 3, 8, 7L)).as[Seq[Long]].head().toSet
      assert(fa.intersect(fb).nonEmpty, "shared run lost on the pre-hashed path")
    }

    // empty docs stay unblockable on the long path
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("t")
      .select(tokh($"t").as("h"))
    assert(empty.select(shingle_hashes($"h", 3)).as[Seq[Long]].head().isEmpty)
    assert(empty.select(winnowed_shingle_hashes($"h", 3, 8)).as[Seq[Long]].head().isEmpty)
    assert(empty.select(minhash_band_keys($"h", 2, 16, 4)).as[Seq[Long]].head().isEmpty)
  }

  test("Myers bit-parallel levenshtein ≡ banded DP across block boundaries (fuzz)") {
    import graft.functions.SimilarityKernels.{levenshteinCp, levenshteinMyersCp}
    val rnd = new scala.util.Random(11)
    def randCp(n: Int, alpha: Int): Array[Int] =
      Array.fill(n)(97 + rnd.nextInt(alpha))
    // lengths straddling the 64-bit block boundaries 0/1/63/64/65/128/256/300
    val lens = Seq(0, 1, 5, 63, 64, 65, 127, 128, 129, 200, 256, 300)
    for (_ <- 0 until 40) {
      val la = lens(rnd.nextInt(lens.length))
      val lb = lens(rnd.nextInt(lens.length))
      val alpha = 2 + rnd.nextInt(6) // small alphabets force dense matches
      val a = randCp(la, alpha)
      val b = randCp(lb, alpha)
      val myers = levenshteinMyersCp(a, b)
      val banded = levenshteinCp(a, b, math.max(la, lb) + 1) // k ≥ any distance
      assert(myers == banded, s"la=$la lb=$lb alpha=$alpha myers=$myers banded=$banded")
    }
    // near-duplicate shapes (the pipeline's real distribution)
    for (_ <- 0 until 20) {
      val a = randCp(200 + rnd.nextInt(56), 26)
      val b = a.clone()
      for (_ <- 0 until rnd.nextInt(8)) b(rnd.nextInt(b.length)) = 97 + rnd.nextInt(26)
      assert(levenshteinMyersCp(a, b) == levenshteinCp(a, b, 300))
    }
  }

  test("banded levenshtein kernel ≡ built-in threshold variant (random strings, all thresholds)") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd é中" + new String(Character.toChars(0x1F600))
    def randStr(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = (0 until 200).map { _ =>
      (randStr(rnd.nextInt(40)), randStr(rnd.nextInt(40)))
    } :+ (("", "")) :+ (("", "abc")) :+ (("abc", "abc"))
    val df = rows.toDF("a", "b")
    for (k <- Seq(0, 1, 3, 17, 128)) {
      val native = df.select(levenshtein_sim($"a", $"b", k)).as[Double].collect()
      val builtin = df.select(levenshtein_sim_builtin($"a", $"b", k)).as[Double].collect()
      native.zip(builtin).zipWithIndex.foreach { case ((n, bi), i) =>
        assert(math.abs(n - bi) < 1e-12, s"k=$k row=$i ${rows(i)}")
      }
    }
  }

  test("nearest_centroid: argmax over normalized codebook, ties to smallest cell") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(Seq(0.9f, 0.1f), Seq(0.1f, 0.9f), Seq(0.5f, 0.5f), Seq(0.0f, 0.0f))
      .toDF("v").select(nearest_centroid($"v", cents).as("c")).as[Int].collect()
    assert(df.toSeq == Seq(1, 2, 1, 1)) // tie and zero vector both → cell 1
  }

  test("zero tokens → zero shingle hashes; empty-vs-empty docs score jaccard 0, share no block key") {
    // punctuation-only docs normalize to zero tokens; they must NOT pair
    // with each other (round-2 behavior gave them a shared [seed] hash →
    // token_jaccard 1.0 and a common block key)
    val df = Seq(("?!;", "..."), ("a b c", "a b c")).toDF("x", "y")
      .select(shingle_hashes(tokens($"x"), 1).as("hx"),
        shingle_hashes(tokens($"y"), 1).as("hy"),
        winnowed_shingle_hashes(tokens($"x"), 3, 4).as("wx"),
        minhash_band_keys(tokens($"x"), 2, 16, 4).as("bx"))
    val rows = df.select(size($"hx"), size($"hy"), size($"wx"), size($"bx"),
      token_jaccard($"hx", $"hy")).as[(Int, Int, Int, Int, Double)].collect()
    assert(rows(0) == ((0, 0, 0, 0, 0.0)))
    assert(rows(1)._1 == 3 && rows(1)._5 == 1.0)
  }

  test("percent_decode is lenient on malformed escapes (Python unquote never raises, indexer.py:29)") {
    val out = Seq("a%2Fb%20c", "100% sure", "%zz", "<dbpedia:New_York>")
      .toDF("t").select(percent_decode($"t")).as[String].collect()
    assert(out(0) == "a/b c")       // valid escapes decode
    assert(out(1) == "100% sure")   // stray '%' passes through, no exception
    assert(out(2) == "%zz")
    val name = Seq("<dbpedia:100%_club>").toDF("t")
      .select(uri_to_name($"t")).as[String].head()
    assert(name == "100% club")     // malformed escape inside a URI survives
  }
}
