package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.pipeline.Blocking

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators follow the same scale shape as the ER pipeline
  * (SURVEY.md §7): candidate generation by shared key (never a cross
  * join), bounded block sizes with explicit caps, then an exact verify
  * stage on the candidates only. Each is a `queries()` entry in
  * [[graft.SparkEntry]].
  */
object Dedup {

  /** Exact dedup on normalized text: one keeper (min id) per group.
    * Returns (doc_id, keeper_id, is_dup).
    *
    * Collision-safe: the hash key only *buckets* the shuffle; the window
    * partitions on (hash, norm_text), so the keeper is chosen among rows
    * with byte-identical normalized text — two distinct documents that
    * collide on the 64-bit hash (statistically certain at 10^12 rows) are
    * never merged. The cost is the normalized text riding the one shuffle,
    * which is the same order as reading the data; `grpKey` is injectable so
    * tests can force a collision and prove the equality check holds.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            grpKey: Column => Column = xxhash64(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("grp"), col("norm"))
    docs
      .select(col(idCol), norm_text(col(textCol)).as("norm"))
      .withColumn("grp", grpKey(col("norm")))
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .select(col(idCol), col("keeper_id"), (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }

  /** Exact shingle-Jaccard verify over candidate pairs — the shared verify
    * stage of all near-dup operators.
    *
    * Two scale properties (both root-caused in round 1):
    *  - shingles are hashed to 64-bit longs *before* the per-pair
    *    intersect, so the kernel compares 8-byte longs and the joins
    *    shuffle long arrays instead of variable-length shingle strings;
    *  - the joined pairs are explicitly repartitioned before the kernel:
    *    the verify stage is CPU-bound, not byte-bound, and AQE's byte-based
    *    coalescing would otherwise collapse the ~MB pair exchange into one
    *    task (measured: 66 s single-task vs seconds wide).
    *
    * Jaccard over hashed distinct shingle sets equals Jaccard over the
    * string sets absent 64-bit collisions inside one pair's union (union
    * sizes are ~10^2-10^3, so collision odds per pair are ~10^-13).
    */
  private def jaccardVerify(pairs: DataFrame, base: DataFrame, shingleK: Int,
                            minJaccard: Double): DataFrame = {
    val sh = base.select(col("conv_id"),
      shingle_hashes(col("tokens"), shingleK).as("sh"))
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    // The width-restoring repartition stays AFTER the attach joins: moved
    // before them it repartitions by the pair-dedup aggregate's own keys,
    // so the optimizer removes it as redundant and AQE then coalesces the
    // CPU-bound kernel to ~1 task (measured round 6; PlanAuditSpec pins
    // the >1-partition invariant). The fat-row exchange this keeps is
    // acceptable since the verify kernel itself is now the native
    // JaccardSetExpr (~30x cheaper per pair).
    pairs.select("conv_a", "conv_b")
      .join(sh.select(col("conv_id").as("conv_a"), col("sh").as("sh_a")), "conv_a")
      .join(sh.select(col("conv_id").as("conv_b"), col("sh").as("sh_b")), "conv_b")
      .repartition(n, col("conv_a"), col("conv_b")) // explicit N: AQE keeps it
      .withColumn("jaccard", token_jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= minJaccard)
      .select(col("conv_a").as("a"), col("conv_b").as("b"), col("jaccard"))
  }

  /** N-gram (shingle) Jaccard near-dup pairs via exact-shingle blocking.
    * (a, b, jaccard) with jaccard ≥ minJaccard; blocks above `cap` dropped
    * (and surfaced by the pipeline metrics path).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, minJaccard: Double, cap: Int): DataFrame = {
    // blocking and the verify stage both read the tokenized base; one
    // eager materialization replaces two scan+tokenize passes (and keeps
    // the two consumers from racing a lazy cache into duplicate work)
    val base = docs.select(col(idCol).as("conv_id"), tokens(col(textCol)).as("tokens"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val blocks = Blocking.exactShingleBlocks(base, shingleK)
    val (pairs, _) = Blocking.pairsFromBlocks(blocks, cap)
    jaccardVerify(pairs, base, shingleK, minJaccard)
  }

  /** MinHash-LSH near-dup pairs: sub-quadratic candidate generation, exact
    * shingle-Jaccard verify. The scale path for 100 TB dedup (candidates
    * per doc bounded by bands × cap).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int, numHashes: Int, bands: Int,
                      minJaccard: Double, cap: Int): DataFrame = {
    // same two-consumer shape as ngramJaccardPairs: materialize the
    // tokenized base once for the banding and the verify passes
    val base = docs.select(col(idCol).as("conv_id"), tokens(col(textCol)).as("tokens"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val blocks = Blocking.minhashLshBlocks(base, shingleK, numHashes, bands)
    val (pairs, _) = Blocking.pairsFromBlocks(blocks, cap)
    jaccardVerify(pairs, base, shingleK, minJaccard)
  }

  /** SimHash near-dup pairs: 64-bit simhash, blocked on `maxHamming + 1`
    * bit chunks — by pigeonhole, any pair within Hamming distance
    * ≤ maxHamming leaves at least one chunk intact, so banding recall is
    * *guaranteed* for the requested threshold (round-1 hardcoded 4 chunks,
    * which only covers distance ≤ 3) — then exact Hamming verify.
    * Chunk widths: 64/(maxHamming+1) bits, remainder spread one bit each
    * over the leading chunks. Narrow chunks mean bigger blocks — that is
    * the intrinsic cost of a loose threshold, bounded by `cap` (drops
    * reported by the blocking layer, never silent).
    */
  /** Per-doc simhash signatures: (conv_id, sim). Exposed separately so the
    * correctness gate can export them (the oracle replays the Hamming
    * verify in SQL over these exact signatures — the hash itself is not
    * reproducible in another engine).
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("conv_id"), simhash64(tokens(col(textCol))).as("sim"))

  /** Chunk-key blocks over simhash signatures (the pigeonhole banding of
    * [[simhashPairs]]): (conv_id, block_key).
    */
  def simhashBlocks(sh: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming $maxHamming out of range: chunks need >= 2 bits for useful blocking")
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val chunkKeys = (0 until nChunks).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      xxhash64(lit(i),
        call_function("shiftrightunsigned", col("sim"), lit(starts(i))).bitwiseAND(lit(mask)))
    }
    sh.select(col("conv_id"), explode(array(chunkKeys: _*)).as("block_key"))
  }

  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, cap: Int): DataFrame = {
    // the signature table feeds blocking AND both verify join sides —
    // materialize the tokenize + simhash pass once (narrow: id + 8 bytes)
    val sh = simhashSignatures(docs, idCol, textCol)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val blocks = simhashBlocks(sh, maxHamming)
    val (pairs, _) = Blocking.pairsFromBlocks(blocks, cap)
    pairs
      .join(sh.select(col("conv_id").as("conv_a"), col("sim").as("sim_a")), "conv_a")
      .join(sh.select(col("conv_id").as("conv_b"), col("sim").as("sim_b")), "conv_b")
      .withColumn("hamming", hamming64(col("sim_a"), col("sim_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("conv_a").as("a"), col("conv_b").as("b"), col("hamming"))
  }

  /** Sign-bucket assignment (conv_id, block_key) — exposed for the
    * correctness gate's oracle export, like [[simhashSignatures]].
    */
  def signBuckets(emb: DataFrame, idCol: String, vecCol: String,
                  signBits: Int): DataFrame =
    emb.select(col(idCol).cast("string").as("conv_id"),
      signBucket(col(vecCol), signBits).as("block_key"))

  /** Embedding cosine near-dup pairs: random-hyperplane sign-bucket LSH
    * (deterministic hash-derived hyperplanes, built-in exprs only), exact
    * cosine verify inside buckets. `idCol` is integral: buckets pair on it
    * as a long, and each output pair (a, b) is the ids as strings with
    * a < b in string order — the order of [[signBuckets]]' export.
    */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           signBits: Int, minCosine: Double, cap: Int): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("conv_id"), col(vecCol).as("vec"))
    val (pairs, _) = Blocking.pairsFromBlocks(
      v.select(col("conv_id"), signBucket(col("vec"), signBits).as("block_key")), cap)
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    val (a, b) = (col("conv_a").cast("string"), col("conv_b").cast("string"))
    pairs
      .join(v.select(col("conv_id").as("conv_a"), col("vec").as("vec_a")), "conv_a")
      .join(v.select(col("conv_id").as("conv_b"), col("vec").as("vec_b")), "conv_b")
      .repartition(n, col("conv_a"), col("conv_b")) // CPU-bound verify: keep it wide
      .withColumn("cosine", cosine_sim(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= minCosine)
      .select(least(a, b).as("a"), greatest(a, b).as("b"), col("cosine"))
  }

  /** Sign-bit bucket key: bit j = sign of ⟨vec, h_j⟩ where hyperplane
    * h_j's components are hash-derived pseudo-random weights in [-1, 1].
    * Fully codegen'd (transform with element index + aggregate).
    */
  private[operators] def signBucket(vec: org.apache.spark.sql.Column, signBits: Int) = {
    val bits = transform(sequence(lit(0), lit(signBits - 1)), j => {
      val dotj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, d) =>
          x.cast("double") * (pmod(xxhash64(j, d), lit(2001)).cast("double") - 1000.0) / 1000.0),
        lit(0.0d), (acc, t) => acc + t)
      when(dotj > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }
}
