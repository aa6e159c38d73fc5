package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions._

/** Candidate-pair generation (blocking).
  *
  * Reference analog: the n-gram ⋈ surface-form-dictionary join
  * (nordlys/erd/query/query.py:72-108, 161-167) — candidates share a key.
  * The graft replaces exact surface equality with (a) exact word-shingle
  * blocks and (b) MinHash-LSH band blocks over token shingles.
  *
  * Skew is handled *explicitly* (north rule): hot keys (stopword shingles /
  * dense LSH bands) blow up pair counts quadratically, which AQE cannot fix
  * — AQE only re-splits shuffle partitions, it cannot stop a 1M-row block
  * from emitting 5·10^11 pairs. So blocks above `maxBlockSize` are dropped
  * *before* the self-join, and the drop is surfaced in the returned
  * metrics, never silent. Oversize-block recall is recovered by the other
  * bands (LSH uses `bands` independent keys per doc).
  */
object Blocking {

  /** Hash-family seed for exact-shingle block keys — namespaced away from
    * the LSH band-key derivation so hybrid-mode keys never collide
    * structurally.
    */
  val ExactShingleSeed: Long = 0xE7AC7L

  /** Exact shingle blocking: docs(conv_id, tokens) → (block_key, conv_id),
    * deduplicated per doc in the kernel (no shuffle-side dropDuplicates,
    * no shingle strings materialized — the key is chain-hashed straight
    * from token bytes).
    */
  def exactShingleBlocks(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("conv_id"),
      explode(shingle_hashes(col("tokens"), k, ExactShingleSeed)).as("block_key"))

  /** Hybrid blocking — THE block-key recipe: the union of LSH band keys
    * and exact shingle keys, shared by the batch docs payload
    * ([[Pipeline.blocksPayload]]) and the streaming linker
    * ([[graft.streaming.IncrementalLink]]), so a key derived on either
    * side joins the other's blocks.
    * LSH gives sub-quadratic candidate generation on near-duplicates; the
    * exact-shingle side restores recall on heavily-noised pairs whose
    * shingle-Jaccard sits below the LSH S-curve knee (they still share
    * individual intact shingles — winnowing keeps that guarantee for any
    * shared run of ≥ w + k − 1 tokens at a fraction of the key rate). Hot
    * exact keys are bounded by the downstream block cap, so the union
    * stays sub-quadratic.
    *
    * `tokens`: positional 64-bit token hashes (`array<bigint>`, the docs
    * payload's `tokh`) or token strings, which are hashed positionally
    * first — both forms yield the same keys for the same token sequence.
    * Output: `keep` followed by one `block_key` row per key.
    *
    * Plan shape: ONE projection per doc — the two kernel families are
    * `array_union`ed per row and exploded once. The first cut unioned two
    * separate explodes, which scanned the cached docs payload TWICE (the
    * union's branches are independent stages over the same cache) — at
    * the 6.72M-turn bench input that is an extra full pass over the
    * run's largest cached table on a bandwidth-bound stage. Key-set
    * semantics are identical: both kernels dedup per doc, the seed
    * namespacing keeps the families structurally disjoint, and both emit
    * nothing for empty token arrays (so the shared `size > 0` guard
    * drops no key the two-branch plan would have kept).
    */
  def hybridBlocks(docs: DataFrame, exactK: Int, lshShingleK: Int,
                   numHashes: Int, bands: Int, winnowW: Int,
                   tokens: Column = col("tokens"),
                   keep: Seq[Column] = Seq(col("conv_id"))): DataFrame = {
    val tokh = docs.select(tokens).schema.head.dataType match {
      case ArrayType(LongType, _) => tokens
      case _ => shingle_hashes(tokens, 1, distinct = false)
    }
    val exactKeys =
      if (winnowW <= 1) shingle_hashes(tokh, exactK, ExactShingleSeed)
      else winnowed_shingle_hashes(tokh, exactK, winnowW, ExactShingleSeed)
    docs
      .where(size(tokens) > 0)
      .select(keep :+ explode(array_union(
        minhash_band_keys(tokh, lshShingleK, numHashes, bands),
        exactKeys)).as("block_key"): _*)
  }

  /** MinHash-LSH blocking: docs(conv_id, tokens) → (block_key, conv_id).
    * Signature of `numHashes` min-hashes over k-shingles, cut into `bands`
    * band keys (rowsPerBand = numHashes / bands). Two docs share a block
    * key iff one band of their signatures agrees — the standard LSH
    * S-curve; with 64 hashes / 16 bands (r=4), p(match) ≈ 1-(1-s^4)^16,
    * ≈ .97 at s=.7, ≈ .04 at s=.2.
    */
  def minhashLshBlocks(docs: DataFrame, shingleK: Int, numHashes: Int,
                       bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes $numHashes % bands $bands != 0")
    // native codegen'd kernel: one hash per shingle + long-remix per slot.
    // (The first cut composed transform/aggregate HOFs — interpreted,
    // boxed, and with the signature re-evaluated per band: 20×+ slower and
    // GC-bound. See HashingKernels.)
    docs
      .where(size(col("tokens")) > 0)
      .select(col("conv_id"),
        explode(minhash_band_keys(col("tokens"), shingleK, numHashes, bands))
          .as("block_key"))
  }

  /** Pairs from blocks with an explicit oversize cap.
    * Input: (block_key, conv_id: bigint) — string ids are rejected; hash
    * them first (the pipeline's `hid = xxhash64(conv_id)`) or pair on an
    * integral id and map back.
    * Returns (pairs(conv_a, conv_b, n_blocks), droppedBlocks metrics DF
    * (block_key, block_size) — every dropped block is reported).
    *
    * Plan shape: ONE shuffle to group members per key (lists bounded by the
    * cap), pair enumeration inline on the ≤cap member arrays, one more
    * shuffle to dedup pairs across blocks. The naive alternative — count
    * keys, semi-join, self-join on block_key, dedup — costs 4-5 exchanges
    * over the full block table and was the scaling bottleneck.
    * conv_a < conv_b canonicalizes (members sorted before enumeration).
    *
    * A bounded distinct-collect keeps at most cap+1 members per key, so a
    * block that reaches cap+1 is known oversize without ever buffering a
    * 100-TB hot key's full membership — the state bound of a count-first
    * protocol, minus a full pass over the block table and a broadcast
    * barrier. Oversize blocks report block_size = cap+1 as a LOWER BOUND
    * (the drop audit needs the key, not the exact hot-key cardinality).
    *
    * `shareAggregate`: lazily cache the bounded-collect aggregate so
    * independent consumers of BOTH outputs (pairs + the drop audit) share
    * one pass over the block table — wanted when both are materialized
    * (TableIO's stage("pairs") + stage("dropped_blocks")), pure cache
    * pressure when the audit is never read (the in-memory pipeline): the
    * aggregate is the largest intermediate of the whole run, and pinning
    * it steals executor storage from the scored-stage joins.
    */
  def pairsFromBlocks(blocks: DataFrame, maxBlockSize: Int,
                      shareAggregate: Boolean = false,
                      prePartition: Boolean = false): (DataFrame, DataFrame) = {
    val idType = blocks.schema("conv_id").dataType
    require(idType == LongType,
      s"pairsFromBlocks needs bigint conv_id, got ${idType.simpleString}")
    // null ids are dropped up front: BoundedCollectSet's primitive Long
    // input encoder would coerce a null to 0 (pipeline hids from xxhash64
    // are never null, so this predicate is a free codegen'd guard, not a
    // data pass)
    val input = blocks.where(col("conv_id").isNotNull)
    // `prePartition`: hash-partition the raw (block_key, conv_id) rows
    // FIRST, so the bounded collect runs entirely post-shuffle and the
    // exchange ships raw 16-byte rows with NO map-side partial
    // aggregation. Why offer this: block keys are ~unique (round-5
    // event logs: 47.5M exploded keys → 47.1M partial-agg output rows,
    // <1% combined), so Spark's map-side ObjectHashAggregate builds a
    // ~1.3M-entry hash map per map task that combines nothing — pure
    // random-memory traffic, the dominant term of the pairs stage's
    // 3× task-time inflation at 16 cores vs 4. Trade: a hot key's raw
    // rows all cross the shuffle (map-side combine previously capped
    // each map task's contribution at cap+1), so keep the DEFAULT path
    // when hot-key byte amplification matters more than map-side
    // memory traffic; aggregation STATE stays ≤ cap+1 either way
    // (saturating reduce).
    val grouped =
      if (prePartition) {
        val n = blocks.sparkSession.sessionState.conf.numShufflePartitions
        input.repartition(n, col("block_key")).groupBy("block_key")
      } else input.groupBy("block_key")
    val agged0 = grouped
      .agg(graft.functions.BoundedCollectSet
        .bounded(maxBlockSize + 1, col("conv_id")).as("members"))
    // lazy + serialized: the pairs job both materializes and consumes it
    // (no extra barrier), and the cached member arrays stay compact
    val agged =
      if (shareAggregate) agged0.localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else agged0
    val kept = agged.where(size(col("members")).between(2, maxBlockSize))
    val dropped = agged.where(size(col("members")) > maxBlockSize)
      .select(col("block_key"),
        size(col("members")).cast("long").as("block_size"))
    val pairs = kept
      .select(explode(pair_combos(col("members"))).as("p"))
      .groupBy(col("p.conv_a").as("conv_a"), col("p.conv_b").as("conv_b"))
      .agg(count(lit(1)).as("n_blocks"))
    (pairs, dropped)
  }
}
