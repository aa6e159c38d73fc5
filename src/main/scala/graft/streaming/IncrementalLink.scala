package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.{Blocking, Pipeline, Scoring}

/** Streaming incremental record linkage: the batch pipeline's blocking
  * semantics (hybrid MinHash-LSH + winnowed exact shingles,
  * [[graft.pipeline.Blocking]]) recast over an unbounded transcript
  * stream. New conversations are linked against previously-seen ones the
  * moment they arrive, instead of waiting for the next batch recompute —
  * the continuous-ingest complement to `Pipeline.run` at 10^12-turn scale
  * (reference analog: the per-query online linking loop of
  * nordlys/erd/app/erd_app.py:60-118, which links one incoming query
  * against a fixed dictionary; here the "dictionary" is the stream's own
  * past, held as bounded per-block state).
  *
  * Scale design:
  *   - Per-block state is BOUNDED: at most `maxBlockSize` member ids.
  *     A key that exceeds the cap collapses its state to a single
  *     oversize flag (O(1) for hot keys — stopword shingles / dense LSH
  *     bands stay cheap forever after they trip the cap).
  *   - State ages out by EVENT TIME: a block idle past `idleGap` (by
  *     watermark) is dropped, so total state is bounded by the active
  *     window's key count, not the stream's history.
  *   - Pair dedup is watermark-bounded (`dropDuplicatesWithinWatermark`).
  *
  * Semantics vs batch ([[Blocking.pairsFromBlocks]]): identical pair SET
  * for any block whose final size stays ≤ cap (verified in
  * `IncrementalLinkSpec`). Divergence on oversize blocks is inherent to
  * append-mode streaming: batch drops the whole block retroactively,
  * while the stream cannot retract pairs emitted before the cap tripped —
  * the first `maxBlockSize` members' pairs stand, later members are
  * dropped. Both directions are recall-safe for downstream exact verify
  * (extra candidates are scored and filtered, as in the batch scorer).
  */
object IncrementalLink {

  /** One doc's membership in one block. */
  case class BlockedDoc(block_key: Long, conv_id: String, ts: java.sql.Timestamp)

  /** A candidate pair emitted by a shared block; `ts` is the later
    * member's event time (drives the downstream dedup watermark).
    */
  case class PairHit(conv_a: String, conv_b: String, block_key: Long,
                     ts: java.sql.Timestamp)

  /** Per-block state: sorted member ids, collapsed when oversize. */
  case class BlockState(members: List[String], oversize: Boolean)

  /** Stateless block-key derivation — BATCH-IDENTICAL keys: the same
    * [[Blocking.hybridBlocks]] recipe, over the same pre-hashed tokens,
    * with the same [[Pipeline.Config]] parameters as
    * [[Pipeline.blocksPayload]]. A key computed here JOINS a batch
    * `blocks` snapshot built under the same `cfg` for the same document
    * text (the batch snapshot's member ids are `hid = xxhash64(conv_id)`,
    * not the id string — map ids accordingly when mixing);
    * `IncrementalLinkSpec` pins key-set equality against `blocksPayload`.
    * Input: streaming or batch DataFrame with (conv_id, ts) and either
    * `tokens: array<string>` or `text: string`.
    */
  def blockKeys(docs: DataFrame, cfg: Pipeline.Config = Pipeline.Config()): DataFrame = {
    requireHybrid(cfg)
    Blocking.hybridBlocks(docs, cfg.shingleK, cfg.lshShingleK, cfg.numHashes,
      cfg.bands, cfg.winnowWindow, tokens = toks(docs),
      keep = Seq(col("conv_id"), col("ts").cast("timestamp").as("ts")))
  }

  /** The streaming linker blocks with hybrid keys only; any other
    * `cfg.blocking` would silently stop its keys from joining the batch
    * snapshot's.
    */
  private def requireHybrid(cfg: Pipeline.Config): Unit =
    require(cfg.blocking == Pipeline.HybridBlocking,
      s"streaming linkage uses hybrid blocking, got ${cfg.blocking}")

  private def toks(docs: DataFrame): Column =
    if (docs.columns.contains("tokens")) col("tokens")
    else graft.functions.tokens(col("text"))

  /** Stateful incremental pair emission. Each arriving member pairs with
    * every member already in its block's state (canonical a < b), then
    * joins the state; a member that would push the block past
    * `maxBlockSize` trips the oversize collapse instead. Within a
    * micro-batch, members are processed in (ts, conv_id) order so output
    * is deterministic for a given batch decomposition.
    *
    * `watermark` bounds event-time lateness; a block idle for `idleGap`
    * beyond the watermark drops its state (idleGap ≤ 0 → state never
    * expires; only sensible for tests and bounded backfills).
    */
  def incrementalPairs(blocked: DataFrame, maxBlockSize: Int,
                       watermark: String = "1 hour",
                       idleGapMs: Long = 3600000L): Dataset[PairHit] = {
    val spark = blocked.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleGapMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    blocked
      .withWatermark("ts", watermark)
      .as[BlockedDoc]
      .groupByKey(_.block_key)
      .flatMapGroupsWithState[BlockState, PairHit](
        OutputMode.Append(), timeoutConf) {
        case (_, _, state: GroupState[BlockState]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (key, rows, state: GroupState[BlockState]) =>
          var s = state.getOption.getOrElse(BlockState(Nil, oversize = false))
          val out = List.newBuilder[PairHit]
          var maxTs = 0L
          // Deterministic intra-batch order (rows processed by (ts,
          // conv_id)) WITHOUT buffering the micro-batch: sorting the whole
          // group would hold a hot key's first large micro-batch on one
          // task (ADVICE r4). Only the first `cap + 1 − |members|`
          // distinct unseen ids — ordered by their earliest (ts, conv_id)
          // record, which is where the sorted fold would add them — can
          // change state or output (that many adds either fill the block
          // or trip the collapse), so a bounded best-k selection over the
          // streamed iterator is output-identical to the full sort and
          // holds at most cap+1 records on any input size.
          if (s.oversize) {
            rows.foreach(r => maxTs = math.max(maxTs, r.ts.getTime))
          } else {
            val known = s.members.toSet
            val slots = maxBlockSize + 1 - s.members.size
            val sel = scala.collection.mutable.TreeSet.empty[(Long, String)]
            val selTs = scala.collection.mutable.HashMap.empty[String, Long]
            rows.foreach { r =>
              val t = r.ts.getTime
              maxTs = math.max(maxTs, t)
              if (!known(r.conv_id)) selTs.get(r.conv_id) match {
                case Some(prev) =>
                  if (t < prev) { // keep each id's earliest record
                    sel.remove((prev, r.conv_id))
                    sel.add((t, r.conv_id)); selTs(r.conv_id) = t
                  }
                case None =>
                  if (sel.size < slots) {
                    sel.add((t, r.conv_id)); selTs(r.conv_id) = t
                  } else if (Ordering[(Long, String)].lt((t, r.conv_id), sel.last)) {
                    val evicted = sel.last
                    sel.remove(evicted); selTs.remove(evicted._2)
                    sel.add((t, r.conv_id)); selTs(r.conv_id) = t
                  }
              }
            }
            sel.foreach { case (t, id) =>
              if (!s.oversize) {
                if (s.members.sizeIs >= maxBlockSize) {
                  // collapse: hot-key state becomes O(1), like the batch
                  // path's cap+1-bounded collect (Blocking.pairsFromBlocks)
                  s = BlockState(Nil, oversize = true)
                } else {
                  val ts = new java.sql.Timestamp(t)
                  s.members.foreach { m =>
                    val (a, b) = if (m < id) (m, id) else (id, m)
                    out += PairHit(a, b, key, ts)
                  }
                  s = s.copy(members = id :: s.members)
                }
              }
            }
          }
          state.update(s)
          if (idleGapMs > 0)
            // must exceed the current watermark or Spark rejects the
            // timestamp; the max() keeps late-data batches legal
            state.setTimeoutTimestamp(
              math.max(maxTs + idleGapMs, state.getCurrentWatermarkMs() + 1))
          out.result().iterator
      }
  }

  /** Cross-block pair dedup, watermark-bounded (the streaming analog of
    * the batch path's groupBy(conv_a, conv_b) dedup shuffle): a pair
    * re-emitted by another shared block inside the watermark window is
    * dropped; state for old pairs ages out with the watermark.
    */
  def dedupedPairs(pairs: Dataset[PairHit],
                   watermark: String = "1 hour"): Dataset[PairHit] =
    pairs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("conv_a", "conv_b")

  // --------------------------------------------------------------------
  // Stream-static linkage: link incoming docs against a STATIC corpus
  // snapshot (yesterday's lake) instead of the stream's own past. The
  // whole path is STATELESS except the watermarked candidate dedup —
  // blocking is a stream-static equi-join on block_key (no state), and
  // scoring runs the batch kernels inline on the joined row. This is the
  // deployment shape for "dedup the day's ingest against the 100-TB
  // corpus": the index is built once per snapshot (bucket it by
  // block_key in production so the per-batch join probes co-located
  // buckets), the stream pays one narrow join per micro-batch.
  // --------------------------------------------------------------------

  /** Per-doc linkage features: the scoring payload of
    * [[graft.pipeline.Scoring.scorePairs]] (distinct 64-bit token hashes +
    * a bounded normalized prefix) plus one row per hybrid block key
    * ([[Blocking.hybridBlocks]], as in [[blockKeys]]).
    * Package-visible so [[graft.Verify]] can export the exact stream-side
    * feature rows (tok_set, prefix, block_key) the q53 oracle replays.
    */
  private[graft] def docFeatures(docs: DataFrame, exactK: Int, lshShingleK: Int,
                                 numHashes: Int, bands: Int, winnowW: Int,
                                 prefixChars: Int): DataFrame = {
    val t = toks(docs)
    val prefix =
      if (docs.columns.contains("text"))
        substring(graft.functions.norm_text(col("text")), 1, prefixChars)
      else substring(concat_ws(" ", col("tokens")), 1, prefixChars)
    // tok_set is the scoring verify set — identical values to
    // Scoring.scorePairs' dedup'd tokh
    val base = docs
      .withColumn("tok_set", graft.functions.shingle_hashes(t, 1))
      .withColumn("prefix", prefix)
    Blocking.hybridBlocks(base, exactK, lshShingleK, numHashes, bands, winnowW,
      tokens = t, keep = base.columns.filterNot(Set("text", "tokens")).map(col).toSeq)
  }

  private def docFeatures(docs: DataFrame, cfg: Pipeline.Config): DataFrame = {
    requireHybrid(cfg)
    docFeatures(docs, cfg.shingleK, cfg.lshShingleK, cfg.numHashes, cfg.bands,
      cfg.winnowWindow, cfg.prefixChars)
  }

  /** Build the static side of the stream-static join from a corpus
    * snapshot (conv_id + text|tokens): (block_key, corpus_id,
    * corpus_tok_set, corpus_prefix), with keys shared by more than
    * `maxKeyFanout` corpus docs dropped (the batch cap's analog — a hot
    * stopword-shingle key would fan every incoming doc out against
    * thousands of corpus rows; recall rides the doc's other keys).
    * Persist (or write bucketed by block_key) before serving: a streaming
    * query re-evaluates an unpersisted static plan every micro-batch.
    */
  def corpusIndex(corpus: DataFrame, cfg: Pipeline.Config = Pipeline.Config(),
                  maxKeyFanout: Int = 64): DataFrame = {
    val feat = docFeatures(
      corpus.select(col("conv_id").as("corpus_id"),
        col(if (corpus.columns.contains("text")) "text" else "tokens")), cfg)
      .withColumnRenamed("tok_set", "corpus_tok_set")
      .withColumnRenamed("prefix", "corpus_prefix")
    val hot = feat.groupBy("block_key").agg(count(lit(1)).as("n"))
      .where(col("n") > maxKeyFanout)
    feat.join(broadcast(hot.select("block_key")), Seq("block_key"), "left_anti")
  }

  /** Link a stream of new docs (conv_id, ts, text|tokens) against a
    * [[corpusIndex]] built under the same `cfg`: stream-static join on
    * block_key, watermarked candidate dedup (a pair sharing several keys
    * is scored once per watermark window), then the batch kernels and
    * [[Scoring.mixture]] inline (token-Jaccard + Jaro-Winkler +
    * bounded-Levenshtein at `cfg.weights`). Returns matches at
    * `cfg.scoreThreshold` — append-mode, no retractions.
    *
    * Also runs in BATCH mode (a non-streaming `stream` input): the
    * watermark node is eliminated by the analyzer and the candidate dedup
    * degrades to a plain `dropDuplicates` — output-identical because
    * duplicate candidate rows differ only in the dropped `block_key`
    * column. That batch replay is how the driver's DuckDB oracle gates
    * this operator (q53) and how a backfill would reuse the exact
    * serving-path semantics.
    */
  def linkAgainstCorpus(stream: DataFrame, index: DataFrame,
                        cfg: Pipeline.Config = Pipeline.Config(),
                        watermark: String = "1 hour"): DataFrame = {
    // Plan shape note (measured round 6): the block-key join broadcasts
    // the (micro-batch-sized) stream side, so the fat corpus index is
    // scanned, never shuffled; the only payload-carrying shuffle is the
    // candidate dedup, which is delta-neighborhood-sized. A
    // narrow-join-then-reattach variant (dedup ids, join payloads back)
    // was tried and measured WORSE (3.5 → 4.8 s on the q53 gate): the
    // per-doc payload projection of the index costs its own full-index
    // dedup shuffle, which the current shape never pays.
    val candidates = docFeatures(stream, cfg)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .join(index, "block_key")
    // dedup BEFORE the kernels: candidates duplicated by shared keys
    // must not pay the O(prefix²) string kernels more than once
    // (watermark-bounded state when streaming; plain dedup in batch replay)
    val deduped =
      if (candidates.isStreaming)
        candidates.dropDuplicatesWithinWatermark("conv_id", "corpus_id")
      else candidates.dropDuplicates("conv_id", "corpus_id")
    deduped
      .withColumn("jaccard",
        graft.functions.token_jaccard(col("tok_set"), col("corpus_tok_set")))
      .withColumn("jw",
        graft.functions.jaro_winkler(col("prefix"), col("corpus_prefix")))
      .withColumn("lev_sim", graft.functions.levenshtein_sim(
        col("prefix"), col("corpus_prefix"), cfg.levMaxDist))
      .withColumn("score", Scoring.mixture(cfg.weights))
      .where(col("score") >= cfg.scoreThreshold)
      .select(col("conv_id"), col("corpus_id"), col("ts"),
        col("jaccard"), col("jw"), col("lev_sim"), col("score"))
  }
}
