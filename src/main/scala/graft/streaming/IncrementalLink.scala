package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Blocking, Pipeline, Scoring}

/** Streaming record linkage against a corpus snapshot: new conversations
  * are linked the moment they arrive, instead of waiting for the next
  * batch recompute — the continuous-ingest complement to `Pipeline.run`
  * (reference analog: the per-query online linking loop of
  * nordlys/erd/app/erd_app.py:60-118, which links one incoming query
  * against a fixed dictionary; here the "dictionary" is the corpus
  * snapshot, indexed by the batch pipeline's block keys).
  *
  * Same recipe as the batch pipeline: block keys from
  * [[Blocking.hybridBlocks]] and scores from [[Scoring.mixture]], both
  * under one [[Pipeline.Config]]. The path is STATELESS except the
  * watermarked candidate dedup — blocking is a stream-static equi-join on
  * block_key, and scoring runs the batch kernels inline on the joined
  * row. The index is built once per snapshot (bucket it by block_key in
  * production so the per-batch join probes co-located buckets); the
  * stream pays one narrow join per micro-batch.
  */
object IncrementalLink {

  private def toks(docs: DataFrame): Column =
    if (docs.columns.contains("tokens")) col("tokens")
    else graft.functions.tokens(col("text"))

  /** Per-doc linkage features: the scoring payload of
    * [[graft.pipeline.Scoring.scorePairs]] (distinct 64-bit token hashes +
    * a bounded normalized prefix) plus one row per hybrid block key
    * ([[Blocking.hybridBlocks]], the keys of [[Pipeline.blocksPayload]]).
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

  private def docFeatures(docs: DataFrame, cfg: Pipeline.Config): DataFrame =
    docFeatures(docs, cfg.shingleK, cfg.lshShingleK, cfg.numHashes, cfg.bands,
      cfg.winnowWindow, cfg.prefixChars)

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
