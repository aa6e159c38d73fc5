package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._
import graft.operators._
import graft.pipeline._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry AND
  * a DuckDB oracle in [[oracleSql]] with IDENTICAL column names and
  * matched rounding. The two hash-keyed queries (q22 simhash, q23
  * embedding-LSH) are oracled via the [[Verify.AuxDir]] exports: the
  * Spark-computed bucket keys become DuckDB inputs and the oracle replays
  * the pairing + exact-verify semantics independently.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Eagerly materialize a query-fn fixture that several plan branches
    * consume. Spark has no cross-branch common-subexpression elimination:
    * a fixture referenced k times re-runs its whole scan + tokenize +
    * aggregate subtree k times (the round-5 q44 plan scanned
    * documents.parquet 16x, q55 64x). One serialized localCheckpoint
    * makes every consumer read the materialized rows instead; results are
    * identical — this only collapses duplicate evaluation (optimization
    * guide §2.4/§7.2, duplicated subtrees).
    */
  private def shared(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** The shared normalized-token expression, kept textually in sync with
    * the `NORM`/`TOKS` macros of the oracle SQL below.
    */
  private def toks(c: Column) = tokens(c)

  /** Round to 4 places through a decimal of scale 10, as the oracle's
    * `ROUND4` does: a double one ulp under a half (0.9562499999999999)
    * then rounds up in both engines, where a plain double round splits
    * them (Spark 0.9562, DuckDB 0.9563).
    */
  private[graft] def round4(c: Column): Column =
    round(c.cast("decimal(20,10)"), 4).cast("double")

  /** Flagship: the full record-linkage pipeline on a deterministic
    * synthetic transcript table (BASELINE.json north rule) — clusters of
    * near-duplicate conversations. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val transcripts = TranscriptGen.transcripts(spark, nBase = 40, dupsPerBase = 2)
    Pipeline.run(transcripts).clusters
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projections / filters (SURVEY §2.1, §2.2) ----
    "q01_preprocess" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), norm_text(col("text")).as("norm"))),

    // ---- n-gram generation (SURVEY §2.7, query.py:72-86) ----
    "q02_ngrams" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(ngrams_up_to(toks(col("text")), 3)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 3)),

    // ---- commonness aggregation (SURVEY §2.4, query.py:309-330) ----
    "q03_commonness" -> ((s, d) =>
      ReferenceOps.commonness(t(s, d, "documents"), "text", "lang", 0.2)),

    // ---- candidate-generation join (SURVEY §2.3, query.py:161-167) ----
    "q04_surface_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dict = docs.select(explode(toks(col("text"))).as("surface"),
        col("lang").as("entity")).distinct()
      val qs = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      ReferenceOps.surfaceFormJoin(qs, dict, 2)
        .groupBy("qid", "entity").agg(count(lit(1)).as("matches"))
    }),

    // ---- rank + tie semantics + dedup keep-max (SURVEY §2.5, cer_instances.py:201-237) ----
    "q05_rank_dedup" -> ((s, d) =>
      ReferenceOps.rankCandidates(
        t(s, d, "documents").select(col("lang"), col("source"),
          col("n_chars").cast("double").as("score")),
        "lang", "source", "score", 5)
        .withColumn("rnk", col("rnk").cast("long"))),

    // ---- per-group top-k (SURVEY §2.5) ----
    "q06_topk_orders" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // ---- aggregation with exact decimal sums (SURVEY §2.4) ----
    "q07_agg_pricing" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          count(lit(1)).as("count_order"))),

    // ---- multi-join + agg, broadcast dims (SURVEY §2.3) ----
    "q08_join_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    // ---- anti join (SURVEY §2.3, train_set_cer.py:67-90) ----
    "q09_cust_no_orders" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- set ops (SURVEY §2.6) ----
    "q10_setops" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_returnflag").as("v")).distinct()
        .union(t(s, d, "orders").select(col("o_orderstatus").as("v")).distinct())
        .distinct()),

    // ---- blocking: shingle blocks (SURVEY §7, graft blocking stage) ----
    "q11_shingle_blocks" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(word_shingles(toks(col("text")), 3))).as("shingle"))
        .groupBy("shingle").agg(countDistinct("doc_id").as("n_docs"))
        .where(col("n_docs").between(2, 64))),

    // ---- blocking: candidate pairs with cap (graft pairs stage) ----
    // 2-exchange plan (Blocking.pairsFromBlocks): bounded collect per
    // block → native pair explode → pair dedup. The round-1 4-exchange
    // self-join shape was the measured scaling bottleneck.
    "q12_candidate_pairs" -> ((s, d) => {
      val blocks = t(s, d, "documents")
        .select(col("doc_id").as("conv_id"),
          explode(shingle_hashes(toks(col("text")), 3)).as("block_key"))
      val (pairs, _) = Blocking.pairsFromBlocks(blocks, 64)
      pairs.select(col("conv_a").as("a"), col("conv_b").as("b"),
        col("n_blocks").as("n_shared"))
    }),

    // ---- pairwise scoring kernels (graft scoring stage; scorer.py analog) ----
    "q13_pair_scores" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val blocks = docs.select(col("doc_id").as("conv_id"),
        explode(shingle_hashes(toks(col("text")), 3)).as("block_key"))
      val (allPairs, _) = Blocking.pairsFromBlocks(blocks, 64)
      val pairs = allPairs.where(col("n_blocks") >= 2)
        .select(col("conv_a").as("a"), col("conv_b").as("b"))
      // both join sides read feat: materialize the tokenize pass once
      val feat = shared(docs.select(col("doc_id"),
        array_distinct(toks(col("text"))).as("ts"),
        substring(norm_text(col("text")), 1, 64).as("pref")))
      pairs
        .join(feat.select(col("doc_id").as("a"), col("ts").as("ts_a"), col("pref").as("pref_a")), "a")
        .join(feat.select(col("doc_id").as("b"), col("ts").as("ts_b"), col("pref").as("pref_b")), "b")
        .select(col("a"), col("b"),
          round(token_jaccard(col("ts_a"), col("ts_b")), 4).as("jaccard"),
          round(jaro_winkler(col("pref_a"), col("pref_b")), 4).as("jw"),
          round(levenshtein_sim(col("pref_a"), col("pref_b"), 65), 4).as("lev_sim"))
    }),

    // ---- exact dedup (training-data op) ----
    "q14_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"))),

    // ---- n-gram Jaccard near-dup (training-data op) ----
    "q15_neardup_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.5, 64)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))),

    // ---- language ID + quality scoring (training-data ops) ----
    "q16_lang_quality" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"),
        TextAnalysis.qualityFeatures(col("text")).as("q"))
        .select(col("doc_id"), col("lang_guess"), col("q.n_tokens").as("n_tokens"),
          col("q.alpha_ratio").as("alpha_ratio"), col("q.stop_ratio").as("stop_ratio"),
          col("q.mean_tok_len").as("mean_tok_len"), col("q.quality").as("quality"))),

    // ---- token counting (training-data op) ----
    "q17_token_counts" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCounts(col("text")).as("c"))
        .select(col("doc_id"), col("c.ws_tokens").as("ws_tokens"),
          col("c.bpe_tokens").as("bpe_tokens"))),

    // ---- document fingerprint (training-data op) ----
    "q18_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // ---- ANN brute-force top-k (training-data op) ----
    "q19_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.bruteForceTopK(emb.where(col("vec_id") < 20), emb, 5)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // ---- ANN IVF top-k (scale path; hash-free and deterministic — full
    //      DuckDB replica oracle) ----
    "q20_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.ivfTopK(emb.where(col("vec_id") < 20), emb, 5, 16, 4)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // ---- MinHash-LSH near-dup. Oracle = exhaustive all-pairs Jaccard at
    //      the same threshold: DuckDB cannot reproduce the xxhash64
    //      banding, but on the driver fixtures every true pair at
    //      j ≥ 0.5 sits high on the 16-band S-curve (planted near-dups
    //      score j ≥ 0.6 where per-pair recall is ≈ 1), so the emitted
    //      set EQUALS the exact set — verified at sf0.001 (28/28) and
    //      sf0.01 (25/25). A future recall hole would surface as a
    //      left_only diff here, which is exactly what the gate is for. ----
    "q21_minhash_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text", 3, 64, 16, 0.5, 64)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))),

    // ---- SimHash near-dup. maxHamming=3 → 4 chunk keys; banding recall
    //      is guaranteed at this threshold (round 1 asked for 12 with 4
    //      fixed chunks, silently missing distance-4..12 pairs).
    //      rows-only: simhash64 is xxhash64-based, not reproducible in
    //      DuckDB; OperatorsSpec proves emitted == exact hamming pairs ----
    "q22_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", 3, 64)),

    // ---- embedding cosine near-dup. rows-only: sign-bucket keys are
    //      xxhash64-derived; OperatorsSpec pins emitted ⊆ exact cosine
    //      pairs with value equality ----
    "q23_emb_neardup" -> ((s, d) =>
      // the synthetic embeddings are near-orthogonal (max pairwise cosine
      // ≈ 0.48), so the "near-dup" band is calibrated to the top tail
      Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding", 6, 0.25, 256)
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))),

    // ---- sessionization window op over events ----
    "q24_sessionize" -> ((s, d) =>
      ReferenceOps.sessionize(t(s, d, "events"), 1800)
        .select("user_id", "event_id", "session_seq")),

    // ---- multimodal plumbing: binary payloads + typed metadata ----
    "q25_media_stats" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(t(s, d, "documents"))
      media.groupBy("kind").agg(count(lit(1)).as("n_media"),
        sum(length(col("bytes"))).as("total_bytes"))
    }),

    // ---- min-max normalization window (set_generator.py:40-57) ----
    "q26_minmax_norm" -> ((s, d) =>
      ReferenceOps.minMaxNormalize(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("score")),
        "l_orderkey", "score")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          round(col("norm_score"), 4).as("norm_score"))),

    // ---- JSON extraction over events.props ----
    "q27_json_extract" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // ---- full ER pipeline on synthetic transcripts (north rule);
    //      deterministic self-generated input → constant golden oracle ----
    "q28_pipeline_clusters" -> ((s, d) => {
      val tr = TranscriptGen.transcripts(s, nBase = 50, dupsPerBase = 2)
      Pipeline.run(tr).clusters
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // ---- multimodal decode boundary + frame sampling; the stub codec's
    //      rolling hash is engine-reproducible → value-exact oracle ----
    "q29_media_decode" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(t(s, d, "documents"))
      Multimodal.decodeStub(media, 8).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("features")(0).cast("double"), 4).as("f0"))
    }),

    // ---- doc/field term-frequency index build (indexer.py:75-155,
    //      lucene_tools.py:300-318) ----
    "q30_doc_tf" -> ((s, d) =>
      LanguageModel.docTermFreqs(lmFielded(t(s, d, "documents")))),

    // ---- MLM doc score: JM-smoothed field mixture, Σ qtf·log p with
    //      zero-skip + all-zero→NULL (scorer.py:65-80, 162-236) ----
    "q31_mlm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tp = lmTermProbs(docs)
      LanguageModel.lmDocScore(tp)
        .select(col("qid"), col("entity"), round(col("score"), 4).as("score"))
    }),

    // ---- NLLR normalization + ×commonness combine in log space
    //      (query_sim_feat.py:89-147, ranker_mlm.py:64-68); the isNotNull
    //      filter is the None-score filter (set_generator.py:160-168) ----
    "q32_nllr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tp = lmTermProbs(docs)
      LanguageModel.nllrScore(tp)
        .where(col("nllr").isNotNull)
        .withColumn("cmn", (col("entity") % 100).cast("double") / 100.0)
        .select(col("qid"), col("entity"), round(col("nllr"), 4).as("nllr"),
          round(LanguageModel.combine_commonness(col("nllr"), col("cmn")), 4)
            .as("nllr_cmn"))
    }),

    // ---- CMNS longest-match back-off (commonness.py:59-75) ----
    "q33_cmns_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val surf = docs.select(
        explode(ngrams_up_to(toks(col("text")), 2)).as("surface"),
        col("lang").as("entity"))
        .groupBy("surface", "entity").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("surface")
      val dict = surf
        .withColumn("cmn", col("cnt").cast("double") / sum("cnt").over(w).cast("double"))
        .where(col("cmn") >= 0.1)
        .select(col("surface"), col("entity"), round(col("cmn"), 4).as("cmn"))
      val qs = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      ReferenceOps.commonnessBackoff(qs, dict, 3)
        .select(col("qid"), col("surface"), col("entity"), col("cmn"),
          col("len").cast("long").as("len"))
    }),

    // ---- greedy interpretation-set formation (greedy.py:22-97), fed by
    //      the CMNS back-off path — the reference's `-cmn -greedy` flow
    //      (erd_app.py:69-112). The order-sensitive per-query fold is
    //      reproduced in the oracle by a DuckDB RECURSIVE CTE that carries
    //      the fold state (kept candidates + their set memberships) one
    //      candidate per recursion step — value-exact, no longer rows-only;
    //      semantics additionally pinned by GreedyIsfSpec truth tables +
    //      the Y-ERD end-to-end EvalSpec test
    "q34_greedy_isf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val surf = docs.select(
        explode(ngrams_up_to(toks(col("text")), 2)).as("surface"),
        col("lang").as("entity"))
        .groupBy("surface", "entity").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("surface")
      val dict = surf
        .withColumn("cmn", col("cnt").cast("double") / sum("cnt").over(w).cast("double"))
        .where(col("cmn") >= 0.1)
        .select(col("surface"), col("entity"), col("cmn"))
      val qs = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val cands = ReferenceOps.commonnessBackoff(qs, dict, 3)
        .select(col("qid"), col("surface").as("mention"), col("entity"),
          col("cmn").as("score"))
      GreedyIsf.interpretations(cands, 0.25).toDF()
        .groupBy("qid", "set_id")
        .agg(round(max("score"), 4).as("score"),
          array_join(sort_array(collect_set(col("entity"))), " ").as("entities"))
    }),

    // ---- mention count features (mention_feat.py:26-68) ----
    "q35_mention_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dict = docs.select(explode(array_distinct(toks(col("text")))).as("surface"),
        col("lang").as("entity")).distinct()
      val titles = docs
        .select(col("lang").as("entity"), explode(array_distinct(toks(col("text")))).as("tok"))
        .groupBy("entity").agg(min("tok").as("title"))
      // mentionFeatures consumes `mentions` in four branches (base,
      // matches, ntem, smil): materialize the ngram explode + dedup once
      val mentions = shared(docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"),
          explode(ngrams_up_to(toks(col("text")), 2)).as("mention"))
        .dropDuplicates("qid", "mention"))
      Features.mentionFeatures(mentions, dict, titles)
        .select(col("qid"), col("mention"), col("mention_len").cast("long").as("mention_len"),
          col("matches"), col("ntem"), col("smil"), round(col("len_ratio"), 4).as("len_ratio"))
    }),

    // ---- boolean/positional entity-mention features
    //      (entity_mention_feat.py:27-63) ----
    "q36_entity_mention_bool" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val titles = docs
        .select(col("lang"), explode(array_distinct(toks(col("text")))).as("tok"))
        .groupBy("lang").agg(min("tok").as("title"))
      val qd = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("lang"), norm_text(col("text")).as("abs"),
          explode(array_distinct(toks(col("text")))).as("mention"))
      Features.entityMentionFeatures(qd.join(broadcast(titles), "lang"),
        col("mention"), col("title"), col("abs"))
        .select(col("qid"), col("mention"), col("mct"), col("tcm"), col("tem"),
          col("pos1").cast("long").as("pos1"))
    }),

    // ---- FACC co-occurrence features (facc_feat.py:44-113) over the
    //      token co-occurrence "index" (facc_indexer.py analog) ----
    "q37_facc_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // facc feeds the pair self-join (twice), the frequency dim and the
      // and_freq join: one materialization instead of five tokenize
      // passes (doc_id is the documents key, as faccIndex requires)
      val facc = shared(Features.faccIndex(docs, toks(col("text"))))
      val numDocs = docs.count()
      // candidate pairs from actual co-occurrence (facc self-join on
      // doc_id) — what a real caller feeds the operator. The round-2
      // vocab×vocab crossJoin fixture was quadratic in vocabulary size.
      // faccPairFeatures consumes `pairs` twice (and_freq + the final
      // attach chain): materialize the self-join + distinct once
      val pairs = shared(facc.select(col("entity").as("e1"), col("doc_id"))
        .join(facc.select(col("entity").as("e2"), col("doc_id")), "doc_id")
        .where(col("e1") < col("e2"))
        .select("e1", "e2").distinct())
      Features.faccPairFeatures(pairs, facc, numDocs)
        .select(col("e1"), col("e2"), col("and_freq"), col("or_freq"),
          round(col("joint_prob"), 4).as("joint_prob"),
          round(col("entropy"), 4).as("entropy"),
          round(col("jc"), 4).as("jc"),
          round(col("mw_rel"), 4).as("mw_rel"))
    }),

    // ---- wikilink graph set features (graph_feat.py:27-117); links are a
    //      deterministic ring so the formulas are oracle-checkable ----
    "q38_graph_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val members = docs.select(col("lang").as("cluster_id"), col("source").as("entity"))
        .distinct()
        .withColumn("sid", substring(col("entity"), 4, 10).cast("int"))
        .withColumn("links", array(
          concat(lit("src"), pmod(col("sid") + 1, lit(20))),
          concat(lit("src"), pmod(col("sid") + 2, lit(20)))))
        .drop("sid")
      Features.graphSetFeatures(members)
        .select(col("cluster_id"), col("n"), col("n_edges"), col("common_neighbors"),
          col("all_neighbors"), round(col("completeness"), 4).as("completeness"),
          round(col("jc"), 4).as("jc"))
    }),

    // ---- largest-delta prune (isf/pruner.py:11-42) ----
    "q39_delta_prune" -> ((s, d) =>
      Features.pruneLargestDelta(
        t(s, d, "orders").select(col("o_custkey").as("qid"),
          col("o_totalprice").as("score")).distinct(),
        "qid", "score")),

    // ---- id/URI scalar functions (freebase/utils.py:10-28,
    //      indexer.py:27-35) ----
    "q40_id_functions" -> ((s, d) => {
      val n = t(s, d, "nation")
      val fbid = concat(lit("/m/"), lower(col("n_name")))
      val uri = concat(lit("<dbpedia:"),
        regexp_replace(col("n_name"), "_", "%20"), lit(">"))
      n.select(col("n_nationkey"),
        fb_id_to_uri(fbid).as("fb_uri"),
        fb_uri_to_id(fb_id_to_uri(fbid)).as("fb_id"),
        uri_to_name(uri).as("name"),
        percent_decode(lit("a%2Fb%20c")).as("dec"))
    }),

    // ---- fb ⋈ sameAs id map (entity.py:79-119): left-join + first
    //      target-collection entry in stored order, NULL when unmapped ----
    "q43_sameas_map" -> ((s, d) => {
      val n = t(s, d, "nation")
      // deterministic sameAs dimension derived from the table itself:
      // ids divisible by 3 carry no fb entry (exercises the NULL path)
      val mapping = n.select(col("n_nationkey").as("id"),
        when(pmod(col("n_nationkey"), lit(3)) === 0,
          array(concat(lit("<dbp:"), col("n_name"), lit(">"))))
          .otherwise(array(concat(lit("<dbp:"), col("n_name"), lit(">")),
            concat(lit("<fb:m."), lower(col("n_name")), lit(">"))))
          .as("same_as"))
      ReferenceOps.sameAsMap(n.select("n_nationkey", "n_name"),
          "n_nationkey", mapping, "<fb:")
        .select(col("n_nationkey"), col("n_name"), col("mapped"))
    }),

    // ---- instance concat with stable id reassign (instances.py:268-283) ----
    "q41_instance_concat" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Features.concatInstances(Seq(
        docs.where(pmod(col("doc_id"), lit(2)) === 0).select("doc_id"),
        docs.where(pmod(col("doc_id"), lit(2)) === 1).select("doc_id")),
        Seq("doc_id"))
    }),

    // ---- train-set stats (train_set_cer.py:166-220) ----
    "q42_train_stats" -> ((s, d) =>
      Features.trainSetStats(t(s, d, "documents"), "lang", "source")),

    // ---- set-level FACC features over whole n-entity sets
    //      (facc_feat.py:44-113; AND/OR doc counts, n = 3 here) ----
    "q44_facc_set_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // faccSetFeatures consumes facc in three branches (ef, perDoc, the
      // or/and counts): one materialization of the tokenize pass (see q37)
      val facc = shared(Features.faccIndex(docs, toks(col("text"))))
      val numDocs = docs.count()
      // deterministic 3-entity sets: the 3 lexicographically-smallest
      // distinct tokens of every 17th document
      val sets = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("set_id"),
          explode(slice(array_sort(array_distinct(toks(col("text")))), 1, 3)).as("entity"))
      Features.faccSetFeatures(sets, facc, numDocs)
        .select(col("set_id"), col("n"), col("and_freq"), col("or_freq"),
          round(col("joint_prob"), 4).as("joint_prob"),
          round(col("entropy"), 4).as("entropy"),
          round(col("jc"), 4).as("jc"),
          round(col("mw_rel"), 4).as("mw_rel"))
    }),

    // ---- GT → ISF instance conversion (train_set_isf.py:89-122),
    //      exploded back to entries for the oracle compare ----
    "q45_gt_isf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // gt-shaped fixture: qid = lang, set_id = source (with every 7th row
      // sent to the "-1" no-interpretation marker), entity = doc_id,
      // mention = smallest token
      val gt = docs.select(
        col("lang").as("qid"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("-1"))
          .otherwise(col("source")).as("set_id"),
        col("doc_id").cast("string").as("entity"),
        array_min(toks(col("text"))).as("mention"))
      Features.gtToIsfInstances(gt)
        .select(col("qid"), col("set_id"), col("target"),
          explode(col("inter_set")).as(Seq("entity", "mention")))
    }),

    // ---- IVF with a k-means-trained codebook (2 Lloyd rounds),
    //      deterministic → full DuckDB replica oracle ----
    "q46_ann_ivf_trained" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilaritySearch.ivfTopKTrained(emb.where(col("vec_id") < 20), emb, 5, 16, 4, 2)
        .withColumn("rnk", col("rnk").cast("long"))
    }),

    // ---- LTR feature-vector assembly (ranker_ltr.py:157-190 dictionary
    //      slice + gen_cv_set labeling, train_set_cer.py:92-119) over a
    //      gt-shaped frame derived from the documents table ----
    "q47_ltr_features" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tok = toks(col("text"))
      // query = first 8 tokens: the operator's domain is short search
      // queries (Y-ERD averages ~4 words); feeding whole documents as
      // "queries" explodes the ≤8-gram mention enumeration quadratically
      // and demos nothing the 8-token prefix doesn't
      val gt = docs.select(
        concat(col("lang"), lit("_"), col("doc_id")).as("qid"),
        array_join(slice(tok, 1, 8), " ").as("query"),
        array_join(slice(tok, 1, 2), " ").as("mention"),
        try_element_at(tok, lit(1)).as("freebase_id"))
      // yerdCvInstances reads gt in six branches (queries, annotated ×3,
      // positives): one materialization of the tokenize + slice projection
      graft.ml.Ltr.yerdCvInstances(shared(gt), 0.1, 8)
        .select(col("qid"), col("mention"), col("entity"), col("label"),
          round(col("cmn"), 4).as("cmn"), col("len"),
          round(col("len_ratio"), 4).as("len_ratio"),
          col("matches"), col("ntem"), col("smil"), col("mct"), col("tcm"),
          col("tem"), col("qct"), col("tcq"), col("teq"))
    }),

    // ---- candidate interpretation-set enumeration (segmentation.py:14-88
    //      via set_generator.py:75-115) over the q34 candidate fixture,
    //      capped at 8 candidates/query (the fixture stand-in for the
    //      reference's top-k cut). Oracle = DuckDB recursive
    //      include/exclude replay of the same subset space. ----
    "q48_iset_enum" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val surf = docs.select(
        explode(ngrams_up_to(toks(col("text")), 2)).as("surface"),
        col("lang").as("entity"))
        .groupBy("surface", "entity").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("surface")
      val dict = surf
        .withColumn("cmn", col("cnt").cast("double") / sum("cnt").over(w).cast("double"))
        .where(col("cmn") >= 0.1)
        .select(col("surface"), col("entity"), col("cmn"))
      val qs = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val cands = ReferenceOps.commonnessBackoff(
        qs.select(col("qid"), col("qtext")), dict, 3)
        .select(col("qid"), col("surface").as("mention"), col("entity"),
          col("cmn").as("score"))
        .dropDuplicates("qid", "mention", "entity")
      val rw = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("mention"), col("entity"))
      val capped = cands.withColumn("rn", row_number().over(rw))
        .where(col("rn") <= 8)
      IsfSets.enumerate(capped.join(qs, "qid")
          .withColumn("rnk", col("rn")).withColumn("cmn", col("score")))
        .toDF()
        .groupBy("qid", "iset_id")
        .agg(array_join(sort_array(collect_list(
          concat_ws("=", col("entity"), col("mention")))), " ").as("iset"),
          count(lit(1)).as("n"))
        .select(col("qid"), col("iset"), col("n"))
    }),

    // ---- set_sim: NLLR of the query vs the summed member term model
    //      (query_sim_feat.py:186-199) over the shared LM fixture; sets =
    //      candidates partitioned by entity % 3 ----
    "q49_query_set_sim" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // mlmTermProbs derives doc_len / coll_tf / coll_stats from docTf —
      // four consumers of the fielded explode + groupBy; materialize once
      val docTf = shared(LanguageModel.docTermFreqs(lmFielded(docs)))
      val q = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"), slice(toks(col("text")), 1, 5).as("qtoks"),
          col("lang"), col("source"))
      val qterms = q
        .select(col("qid"), size(col("qtoks")).as("qlen"), explode(col("qtoks")).as("term"))
        .groupBy("qid", "qlen", "term").agg(count(lit(1)).as("qtf"))
        .select("qid", "term", "qtf", "qlen")
      // querySetSim reads members twice (distinct pairs + the set join)
      val members = shared(q.select(col("qid"), col("lang"), col("source"))
        .join(docs.select(col("doc_id").as("entity"), col("lang"), col("source")),
          Seq("lang", "source"))
        .select(col("qid"), pmod(col("entity"), lit(3)).as("iset_id"), col("entity")))
      IsfSets.querySetSim(members, qterms, docTf, MlmWeights)
        .select(col("qid"), col("iset_id"), round(col("set_sim"), 4).as("set_sim"))
    }),

    // ---- context_sim: NLLR of the query context (first mention
    //      occurrence sliced out, raw substring semantics) vs the
    //      entity's contents-field LM (query_sim_feat.py:150-176) ----
    "q50_context_sim" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // four consumers inside mlmTermProbs (see q49)
      val docTf = shared(LanguageModel.docTermFreqs(lmFielded(docs)))
      val q = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("qid"),
          array_join(slice(toks(col("text")), 1, 5), " ").as("qtext"),
          try_element_at(toks(col("text")), lit(2)).as("mention"),
          col("lang"), col("source"))
        .where(col("mention").isNotNull)
      // contextSim derives base/terms/tp from cands in several branches
      val cands = shared(q
        .join(docs.select(col("doc_id").as("entity"), col("lang"), col("source")),
          Seq("lang", "source"))
        .select(col("qid"), col("qtext"), col("mention"), col("entity")))
      IsfSets.contextSim(cands, docTf, "contents")
        .select(col("qid"), col("entity"), col("mention"),
          round(col("context_sim"), 4).as("context_sim"))
    }),

    // ---- retraction: delete conversations from a clustered corpus and
    //      heal the affected clusters from the matched-edge snapshot. The
    //      full per-id assignment is emitted and the oracle replays the
    //      retraction + clustering INDEPENDENTLY (recursive-CTE connected
    //      components over the exported prior-edge snapshot minus edges
    //      touching a retracted id — VERDICT r4 item 7: structural parity,
    //      not a constant golden) ----
    "q51_retract" -> ((s, d) => {
      val tr = TranscriptGen.transcripts(s, nBase = 50, dupsPerBase = 2)
      val run0 = Pipeline.run(tr)
      val gone = tr.select("conv_id").distinct().where(
        substring(col("conv_id"), 2, 9).cast("long") === 7 ||
          (substring(col("conv_id"), 2, 9).cast("long") === 11 &&
            split(col("conv_id"), "_").getItem(1).cast("int") === 2))
      IncrementalPipeline.retract(gone, run0.clusters, run0.matchedEdges)
        .clusters.select("conv_id", "cluster_id")
    }),

    // ---- incremental delta ingest against prior snapshots: withhold one
    //      member of every 5th planted triple, link it back via
    //      IncrementalPipeline. The full per-id assignment is emitted and
    //      the oracle recomputes the clustering from scratch over the FULL
    //      run's exported matched-edge snapshot (incremental ≡ recompute,
    //      verified by an independent engine) ----
    "q52_incremental" -> ((s, d) => {
      val tr = TranscriptGen.transcripts(s, nBase = 50, dupsPerBase = 2)
      val isDelta = substring(col("conv_id"), 2, 9).cast("long") % 5 === 0 &&
        split(col("conv_id"), "_").getItem(1).cast("int") === 2
      val prior = tr.where(!isDelta)
      val run0 = Pipeline.run(prior)
      // the prior docs payload is read twice inside IncrementalPipeline
      // (block probe + scoring attach): materialize the generator +
      // assembly + tokenize chain once
      val inc = IncrementalPipeline.run(tr.where(isDelta),
        shared(Pipeline.docsPayload(prior, Pipeline.Config())), run0.clusters)
      inc.clusters.select("conv_id", "cluster_id")
    }),

    // ---- stream-static corpus linkage, batch replay (the q-gate for
    //      IncrementalLink.linkAgainstCorpus — identical plan minus the
    //      watermark node, which the analyzer eliminates in batch): every
    //      17th document is "today's ingest", the rest are the corpus
    //      snapshot; fanout-capped block-key index, per-pair dedup, then
    //      the batch scoring mixture. Oracle replays join + dedup + all
    //      three kernels + mixture over the exported aux features ----
    "q53_stream_static_link" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
        .select(col("doc_id").cast("string").as("conv_id"), col("text"))
      val stream = docs.where(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").cast("string").as("conv_id"),
          to_timestamp(lit("2026-01-01 00:00:00")).as("ts"), col("text"))
      val index = graft.streaming.IncrementalLink.corpusIndex(corpus)
      graft.streaming.IncrementalLink
        .linkAgainstCorpus(stream, index, Pipeline.Config(scoreThreshold = 0.3))
        .select(col("conv_id"), col("corpus_id"),
          round4(col("jaccard")).as("jaccard"),
          round4(col("jw")).as("jw"),
          round4(col("lev_sim")).as("lev_sim"),
          round4(col("score")).as("score"))
    }),

    // ---- blocking-quality metrics (pairs completeness / reduction
    // ratio over the q11/q12 shingle blocking, gt = exact-dup pairs) ----
    "q54_blocking_metrics" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // sh feeds the kept-key agg AND the membership join; blocks then
      // feeds five branches inside summarize (per-block agg, both sides
      // of the pair self-join, both gt cover joins) — materialize each.
      // Block keys are hashed shingles (the engine's documented key
      // representation, same as q12): the summary is representation-
      // invariant because the metrics only COUNT keys and co-membership,
      // and shingle_hashes keys are distinct-per-doc hashes of exactly
      // the q11/q54-oracle string shingles (whole-doc fallback can't
      // diverge — every fixture doc has ≥ 10 tokens; a 64-bit collision
      // would merge two keys, the same accepted 2⁻⁶⁴-scale risk the
      // oracle-checked q12 carries). Skips materializing + shuffling the
      // shingle STRINGS, which dominated the round-5 q54 plan.
      val sh = shared(docs.select(col("doc_id"),
        explode(shingle_hashes(toks(col("text")), 3)).as("block_key")))
      val kept = sh.groupBy("block_key").agg(count(lit(1)).as("c"))
        .where(col("c").between(2, 64)).select("block_key")
      val blocks = shared(sh.join(kept, Seq("block_key")))
      val norm = shared(docs.select(col("doc_id"), norm_text(col("text")).as("norm")))
      // summarize reads gt twice (count + covered): materialize the
      // norm-equality self-join once
      val gt = shared(norm.as("x").join(norm.as("y"),
          col("x.norm") === col("y.norm") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")))
      // distinct candidate pairs via the capped bounded-collect pair
      // kernel instead of summarize's default within-block self-join —
      // the identical pair set (blocks is pre-filtered to sizes 2..64, so
      // pairsFromBlocks at cap 64 drops nothing), produced the way the
      // operator's scaladoc prescribes at scale; the round-6 fragment
      // probe measured the self-join + distinct at 2.5 s vs 1.4 s for
      // the bounded-collect path on the same blocks
      val candPairs = Blocking.pairsFromBlocks(
        blocks.select(col("doc_id").as("conv_id"), col("block_key")), 64)._1
        .select(col("conv_a").as("a"), col("conv_b").as("b"))
      graft.operators.BlockingMetrics.summarize(
        blocks, gt, docs.count(), idCol = "doc_id", candPairs = Some(candPairs))
    }),

    // ---- clustering-diff metrics (pairwise P/R/F1 + split/merge/stable
    // census between two deterministic clusterings of documents) ----
    "q55_cluster_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // each assignment feeds ~6 branches inside ClusterDiff.summarize
      // (the round-5 plan scanned documents.parquet 64 times): materialize
      // both assignments once
      def assign(key: Column): DataFrame = {
        val k = docs.select(col("doc_id"), key.as("k"))
        shared(k.join(k.groupBy("k").agg(min("doc_id").as("cluster_id")), Seq("k"))
          .select("doc_id", "cluster_id"))
      }
      graft.operators.ClusterDiff.summarize(
        assign(norm_text(col("text"))),
        assign(graft.operators.TextAnalysis.fingerprint(col("text"))),
        idCol = "doc_id")
    })
  )

  // ------------------------------------------------------------------
  // Shared LM fixtures: a two-field corpus over the documents table
  // (contents = body tokens, names = lang+source tokens — mirroring the
  // reference's names/contents field split, indexer.py:196-231), queries
  // = every 17th doc's first 5 tokens, candidates = docs in the same
  // (lang, source) cell (the dimension-key candidate cut).
  // ------------------------------------------------------------------
  private def lmFielded(docs: DataFrame): DataFrame =
    LanguageModel.fieldedTokens(docs, "doc_id", Seq(
      "contents" -> toks(col("text")),
      "names" -> toks(concat_ws(" ", col("lang"), col("source")))))

  private val MlmWeights = Map("contents" -> 0.8, "names" -> 0.2)

  private def lmTermProbs(docs: DataFrame): DataFrame = {
    // mlmTermProbs derives doc_len / coll_tf / coll_stats from docTf —
    // four consumers of the fielded explode + groupBy; materialize once
    val docTf = shared(LanguageModel.docTermFreqs(lmFielded(docs)))
    val q = docs.where(pmod(col("doc_id"), lit(17)) === 0)
      .select(col("doc_id").as("qid"), slice(toks(col("text")), 1, 5).as("qtoks"),
        col("lang"), col("source"))
    val qterms = q
      .select(col("qid"), size(col("qtoks")).as("qlen"), explode(col("qtoks")).as("term"))
      .groupBy("qid", "qlen", "term").agg(count(lit(1)).as("qtf"))
      .select("qid", "term", "qtf", "qlen")
    val cands = q.select(col("qid"), col("lang"), col("source"))
      .join(docs.select(col("doc_id").as("entity"), col("lang"), col("source")),
        Seq("lang", "source"))
      .select("qid", "entity")
    LanguageModel.mlmTermProbs(cands, qterms, docTf, MlmWeights, lambda = 0.1)
  }

  // ------------------------------------------------------------------
  // DuckDB oracles. Macro strings kept textually aligned with the Spark
  // expressions above; every aggregate/computed column aliased to the
  // same name as the Spark side.
  // ------------------------------------------------------------------
  // SQL twin of `round4`
  private def ROUND4(x: String) = s"round(($x)::DECIMAL(20, 10), 4)::DOUBLE"
  private val NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private val TOKS = s"list_filter(regexp_split_to_array($NORM, ' '), x -> x <> '')"
  // all word n-grams of lengths 1..N (space-joined)
  private def NGRAMS(n: Int) =
    s"flatten([[array_to_string(t[i:i+n-1], ' ') for i in range(1, len(t)-n+2)] for n in range(1, least($n, len(t))+1)])"
  // contiguous k-shingles with whole-doc fallback
  private def SHINGLES(k: Int) =
    s"CASE WHEN len(t) < $k THEN [array_to_string(t, ' ')] ELSE [array_to_string(t[i:i+${k - 1}], ' ') for i in range(1, len(t)-${k - 2})] END"
  // tokens of the "names" field (lang + source)
  private val NTOKS =
    "list_filter(regexp_split_to_array(trim(regexp_replace(lower(lang || ' ' || source), " +
      "'[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
  // shared LM CTE block: fielded corpus → tf/len/collection tables →
  // query terms → same-(lang,source) candidates → JM-smoothed MLM term
  // probabilities (weights contents 0.8 / names 0.2, λ=0.1). Arithmetic
  // shape mirrors LanguageModel.jm_prob / mlmTermProbs exactly.
  private def LM_TP =
    s"""fld AS (
          SELECT doc_id AS doc, 'contents' AS field, unnest($TOKS) AS term FROM documents
          UNION ALL
          SELECT doc_id AS doc, 'names' AS field, unnest($NTOKS) AS term FROM documents),
        doc_tf AS (SELECT doc, field, term, count(*) AS tf FROM fld GROUP BY 1, 2, 3),
        doc_len AS (SELECT doc, field, sum(tf) AS len_d FROM doc_tf GROUP BY 1, 2),
        coll_tf AS (SELECT field, term, sum(tf) AS cf FROM doc_tf GROUP BY 1, 2),
        coll_stats AS (SELECT field, sum(tf) AS coll_len FROM doc_tf GROUP BY 1),
        q AS (SELECT doc_id AS qid, t[1:5] AS qtoks, lang, source
              FROM (SELECT doc_id, $TOKS AS t, lang, source FROM documents)
              WHERE doc_id % 17 = 0),
        qterms AS (SELECT qid, qlen, term, count(*) AS qtf
                   FROM (SELECT qid, len(qtoks) AS qlen, unnest(qtoks) AS term FROM q)
                   GROUP BY 1, 2, 3),
        cands AS (SELECT q.qid, d.doc_id AS entity
                  FROM q JOIN documents d USING (lang, source)),
        fields(field, mu) AS (VALUES ('contents', 0.8), ('names', 0.2)),
        grid AS (SELECT qid, entity, term, qtf, qlen, field, mu
                 FROM cands JOIN qterms USING (qid) CROSS JOIN fields),
        tp AS (
          SELECT grid.qid, grid.entity, grid.term, grid.qtf, grid.qlen,
                 sum(grid.mu * (0.9 * (CASE WHEN coalesce(len_d, 0) > 0
                          THEN coalesce(tf, 0)::DOUBLE / len_d::DOUBLE ELSE 0 END)
                     + 0.1 * (CASE WHEN coll_len > 0
                          THEN coalesce(cf, 0)::DOUBLE / coll_len::DOUBLE ELSE 0 END))) AS p,
                 sum(grid.mu * (CASE WHEN coll_len > 0
                          THEN coalesce(cf, 0)::DOUBLE / coll_len::DOUBLE ELSE 0 END)) AS p_t_c
          FROM grid
          LEFT JOIN doc_tf ON doc_tf.doc = grid.entity AND doc_tf.field = grid.field
                          AND doc_tf.term = grid.term
          LEFT JOIN doc_len ON doc_len.doc = grid.entity AND doc_len.field = grid.field
          LEFT JOIN coll_tf ON coll_tf.field = grid.field AND coll_tf.term = grid.term
          JOIN coll_stats ON coll_stats.field = grid.field
          GROUP BY 1, 2, 3, 4, 5)"""

  def oracleSql: Map[String, String] = Map(
    "q01_preprocess" ->
      s"SELECT doc_id, $NORM AS norm FROM documents",

    "q02_ngrams" ->
      s"""SELECT ngram, count(*) AS cnt FROM (
            SELECT unnest(${NGRAMS(3)}) AS ngram
            FROM (SELECT $TOKS AS t FROM documents))
          GROUP BY ngram HAVING count(*) >= 3""",

    "q03_commonness" ->
      s"""WITH tok AS (SELECT unnest($TOKS) AS surface, lang AS entity FROM documents),
            c AS (SELECT surface, entity, count(*) AS cnt FROM tok GROUP BY 1, 2)
          SELECT surface, entity, cnt, round(cmn, 4) AS cmn FROM (
            SELECT surface, entity, cnt,
                   cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY surface))::DOUBLE AS cmn
            FROM c) WHERE cmn >= 0.2""",

    "q04_surface_join" ->
      s"""WITH dt AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
            dict AS (SELECT DISTINCT unnest(t) AS surface, lang AS entity FROM dt),
            ng AS (SELECT doc_id AS qid, unnest(${NGRAMS(2)}) AS surface
                   FROM dt WHERE doc_id % 17 = 0)
          SELECT qid, entity, count(*) AS matches
          FROM ng JOIN dict USING (surface) GROUP BY 1, 2""",

    "q05_rank_dedup" ->
      """WITH d AS (SELECT lang, source, n_chars::DOUBLE AS score,
                     row_number() OVER (PARTITION BY lang, source ORDER BY n_chars DESC) AS rn
                   FROM documents),
            r AS (SELECT lang, source, score,
                     dense_rank() OVER (PARTITION BY lang ORDER BY score DESC) AS rnk
                  FROM d WHERE rn = 1)
          SELECT lang, source, score, rnk FROM r WHERE rnk <= 5""",

    "q06_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",

    "q07_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
                (sum(CAST(l_quantity AS DECIMAL(18,2))))::DOUBLE AS sum_qty,
                (sum(CAST(l_extendedprice AS DECIMAL(18,2))))::DOUBLE AS sum_base,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q08_join_revenue" ->
      """SELECT n_name,
                (sum(CAST(l_extendedprice AS DECIMAL(18,2))))::DOUBLE AS revenue,
                count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q09_cust_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q10_setops" ->
      """SELECT DISTINCT l_returnflag AS v FROM lineitem
         UNION
         SELECT DISTINCT o_orderstatus AS v FROM orders""",

    "q11_shingle_blocks" ->
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(${SHINGLES(3)})) AS shingle
                      FROM (SELECT doc_id, $TOKS AS t FROM documents))
          SELECT shingle, count(DISTINCT doc_id) AS n_docs FROM sh
          GROUP BY shingle HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64""",

    "q12_candidate_pairs" ->
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(${SHINGLES(3)})) AS shingle
                      FROM (SELECT doc_id, $TOKS AS t FROM documents)),
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) BETWEEN 2 AND 64),
            b AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle))
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
          FROM b x JOIN b y USING (shingle)
          WHERE x.doc_id < y.doc_id GROUP BY 1, 2""",

    "q13_pair_scores" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS t FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(${SHINGLES(3)})) AS shingle FROM dt),
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) BETWEEN 2 AND 64),
            bb AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
            pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
                      FROM bb x JOIN bb y USING (shingle)
                      WHERE x.doc_id < y.doc_id GROUP BY 1, 2 HAVING count(*) >= 2),
            feat AS (SELECT doc_id, list_distinct($TOKS) AS ts,
                            substr($NORM, 1, 64) AS pref FROM documents)
          SELECT a, b,
                 round(CASE WHEN len(list_distinct(fa.ts || fb.ts)) = 0 THEN 0
                       ELSE len(list_intersect(fa.ts, fb.ts))::DOUBLE
                            / len(list_distinct(fa.ts || fb.ts))::DOUBLE END, 4) AS jaccard,
                 round(jaro_winkler_similarity(fa.pref, fb.pref), 4) AS jw,
                 round(CASE WHEN greatest(len(fa.pref), len(fb.pref)) = 0 THEN 1.0
                       ELSE 1.0 - levenshtein(fa.pref, fb.pref)::DOUBLE
                            / greatest(len(fa.pref), len(fb.pref))::DOUBLE END, 4) AS lev_sim
          FROM pairs JOIN feat fa ON pairs.a = fa.doc_id
                     JOIN feat fb ON pairs.b = fb.doc_id""",

    "q14_dedup_exact" ->
      s"""SELECT doc_id, keeper_id, doc_id <> keeper_id AS is_dup FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY $NORM) AS keeper_id
            FROM documents)""",

    "q15_neardup_jaccard" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS t FROM documents),
            shl AS (SELECT doc_id, list_distinct(${SHINGLES(3)}) AS shs FROM dt),
            sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
            keep AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) BETWEEN 2 AND 64),
            bb AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
            pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
                      FROM bb x JOIN bb y USING (shingle)
                      WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
          SELECT a, b, round(jacc, 4) AS jaccard FROM (
            SELECT a, b,
                   CASE WHEN len(list_distinct(sa.shs || sb.shs)) = 0 THEN 0
                        ELSE len(list_intersect(sa.shs, sb.shs))::DOUBLE
                             / len(list_distinct(sa.shs || sb.shs))::DOUBLE END AS jacc
            FROM pairs JOIN shl sa ON pairs.a = sa.doc_id
                       JOIN shl sb ON pairs.b = sb.doc_id)
          WHERE jacc >= 0.5""",

    "q16_lang_quality" -> {
      val langs = TextAnalysis.StopwordsByLang
      def hits(ws: Seq[String]) =
        s"len(list_intersect(t, [${ws.map(w => s"'$w'").mkString(", ")}]))"
      val allStop = langs.flatMap(_._2).distinct
      val hitCols = langs.map { case (l, ws) => s"${hits(ws)} AS h_$l" }.mkString(", ")
      val caseExpr = langs.map { case (l, _) =>
        val others = langs.map(_._1).filter(_ != l)
        // earlier languages win ties (same priority order as the Spark side)
        val cond = others.map { o =>
          if (langs.indexWhere(_._1 == o) < langs.indexWhere(_._1 == l)) s"h_$l > h_$o"
          else s"h_$l >= h_$o"
        }.mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString(" ")
      s"""WITH base AS (SELECT doc_id, text, $TOKS AS t FROM documents),
            h AS (SELECT doc_id, text, t, len(t) AS n, $hitCols FROM base)
          SELECT doc_id,
                 CASE WHEN ${langs.map(l => s"h_${l._1} = 0").mkString(" AND ")} THEN 'und'
                      $caseExpr END AS lang_guess,
                 n::BIGINT AS n_tokens,
                 round(CASE WHEN len(text) = 0 THEN 0 ELSE
                   len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))::DOUBLE
                   / len(text)::DOUBLE END, 4) AS alpha_ratio,
                 round(CASE WHEN n = 0 THEN 0 ELSE
                   len(list_intersect(t, [${allStop.map(w => s"'$w'").mkString(", ")}]))::DOUBLE
                   / n::DOUBLE END, 4) AS stop_ratio,
                 round(CASE WHEN n = 0 THEN 0 ELSE
                   (len($NORM)::DOUBLE - (n - 1)) / n::DOUBLE END, 4) AS mean_tok_len,
                 floor((least(n / 64.0, 1.0) * 0.4
                   + (CASE WHEN len(text) = 0 THEN 0 ELSE
                      len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))::DOUBLE
                      / len(text)::DOUBLE END) * 0.3
                   + (CASE WHEN n > 0 AND (len($NORM)::DOUBLE - (n - 1)) / n::DOUBLE
                        BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3) * 10000 + 0.5)
                   / 10000.0 AS quality
          FROM h"""
    },

    "q17_token_counts" ->
      s"""SELECT doc_id, len($TOKS)::BIGINT AS ws_tokens,
                 len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens
          FROM documents""",

    "q18_fingerprint" ->
      s"""SELECT doc_id,
                 list_reduce(list_prepend(0::BIGINT,
                   [ascii(x)::BIGINT * 31 + len(x) for x in $TOKS]),
                   (acc, v) -> (acc * 131 + v) % 1000000007) AS fp
          FROM documents""",

    "q19_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
            s AS (SELECT q.query_id, c.vec_id AS nbr_id,
                    round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
                  FROM q, embeddings c WHERE c.vec_id <> q.query_id)
          SELECT query_id, nbr_id, cosine, rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, nbr_id) AS rnk FROM s)
          WHERE rnk <= 5""",

    "q24_sessionize" ->
      """SELECT user_id, event_id,
                (sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
         FROM (SELECT user_id, event_id, ts,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events)""",

    "q25_media_stats" ->
      """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
                count(*) AS n_media, sum(octet_length(encode(text)))::BIGINT AS total_bytes
         FROM documents GROUP BY 1""",

    "q26_minmax_norm" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
                round(CASE WHEN mx = mn THEN 0.5
                      ELSE (score - mn) / (mx - mn) END, 4) AS norm_score
         FROM (SELECT l_orderkey, l_linenumber, l_quantity::DOUBLE AS score,
                 min(l_quantity::DOUBLE) OVER (PARTITION BY l_orderkey) AS mn,
                 max(l_quantity::DOUBLE) OVER (PARTITION BY l_orderkey) AS mx
               FROM lineitem)""",

    "q27_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events""",

    "q30_doc_tf" ->
      s"""WITH $LM_TP
          SELECT doc, field, term, tf FROM doc_tf""",

    "q31_mlm_score" ->
      s"""WITH $LM_TP
          SELECT qid, entity,
                 round(CASE WHEN sum(p) = 0 THEN NULL
                       ELSE sum(CASE WHEN p > 0 THEN qtf::DOUBLE * ln(p) ELSE 0 END)
                       END, 4) AS score
          FROM tp GROUP BY 1, 2""",

    "q32_nllr" ->
      s"""WITH $LM_TP,
            s AS (SELECT qid, entity,
                    CASE WHEN sum(p) = 0 THEN NULL
                    ELSE exp(sum(CASE WHEN p > 0
                         THEN (qtf::DOUBLE / qlen::DOUBLE) * (ln(p) - ln(p_t_c))
                         ELSE 0 END)) END AS nllr
                  FROM tp GROUP BY 1, 2)
          SELECT qid, entity, round(nllr, 4) AS nllr,
                 round(exp(ln(nllr) + ln(greatest((entity % 100)::DOUBLE / 100.0, 0.00001))), 4)
                   AS nllr_cmn
          FROM s WHERE nllr IS NOT NULL""",

    "q33_cmns_backoff" ->
      s"""WITH surf AS (SELECT unnest(${NGRAMS(2)}) AS surface, lang AS entity
                        FROM (SELECT $TOKS AS t, lang FROM documents)),
            c AS (SELECT surface, entity, count(*) AS cnt FROM surf GROUP BY 1, 2),
            dict AS (SELECT surface, entity, round(cmn, 4) AS cmn FROM (
                       SELECT surface, entity,
                              cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY surface))::DOUBLE AS cmn
                       FROM c) WHERE cmn >= 0.1),
            ng AS (SELECT doc_id AS qid, unnest(${NGRAMS(3)}) AS surface
                   FROM (SELECT doc_id, $TOKS AS t FROM documents)
                   WHERE doc_id % 17 = 0),
            m AS (SELECT qid, surface, entity, cmn,
                         len(string_split(surface, ' '))::BIGINT AS len
                  FROM ng JOIN dict USING (surface))
          SELECT qid, surface, entity, cmn, len FROM (
            SELECT *, max(len) OVER (PARTITION BY qid) AS ml FROM m)
          WHERE len = ml""",

    "q35_mention_features" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS t, lang FROM documents),
            dict AS (SELECT DISTINCT unnest(list_distinct(t)) AS surface, lang AS entity FROM dt),
            titles AS (SELECT lang AS entity, min(tok) AS title FROM
                        (SELECT lang, unnest(list_distinct(t)) AS tok FROM dt) GROUP BY lang),
            qd AS (SELECT doc_id AS qid, t FROM dt WHERE doc_id % 17 = 0),
            men AS (SELECT DISTINCT qid, unnest(${NGRAMS(2)}) AS mention, len(t) AS qlen FROM qd),
            mt AS (SELECT qid, mention, count(*) AS matches
                   FROM men JOIN dict ON mention = surface GROUP BY 1, 2),
            nt AS (SELECT qid, mention, count(*) AS ntem
                   FROM men JOIN titles ON mention = title GROUP BY 1, 2),
            sm AS (SELECT qid, mention, count(*) AS smil FROM
                    (SELECT qid, mention,
                            unnest(flatten([[array_to_string(mt[i:i+n-1], ' ')
                              for i in range(1, len(mt)-n+2)]
                              for n in range(1, least(8, len(mt))+1)])) AS ng
                     FROM (SELECT qid, mention, string_split(mention, ' ') AS mt FROM men))
                   JOIN titles ON ng = title GROUP BY 1, 2)
          SELECT men.qid, men.mention,
                 len(string_split(men.mention, ' '))::BIGINT AS mention_len,
                 coalesce(matches, 0) AS matches, coalesce(ntem, 0) AS ntem,
                 coalesce(smil, 0) AS smil,
                 round(len(string_split(men.mention, ' '))::DOUBLE / men.qlen::DOUBLE, 4)
                   AS len_ratio
          FROM men LEFT JOIN mt USING (qid, mention)
                   LEFT JOIN nt USING (qid, mention)
                   LEFT JOIN sm USING (qid, mention)""",

    "q36_entity_mention_bool" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS t, lang, $NORM AS ntext FROM documents),
            titles AS (SELECT lang, min(tok) AS title FROM
                        (SELECT lang, unnest(list_distinct(t)) AS tok FROM dt) GROUP BY lang),
            qd AS (SELECT doc_id AS qid, lang, ntext AS abs_,
                          unnest(list_distinct(t)) AS mention
                   FROM dt WHERE doc_id % 17 = 0)
          SELECT qid, mention,
                 CASE WHEN title <> '' AND contains(mention, title) THEN 1 ELSE 0 END AS mct,
                 CASE WHEN contains(title, mention) THEN 1 ELSE 0 END AS tcm,
                 CASE WHEN mention = title THEN 1 ELSE 0 END AS tem,
                 (CASE WHEN strpos(abs_, mention) > 0 THEN strpos(abs_, mention) - 1
                       ELSE 1000 END)::BIGINT AS pos1
          FROM qd JOIN titles USING (lang)""",

    "q37_facc_features" ->
      s"""WITH facc AS (SELECT DISTINCT doc_id, unnest(list_distinct($TOKS)) AS entity
                        FROM documents),
            nd AS (SELECT count(*)::BIGINT AS n FROM documents),
            ef AS (SELECT entity, count(DISTINCT doc_id) AS freq FROM facc GROUP BY 1),
            pairs AS (SELECT DISTINCT x.entity AS e1, y.entity AS e2
                      FROM facc x JOIN facc y USING (doc_id)
                      WHERE x.entity < y.entity),
            andf AS (SELECT x.entity AS e1, y.entity AS e2, count(*) AS and_freq
                     FROM facc x JOIN facc y USING (doc_id)
                     WHERE x.entity < y.entity GROUP BY 1, 2),
            j AS (SELECT p.e1, p.e2, f1.freq AS f1, f2.freq AS f2,
                         coalesce(and_freq, 0) AS and_freq, nd.n AS n,
                         coalesce(and_freq, 0)::DOUBLE / nd.n AS p
                  FROM pairs p JOIN ef f1 ON p.e1 = f1.entity
                               JOIN ef f2 ON p.e2 = f2.entity
                               LEFT JOIN andf ON p.e1 = andf.e1 AND p.e2 = andf.e2
                               CROSS JOIN nd)
          SELECT e1, e2, and_freq, (f1 + f2 - and_freq) AS or_freq,
                 round(p, 4) AS joint_prob,
                 round(CASE WHEN p <= 0 OR p >= 1 THEN 0
                       ELSE -(p * ln(p)) - (1.0 - p) * ln(1.0 - p) END, 4) AS entropy,
                 round(CASE WHEN and_freq = 0 THEN 0
                       ELSE and_freq::DOUBLE / (f1 + f2 - and_freq) END, 4) AS jc,
                 round(CASE WHEN least(f1, f2) = 0 OR and_freq = 0 THEN 0
                       WHEN ln(n::DOUBLE) - ln(least(f1, f2)::DOUBLE) = 0 THEN
                         (CASE WHEN ln(greatest(f1, f2)::DOUBLE) - ln(and_freq::DOUBLE) = 0
                               THEN 1 ELSE 0 END)
                       ELSE greatest(1.0 - (ln(greatest(f1, f2)::DOUBLE) - ln(and_freq::DOUBLE))
                              / (ln(n::DOUBLE) - ln(least(f1, f2)::DOUBLE)), 0) END, 4) AS mw_rel
          FROM j""",

    "q38_graph_features" ->
      """WITH mem AS (SELECT DISTINCT lang AS cluster_id, source AS entity FROM documents),
            m AS (SELECT cluster_id, entity,
                    ['src' || ((substr(entity, 4)::INT + 1) % 20),
                     'src' || ((substr(entity, 4)::INT + 2) % 20)] AS links FROM mem),
            n AS (SELECT cluster_id, count(*) AS n FROM m GROUP BY 1),
            e AS (SELECT x.cluster_id, count(*) AS n_edges
                  FROM m x JOIN m y ON x.cluster_id = y.cluster_id AND x.entity < y.entity
                  WHERE list_contains(x.links, y.entity) OR list_contains(y.links, x.entity)
                  GROUP BY 1),
            nbr AS (SELECT cluster_id, entity, unnest(list_distinct(links)) AS nb FROM m),
            cmn AS (SELECT q.cluster_id, count(*) AS common_neighbors FROM
                     (SELECT cluster_id, nb, count(*) AS c FROM nbr GROUP BY 1, 2) q
                     JOIN n USING (cluster_id) WHERE c = n GROUP BY 1),
            al AS (SELECT cluster_id, count(DISTINCT nb) AS all_neighbors FROM nbr GROUP BY 1)
          SELECT n.cluster_id, n.n, coalesce(n_edges, 0) AS n_edges,
                 (CASE WHEN n.n = 1 THEN -1 ELSE coalesce(common_neighbors, 0) END)::BIGINT
                   AS common_neighbors,
                 coalesce(all_neighbors, 0) AS all_neighbors,
                 round(CASE WHEN n.n = 1 THEN 1
                       ELSE coalesce(n_edges, 0)::DOUBLE / (n.n * (n.n - 1) / 2) END, 4)
                   AS completeness,
                 round(CASE WHEN n.n = 1 THEN -1
                       WHEN coalesce(all_neighbors, 0) = 0 THEN 0
                       ELSE coalesce(common_neighbors, 0)::DOUBLE / all_neighbors END, 4) AS jc
          FROM n LEFT JOIN e USING (cluster_id)
                 LEFT JOIN cmn USING (cluster_id)
                 LEFT JOIN al USING (cluster_id)""",

    "q39_delta_prune" ->
      """WITH d AS (SELECT DISTINCT o_custkey AS qid, o_totalprice AS score FROM orders),
            x AS (SELECT qid, score,
                    row_number() OVER w AS rn,
                    count(*) OVER (PARTITION BY qid) AS n,
                    score - lead(score) OVER w AS dd
                  FROM d WINDOW w AS (PARTITION BY qid ORDER BY score DESC)),
            y AS (SELECT *, max(dd) OVER (PARTITION BY qid ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxprev FROM x),
            z AS (SELECT *, CASE WHEN rn = 1 OR rn = n THEN 1
                                 WHEN dd >= maxprev THEN 1 ELSE 0 END AS ok FROM y),
            k AS (SELECT *, min(ok) OVER (PARTITION BY qid ORDER BY score DESC
                    ROWS UNBOUNDED PRECEDING) AS kept FROM z)
          SELECT qid, score FROM k WHERE n <= 2 OR kept = 1""",

    "q40_id_functions" ->
      """SELECT n_nationkey,
                '<fb:m.' || lower(n_name) || '>' AS fb_uri,
                '/m/' || lower(n_name) AS fb_id,
                replace(n_name, '_', ' ') AS name,
                'a/b c' AS dec
         FROM nation""",

    // first fb-prefixed entry of the constructed sameAs array in stored
    // order; ids ≡ 0 (mod 3) carry none → NULL (entity.py:79-119)
    "q43_sameas_map" ->
      """SELECT n_nationkey, n_name,
                CASE WHEN n_nationkey % 3 = 0 THEN NULL
                     ELSE '<fb:m.' || lower(n_name) || '>' END AS mapped
         FROM nation""",

    "q41_instance_concat" ->
      """SELECT doc_id,
                (row_number() OVER (ORDER BY doc_id % 2, doc_id) - 1)::BIGINT AS ins_id
         FROM documents""",

    "q42_train_stats" ->
      """SELECT count(*)::BIGINT AS n_pos,
                count(DISTINCT lang)::BIGINT AS n_queries,
                (SELECT count(*) FROM (SELECT lang FROM documents GROUP BY lang
                  HAVING count(DISTINCT source) > 1))::BIGINT AS n_multi_interp
         FROM documents""",

    // q20: full IVF replica — deterministic seed centroids, dot-argmax
    // assignment against L2-normalized centroids, nProbe=4 probes,
    // exact cosine within probed cells
    "q20_ann_ivf" ->
      """WITH cent AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                              embedding::DOUBLE[] AS cv
                       FROM (SELECT vec_id, embedding FROM embeddings
                             ORDER BY vec_id LIMIT 16)),
            centn AS (SELECT cell,
                        list_transform(cv, x -> x / sqrt(list_inner_product(cv, cv))) AS cvn
                      FROM cent),
            assign AS (SELECT nbr_id, cv2 AS cv, cell FROM (
                SELECT e.vec_id AS nbr_id, e.embedding AS cv2, cn.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_inner_product(e.embedding::DOUBLE[], cn.cvn) DESC,
                                  cn.cell) AS r
                FROM embeddings e CROSS JOIN centn cn) WHERE r = 1),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                  WHERE vec_id < 20),
            probes AS (SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, c.cell,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv) DESC,
                                  c.cell) AS r
                FROM q CROSS JOIN cent c) WHERE r <= 4),
            s AS (SELECT query_id, nbr_id,
                    round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 6) AS cosine
                  FROM probes JOIN assign USING (cell) WHERE query_id <> nbr_id)
          SELECT query_id, nbr_id, cosine, rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, nbr_id) AS rnk FROM s)
          WHERE rnk <= 5""",

    // the greedy fold as a recursive CTE: rec(qid, i, kept, nsets) steps
    // through the (score desc, mention, entity)-ordered candidates; each
    // step either drops the candidate (containment prune), appends it to
    // every word-compatible interpretation (sets := compat), or opens a
    // new interpretation. Exactly GreedyIsf.pruneContainment + firstFit.
    "q34_greedy_isf" -> {
      val contained =
        "len(list_filter(r.kept, k -> contains(k.mention, c.mention) " +
          "OR contains(c.mention, k.mention))) > 0"
      val compat =
        """list_filter(range(0, r.nsets), s -> NOT list_has_any(
          flatten(list_transform(list_filter(r.kept, k -> list_contains(k.sets, s)),
                                 k -> string_split(k.mention, ' '))),
          string_split(c.mention, ' ')))"""
      s"""WITH RECURSIVE
            surf AS (SELECT unnest(${NGRAMS(2)}) AS surface, lang AS entity
                     FROM (SELECT $TOKS AS t, lang FROM documents)),
            cagg AS (SELECT surface, entity, count(*) AS cnt FROM surf GROUP BY 1, 2),
            dict AS (SELECT surface, entity, cmn FROM (
                       SELECT surface, entity,
                              cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY surface))::DOUBLE AS cmn
                       FROM cagg) WHERE cmn >= 0.1),
            ng AS (SELECT doc_id AS qid, unnest(${NGRAMS(3)}) AS surface
                   FROM (SELECT doc_id, $TOKS AS t FROM documents)
                   WHERE doc_id % 17 = 0),
            mm AS (SELECT qid, surface, entity, cmn,
                          len(string_split(surface, ' ')) AS len
                   FROM ng JOIN dict USING (surface)),
            backoff AS (SELECT qid, surface AS mention, entity, cmn AS score FROM (
                          SELECT *, max(len) OVER (PARTITION BY qid) AS ml FROM mm)
                        WHERE len = ml),
            cands AS (SELECT qid, mention, entity, score,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, mention, entity) AS rn
                      FROM backoff WHERE score >= 0.25),
            nq AS (SELECT qid, max(rn) AS n FROM cands GROUP BY 1),
            rec AS (
              SELECT qid, 0 AS i,
                     CAST([] AS STRUCT(mention VARCHAR, entity VARCHAR,
                                       score DOUBLE, sets INT[])[]) AS kept,
                     0 AS nsets
              FROM nq
              UNION ALL
              SELECT r.qid, r.i + 1,
                CASE WHEN $contained THEN r.kept
                     WHEN len($compat) > 0 THEN list_append(r.kept,
                       {'mention': c.mention, 'entity': c.entity,
                        'score': c.score, 'sets': $compat})
                     ELSE list_append(r.kept,
                       {'mention': c.mention, 'entity': c.entity,
                        'score': c.score, 'sets': [r.nsets]}) END,
                CASE WHEN $contained OR len($compat) > 0
                     THEN r.nsets ELSE r.nsets + 1 END
              FROM rec r JOIN cands c ON c.qid = r.qid AND c.rn = r.i + 1
            ),
            final AS (SELECT rec.qid, kept
                      FROM rec JOIN nq ON rec.qid = nq.qid AND rec.i = nq.n),
            members AS (SELECT qid, k.entity, k.score, unnest(k.sets) AS set_id
                        FROM (SELECT qid, unnest(kept) AS k FROM final))
          SELECT qid::VARCHAR AS qid, set_id, round(avg(score), 4) AS score,
                 array_to_string(list_sort(list_distinct(list(entity))), ' ') AS entities
          FROM members GROUP BY 1, 2"""
    },

    // exhaustive all-pairs Jaccard ≥ 0.5 over distinct 3-shingle sets —
    // see the q21 queries-entry comment for the LSH-recall argument
    "q21_minhash_pairs" ->
      s"""WITH dt AS (SELECT doc_id, $TOKS AS t FROM documents),
            shl AS (SELECT doc_id, list_distinct(${SHINGLES(3)}) AS shs FROM dt)
          SELECT a, b, round(jacc, 4) AS jaccard FROM (
            SELECT x.doc_id AS a, y.doc_id AS b,
                   len(list_intersect(x.shs, y.shs))::DOUBLE
                     / len(list_distinct(x.shs || y.shs))::DOUBLE AS jacc
            FROM shl x JOIN shl y ON x.doc_id < y.doc_id)
          WHERE jacc >= 0.5""",

    // q22/q23: the bucket keys are xxhash64-derived, so graft.Verify
    // exports the Spark-computed signatures/bucket assignments to
    // /tmp/graft-aux (see Verify.AuxDir) and the oracle replays the full
    // pairing + exact-verify semantics over them: block-size cap, within-
    // block pairs, dedup, then the Hamming / cosine verify recomputed
    // INDEPENDENTLY by DuckDB (bit_count(xor) over the signatures; exact
    // cosine over the embeddings table).
    "q22_simhash_pairs" ->
      """WITH blocks AS (SELECT DISTINCT conv_id, block_key
                         FROM '/tmp/graft-aux/q22_blocks/*.parquet'),
            sizes AS (SELECT block_key, count(*) AS sz FROM blocks GROUP BY 1),
            kept AS (SELECT b.conv_id, b.block_key FROM blocks b
                     JOIN sizes USING (block_key) WHERE sz BETWEEN 2 AND 64),
            pairs AS (SELECT DISTINCT x.conv_id AS a, y.conv_id AS b
                      FROM kept x JOIN kept y
                        ON x.block_key = y.block_key AND x.conv_id < y.conv_id),
            sim AS (SELECT conv_id, sim FROM '/tmp/graft-aux/q22_sim/*.parquet')
          SELECT p.a, p.b, bit_count(xor(sa.sim, sb.sim))::INT AS hamming
          FROM pairs p
          JOIN sim sa ON sa.conv_id = p.a
          JOIN sim sb ON sb.conv_id = p.b
          WHERE bit_count(xor(sa.sim, sb.sim)) <= 3""",

    "q23_emb_neardup" ->
      """WITH bk AS (SELECT conv_id, block_key
                     FROM '/tmp/graft-aux/q23_buckets/*.parquet'),
            sizes AS (SELECT block_key, count(*) AS sz FROM bk GROUP BY 1),
            kept AS (SELECT b.conv_id, b.block_key FROM bk b
                     JOIN sizes USING (block_key) WHERE sz <= 256),
            pairs AS (SELECT DISTINCT x.conv_id AS a, y.conv_id AS b
                      FROM kept x JOIN kept y
                        ON x.block_key = y.block_key AND x.conv_id < y.conv_id),
            v AS (SELECT vec_id::VARCHAR AS conv_id, embedding FROM embeddings)
          SELECT p.a, p.b,
                 round(list_cosine_similarity(va.embedding::DOUBLE[],
                                              vb.embedding::DOUBLE[]), 4) AS cosine
          FROM pairs p
          JOIN v va ON va.conv_id = p.a
          JOIN v vb ON vb.conv_id = p.b
          WHERE list_cosine_similarity(va.embedding::DOUBLE[],
                                       vb.embedding::DOUBLE[]) >= 0.25""",

    "q44_facc_set_features" ->
      s"""WITH facc AS (SELECT DISTINCT doc_id, unnest(list_distinct($TOKS)) AS entity
                        FROM documents),
            nd AS (SELECT count(*)::BIGINT AS ndocs FROM documents),
            s AS (SELECT DISTINCT doc_id AS set_id,
                         unnest(list_sort(list_distinct(t))[1:3]) AS entity
                  FROM (SELECT doc_id, $TOKS AS t FROM documents)
                  WHERE doc_id % 17 = 0),
            n AS (SELECT set_id, count(*) AS n FROM s GROUP BY 1),
            ef AS (SELECT entity, count(DISTINCT doc_id) AS freq FROM facc GROUP BY 1),
            fs AS (SELECT set_id, min(coalesce(freq, 0)) AS min_f,
                          max(coalesce(freq, 0)) AS max_f
                   FROM s LEFT JOIN ef USING (entity) GROUP BY 1),
            pd AS (SELECT set_id, doc_id, count(*) AS k
                   FROM s JOIN facc USING (entity) GROUP BY 1, 2),
            orf AS (SELECT set_id, count(*) AS or_freq FROM pd GROUP BY 1),
            andf AS (SELECT pd.set_id, count(*) AS and_freq
                     FROM pd JOIN n USING (set_id) WHERE k = n GROUP BY 1),
            j AS (SELECT n.set_id, n.n, fs.min_f, fs.max_f,
                         coalesce(or_freq, 0) AS or_freq,
                         coalesce(and_freq, 0) AS and_freq,
                         coalesce(and_freq, 0)::DOUBLE / nd.ndocs AS p, nd.ndocs
                  FROM n JOIN fs USING (set_id)
                         LEFT JOIN orf USING (set_id)
                         LEFT JOIN andf USING (set_id) CROSS JOIN nd)
          SELECT set_id, n, and_freq, or_freq, round(p, 4) AS joint_prob,
                 round(CASE WHEN p <= 0 OR p >= 1 THEN 0
                       ELSE -(p * ln(p)) - (1.0 - p) * ln(1.0 - p) END, 4) AS entropy,
                 round(CASE WHEN n = 1 THEN -1 WHEN and_freq = 0 THEN 0
                       ELSE and_freq::DOUBLE / or_freq END, 4) AS jc,
                 round(CASE WHEN n = 1 THEN -1
                       WHEN min_f = 0 OR and_freq = 0 THEN 0
                       WHEN ln(ndocs::DOUBLE) - ln(min_f::DOUBLE) = 0 THEN
                         (CASE WHEN ln(max_f::DOUBLE) - ln(and_freq::DOUBLE) = 0
                               THEN 1 ELSE 0 END)
                       ELSE greatest(1.0 - (ln(max_f::DOUBLE) - ln(and_freq::DOUBLE))
                              / (ln(ndocs::DOUBLE) - ln(min_f::DOUBLE)), 0) END, 4) AS mw_rel
          FROM j""",

    "q45_gt_isf" ->
      s"""WITH gt AS (SELECT lang AS qid,
                   CASE WHEN doc_id % 7 = 0 THEN '-1' ELSE source END AS set_id,
                   doc_id::VARCHAR AS entity, list_min($TOKS) AS mention
                 FROM documents)
          SELECT qid, set_id, '1' AS target, entity, max(mention) AS mention
          FROM gt WHERE set_id <> '-1' AND entity IS NOT NULL
          GROUP BY qid, set_id, entity""",

    // q46: full replica of the 2-round spherical k-means codebook (every
    // centroid coordinate rounded to 1e-6 each round, exactly as
    // SimilaritySearch.kmeansCentroids does, so assignment argmax is
    // engine-independent), then IVF probe/search as q20
    "q46_ann_ivf_trained" -> {
      def iter(prev: String, cur: String) =
        s"""a_$cur AS (SELECT cv, cell FROM (
                SELECT e.embedding::DOUBLE[] AS cv, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_inner_product(e.embedding::DOUBLE[], c.cvn) DESC,
                                  c.cell) AS r
                FROM embeddings e CROSS JOIN $prev c) WHERE r = 1),
            m_$cur AS (SELECT cell, i, round(avg(v), 6) AS m FROM
                         (SELECT cell, generate_subscripts(cv, 1) AS i,
                                 unnest(cv) AS v FROM a_$cur)
                       GROUP BY 1, 2),
            mv_$cur AS (SELECT cell, list(m ORDER BY i) AS v FROM m_$cur GROUP BY cell),
            $cur AS (SELECT p.cell,
                       CASE WHEN mv.v IS NULL THEN p.cvn
                            ELSE list_transform(list_transform(mv.v,
                                   x -> x / sqrt(list_inner_product(mv.v, mv.v))),
                                 x -> round(x, 6)) END AS cvn
                     FROM $prev p LEFT JOIN mv_$cur mv USING (cell))"""
      s"""WITH seed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                               embedding::DOUBLE[] AS cv
                        FROM (SELECT vec_id, embedding FROM embeddings
                              ORDER BY vec_id LIMIT 16)),
            c0 AS (SELECT cell, list_transform(
                     list_transform(cv, x -> x / sqrt(list_inner_product(cv, cv))),
                     x -> round(x, 6)) AS cvn FROM seed),
            ${iter("c0", "c1")},
            ${iter("c1", "c2")},
            assign AS (SELECT nbr_id, cv, cell FROM (
                SELECT e.vec_id AS nbr_id, e.embedding AS cv, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_inner_product(e.embedding::DOUBLE[], c.cvn) DESC,
                                  c.cell) AS r
                FROM embeddings e CROSS JOIN c2 c) WHERE r = 1),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                  WHERE vec_id < 20),
            probes AS (SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, c.cell,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[], c.cvn), 6) DESC,
                                  c.cell) AS r
                FROM q CROSS JOIN c2 c) WHERE r <= 4),
            s AS (SELECT query_id, nbr_id,
                    round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 6) AS cosine
                  FROM probes JOIN assign USING (cell) WHERE query_id <> nbr_id)
          SELECT query_id, nbr_id, cosine, rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, nbr_id) AS rnk FROM s)
          WHERE rnk <= 5"""
    },

    // q47: the yerdCvInstances feature assembly replicated over the
    // documents-derived gt frame (mention = first bigram, entity = first
    // token → titles are the tokens themselves, uri_to_name passthrough)
    "q47_ltr_features" ->
      s"""WITH base AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
            gt AS (SELECT lang || '_' || doc_id AS qid,
                          array_to_string(t[1:8], ' ') AS qtext,
                          array_to_string(t[1:2], ' ') AS mention, t[1] AS entity
                   FROM base WHERE len(t) > 0),
            counts AS (SELECT mention AS surface, entity, count(*) AS cnt
                       FROM gt GROUP BY 1, 2),
            dict AS (SELECT surface, entity, cmn FROM (
                       SELECT surface, entity,
                              cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY surface))::DOUBLE AS cmn
                       FROM counts) WHERE cmn >= 0.1),
            titles AS (SELECT entity, min(entity) AS title FROM gt GROUP BY 1),
            q AS (SELECT DISTINCT qid, qtext FROM gt),
            men AS (SELECT DISTINCT qid, qtext, unnest(
                      flatten([[array_to_string(qt[i:i+n-1], ' ')
                        for i in range(1, len(qt)-n+2)]
                        for n in range(1, least(8, len(qt))+1)])) AS mention
                    FROM (SELECT qid, qtext, string_split(qtext, ' ') AS qt FROM q)),
            pm AS (SELECT surface AS mention, count(*) AS matches FROM dict GROUP BY 1),
            nt AS (SELECT qid, mention, count(*) AS ntem
                   FROM men JOIN titles ON mention = title GROUP BY 1, 2),
            sm AS (SELECT qid, mention, count(*) AS smil FROM
                    (SELECT qid, mention,
                            unnest(flatten([[array_to_string(mt[i:i+n-1], ' ')
                              for i in range(1, len(mt)-n+2)]
                              for n in range(1, least(8, len(mt))+1)])) AS ng
                     FROM (SELECT DISTINCT qid, mention,
                             string_split(mention, ' ') AS mt FROM men))
                   JOIN titles ON ng = title GROUP BY 1, 2),
            pos AS (SELECT DISTINCT qid, entity FROM gt)
          SELECT men.qid, men.mention, dict.entity,
                 CASE WHEN pos.entity IS NOT NULL THEN 1.0 ELSE 0.0 END AS label,
                 round(dict.cmn, 4) AS cmn,
                 len(string_split(men.mention, ' '))::DOUBLE AS len,
                 round(len(string_split(men.mention, ' '))::DOUBLE
                   / len(string_split(men.qtext, ' '))::DOUBLE, 4) AS len_ratio,
                 coalesce(pm.matches, 0)::DOUBLE AS matches,
                 coalesce(nt.ntem, 0)::DOUBLE AS ntem,
                 coalesce(sm.smil, 0)::DOUBLE AS smil,
                 (CASE WHEN coalesce(title, '') <> ''
                       AND contains(men.mention, coalesce(title, ''))
                       THEN 1 ELSE 0 END)::DOUBLE AS mct,
                 (CASE WHEN contains(coalesce(title, ''), men.mention)
                       THEN 1 ELSE 0 END)::DOUBLE AS tcm,
                 (CASE WHEN coalesce(title, '') = men.mention
                       THEN 1 ELSE 0 END)::DOUBLE AS tem,
                 (CASE WHEN coalesce(title, '') <> ''
                       AND contains(men.qtext, coalesce(title, ''))
                       THEN 1 ELSE 0 END)::DOUBLE AS qct,
                 (CASE WHEN contains(coalesce(title, ''), men.qtext)
                       THEN 1 ELSE 0 END)::DOUBLE AS tcq,
                 (CASE WHEN coalesce(title, '') = men.qtext
                       THEN 1 ELSE 0 END)::DOUBLE AS teq
          FROM men JOIN dict ON dict.surface = men.mention
                   LEFT JOIN titles ON titles.entity = dict.entity
                   LEFT JOIN pm ON pm.mention = men.mention
                   LEFT JOIN nt ON nt.qid = men.qid AND nt.mention = men.mention
                   LEFT JOIN sm ON sm.qid = men.qid AND sm.mention = men.mention
                   LEFT JOIN pos ON pos.qid = men.qid AND pos.entity = dict.entity""",

    // q28: the pipeline input is self-generated (TranscriptGen nBase=50,
    // dupsPerBase=2 — independent of the sf dir) and fully deterministic;
    // a correct pipeline resolves exactly the 50 planted triples, so the
    // histogram is a constant golden
    "q28_pipeline_clusters" ->
      "SELECT 3::BIGINT AS cluster_size, 50::BIGINT AS n_clusters",

    // q29: the decode stub's rolling hash is recomputed byte-for-byte
    // (documents are ASCII, so ascii(char) == unsigned payload byte)
    "q29_media_decode" ->
      """SELECT doc_id AS media_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                     ELSE 'video' END AS kind,
                octet_length(encode(text))::BIGINT AS n_bytes,
                round(((list_reduce(list_prepend(7::BIGINT,
                    [ascii(text[i:i])::BIGINT for i in range(1, len(text)+1)]),
                    (a, b) -> (a * 31 + b) % 1000000007) % 2000) - 1000) / 1000.0, 4) AS f0
         FROM documents""",

    // q48: recursive include/exclude replay of the interpretation-set
    // space — at each candidate (ordered by the same deterministic rank)
    // the set either skips it or takes it when its mention shares no word
    // with the taken mentions AND its entity is unchosen (the entity-
    // collapse completeness filter, segmentation.py:80-86); a valid iset
    // is any non-empty fully-expanded path. Dict/backoff CTEs are the q34
    // fixture.
    "q48_iset_enum" -> {
      s"""WITH RECURSIVE
            surf AS (SELECT unnest(${NGRAMS(2)}) AS surface, lang AS entity
                     FROM (SELECT $TOKS AS t, lang FROM documents)),
            cagg AS (SELECT surface, entity, count(*) AS cnt FROM surf GROUP BY 1, 2),
            dict AS (SELECT surface, entity, cmn FROM (
                       SELECT surface, entity,
                              cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY surface))::DOUBLE AS cmn
                       FROM cagg) WHERE cmn >= 0.1),
            ng AS (SELECT doc_id AS qid, unnest(${NGRAMS(3)}) AS surface
                   FROM (SELECT doc_id, $TOKS AS t FROM documents)
                   WHERE doc_id % 17 = 0),
            mm AS (SELECT qid, surface, entity, cmn,
                          len(string_split(surface, ' ')) AS len
                   FROM ng JOIN dict USING (surface)),
            backoff AS (SELECT DISTINCT qid, surface AS mention, entity, cmn AS score
                        FROM (SELECT *, max(len) OVER (PARTITION BY qid) AS ml FROM mm)
                        WHERE len = ml),
            capped AS (SELECT * FROM (
                         SELECT qid, mention, entity, score,
                                row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, mention, entity) AS rn
                         FROM backoff) WHERE rn <= 8),
            nq AS (SELECT qid, count(*) AS n FROM capped GROUP BY 1),
            rec AS (
              SELECT qid, 0 AS i,
                     CAST([] AS STRUCT(entity VARCHAR, mention VARCHAR)[]) AS taken
              FROM nq
              UNION ALL
              SELECT r.qid, r.i + 1,
                     CASE WHEN ch.take
                          THEN list_append(r.taken, {'entity': c.entity, 'mention': c.mention})
                          ELSE r.taken END
              FROM rec r
              JOIN capped c ON c.qid = r.qid AND c.rn = r.i + 1
              CROSS JOIN (SELECT unnest([true, false]) AS take) ch
              WHERE (NOT ch.take) OR (
                NOT list_contains(list_transform(r.taken, t -> t.entity), c.entity)
                AND NOT list_has_any(
                      flatten(list_transform(r.taken,
                        t -> list_distinct(string_split(t.mention, ' ')))),
                      string_split(c.mention, ' ')))),
            final AS (SELECT r.qid, r.taken FROM rec r JOIN nq USING (qid)
                      WHERE r.i = nq.n AND len(r.taken) > 0)
          SELECT qid::VARCHAR AS qid,
                 array_to_string(list_sort(list_transform(taken,
                   t -> t.entity || '=' || t.mention)), ' ') AS iset,
                 len(taken)::BIGINT AS n
          FROM final"""
    },

    "q49_query_set_sim" ->
      s"""WITH $LM_TP,
            mem AS (SELECT qid, entity, entity % 3 AS iset_id FROM cands),
            settp AS (SELECT tp.qid, mem.iset_id, tp.term, tp.qtf, tp.qlen,
                             sum(tp.p) AS p, any_value(tp.p_t_c) AS p_t_c
                      FROM tp JOIN mem ON mem.qid = tp.qid AND mem.entity = tp.entity
                      GROUP BY 1, 2, 3, 4, 5)
          SELECT qid, iset_id,
                 round(CASE WHEN sum(p) = 0 THEN 0
                       ELSE exp(sum(CASE WHEN p > 0
                                    THEN (qtf::DOUBLE / qlen) * (ln(p) - ln(p_t_c))
                                    ELSE 0 END)) END, 4) AS set_sim
          FROM settp GROUP BY 1, 2""",

    "q50_context_sim" ->
      s"""WITH dt AS (SELECT doc_id AS doc, unnest($TOKS) AS term FROM documents),
            doc_tf AS (SELECT doc, term, count(*) AS tf FROM dt GROUP BY 1, 2),
            doc_len AS (SELECT doc, sum(tf) AS len_d FROM doc_tf GROUP BY 1),
            coll_tf AS (SELECT term, sum(tf) AS cf FROM doc_tf GROUP BY 1),
            coll AS (SELECT sum(tf) AS coll_len FROM doc_tf),
            q AS (SELECT doc_id AS qid, array_to_string(t[1:5], ' ') AS qtext,
                         t[2] AS mention, lang, source
                  FROM (SELECT doc_id, $TOKS AS t, lang, source FROM documents)
                  WHERE doc_id % 17 = 0 AND len(t) >= 2),
            ctx AS (SELECT qid, mention,
                           trim(qtext[1:instr(qtext, mention) - 1] ||
                                qtext[instr(qtext, mention) + len(mention):]) AS context
                    FROM q WHERE instr(qtext, mention) > 0),
            cterms AS (SELECT qid, term, count(*) AS qtf FROM (
                         SELECT qid, unnest(list_filter(string_split(context, ' '),
                                            x -> x <> '')) AS term FROM ctx)
                       GROUP BY 1, 2),
            clen AS (SELECT qid, sum(qtf) AS qlen FROM cterms GROUP BY 1),
            cands AS (SELECT q.qid, q.mention, d.doc_id AS entity
                      FROM q JOIN documents d USING (lang, source)),
            tp AS (SELECT c.qid, c.entity, t.term, t.qtf, cl.qlen,
                          (0.9 * CASE WHEN coalesce(len_d, 0) > 0
                                 THEN coalesce(tf, 0)::DOUBLE / len_d ELSE 0 END
                           + 0.1 * CASE WHEN coll_len > 0
                                 THEN coalesce(cf, 0)::DOUBLE / coll_len ELSE 0 END) AS p,
                          (CASE WHEN coll_len > 0
                                THEN coalesce(cf, 0)::DOUBLE / coll_len ELSE 0 END) AS p_t_c
                   FROM cands c
                   JOIN cterms t USING (qid)
                   JOIN clen cl USING (qid)
                   LEFT JOIN doc_tf ON doc_tf.doc = c.entity AND doc_tf.term = t.term
                   LEFT JOIN doc_len ON doc_len.doc = c.entity
                   LEFT JOIN coll_tf ON coll_tf.term = t.term
                   CROSS JOIN coll),
            scored AS (SELECT qid, entity,
                              CASE WHEN sum(p) = 0 THEN 0
                                   ELSE exp(sum(CASE WHEN p > 0
                                            THEN (qtf::DOUBLE / qlen) * (ln(p) - ln(p_t_c))
                                            ELSE 0 END)) END AS context_sim
                       FROM tp GROUP BY 1, 2)
          SELECT c.qid, c.entity, c.mention,
                 round(coalesce(s.context_sim, 0), 4) AS context_sim
          FROM cands c LEFT JOIN scored s USING (qid, entity)""",

    // q51: STRUCTURAL parity (VERDICT r4 item 7) — graft.Verify exports
    // the prior run's matched-edge snapshot, the id universe, and the
    // retract set; DuckDB replays the retraction (drop edges touching a
    // retracted id) AND the clustering from scratch (recursive-CTE
    // transitive closure, min-member labels — the same convention as
    // ConnectedComponents). The Spark side must reproduce that assignment
    // id for id.
    "q51_retract" ->
      """WITH RECURSIVE
            uni AS (SELECT conv_id FROM '/tmp/graft-aux/q51_universe/*.parquet'),
            gone AS (SELECT conv_id FROM '/tmp/graft-aux/q51_retract/*.parquet'),
            surv AS (SELECT conv_id FROM uni
                     WHERE conv_id NOT IN (SELECT conv_id FROM gone)),
            e0 AS (SELECT conv_a, conv_b
                   FROM '/tmp/graft-aux/q51_edges/*.parquet'
                   WHERE conv_a NOT IN (SELECT conv_id FROM gone)
                     AND conv_b NOT IN (SELECT conv_id FROM gone)),
            ed AS (SELECT conv_a AS a, conv_b AS b FROM e0
                   UNION SELECT conv_b, conv_a FROM e0),
            reach(id, r) AS (
              SELECT conv_id, conv_id FROM surv
              UNION
              SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b)
          SELECT id AS conv_id, min(r) AS cluster_id FROM reach GROUP BY id""",

    // q52: STRUCTURAL parity — DuckDB clusters the FULL run's exported
    // matched-edge snapshot from scratch; the incremental path's output
    // must equal that recompute (the spec asserts it against Spark's own
    // full run; this oracle asserts it against an independent engine).
    "q52_incremental" ->
      """WITH RECURSIVE
            uni AS (SELECT conv_id FROM '/tmp/graft-aux/q52_universe/*.parquet'),
            e0 AS (SELECT conv_a, conv_b
                   FROM '/tmp/graft-aux/q52_edges/*.parquet'),
            ed AS (SELECT conv_a AS a, conv_b AS b FROM e0
                   UNION SELECT conv_b, conv_a FROM e0),
            reach(id, r) AS (
              SELECT conv_id, conv_id FROM uni
              UNION
              SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b)
          SELECT id AS conv_id, min(r) AS cluster_id FROM reach GROUP BY id""",

    // q53: the stream-static linkage replayed over the exported aux
    // features (stream-side tok_set/prefix/block_key rows + the
    // fanout-capped corpus index): DuckDB re-derives the candidate join,
    // the per-pair dedup, all three similarity kernels and the mixture.
    // The Levenshtein cap (banded kernel, maxDist=128 → sim 0) and the
    // left-to-right mixture arithmetic mirror Scoring/levenshtein_sim
    // exactly.
    "q53_stream_static_link" ->
      s"""WITH sf AS (SELECT conv_id, tok_set, prefix, block_key
                     FROM '/tmp/graft-aux/q53_stream/*.parquet'),
            ix AS (SELECT block_key, corpus_id, corpus_tok_set, corpus_prefix
                   FROM '/tmp/graft-aux/q53_index/*.parquet'),
            cand AS (SELECT DISTINCT s.conv_id, i.corpus_id
                     FROM sf s JOIN ix i USING (block_key)),
            fs AS (SELECT DISTINCT conv_id, tok_set, prefix FROM sf),
            fc AS (SELECT DISTINCT corpus_id, corpus_tok_set, corpus_prefix FROM ix),
            scored AS (SELECT c.conv_id, c.corpus_id,
                CASE WHEN len(list_distinct(fs.tok_set || fc.corpus_tok_set)) = 0 THEN 0
                     ELSE len(list_intersect(fs.tok_set, fc.corpus_tok_set))::DOUBLE
                          / len(list_distinct(fs.tok_set || fc.corpus_tok_set))::DOUBLE END AS jaccard,
                jaro_winkler_similarity(fs.prefix, fc.corpus_prefix) AS jw,
                CASE WHEN greatest(len(fs.prefix), len(fc.corpus_prefix)) = 0 THEN 1.0
                     WHEN levenshtein(fs.prefix, fc.corpus_prefix) > 128 THEN 0.0
                     ELSE 1.0 - levenshtein(fs.prefix, fc.corpus_prefix)::DOUBLE
                          / greatest(len(fs.prefix), len(fc.corpus_prefix))::DOUBLE END AS lev_sim
              FROM cand c JOIN fs USING (conv_id) JOIN fc USING (corpus_id))
          SELECT conv_id, corpus_id, ${ROUND4("jaccard")} AS jaccard,
                 ${ROUND4("jw")} AS jw, ${ROUND4("lev_sim")} AS lev_sim,
                 ${ROUND4("0.6 * jaccard + 0.25 * jw + 0.15 * lev_sim")} AS score
          FROM scored
          WHERE 0.6 * jaccard + 0.25 * jw + 0.15 * lev_sim >= 0.3""",

    "q54_blocking_metrics" ->
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(${SHINGLES(3)})) AS block_key
                      FROM (SELECT doc_id, $TOKS AS t FROM documents) WHERE len(t) > 0),
            keep AS (SELECT block_key FROM sh GROUP BY block_key
                     HAVING count(*) BETWEEN 2 AND 64),
            b AS (SELECT sh.doc_id, sh.block_key FROM sh JOIN keep USING (block_key)),
            per AS (SELECT block_key, count(*) AS c FROM b GROUP BY block_key),
            ba AS (SELECT count(*) AS n_blocks, sum(c)::BIGINT AS n_entries,
                          sum(c * (c - 1) / 2)::BIGINT AS cand_pairs_sum FROM per),
            cp AS (SELECT count(*) AS cand_pairs_distinct FROM
                     (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                      FROM b x JOIN b y USING (block_key) WHERE x.doc_id < y.doc_id)),
            nrm AS (SELECT doc_id, $NORM AS norm FROM documents),
            gt AS (SELECT x.doc_id AS a, y.doc_id AS b FROM nrm x JOIN nrm y
                   ON x.norm = y.norm AND x.doc_id < y.doc_id),
            ga AS (SELECT count(*) AS gt_pairs FROM gt),
            cov AS (SELECT count(*) AS gt_covered FROM
                      (SELECT DISTINCT g.a, g.b FROM gt g
                       JOIN b bx ON bx.doc_id = g.a
                       JOIN b bz ON bz.doc_id = g.b AND bz.block_key = bx.block_key)),
            n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT n.n_docs, ba.n_blocks, ba.n_entries, ba.cand_pairs_sum,
                 cp.cand_pairs_distinct, ga.gt_pairs, cov.gt_covered,
                 round(cov.gt_covered::DOUBLE / greatest(ga.gt_pairs, 1)::DOUBLE, 6)
                   AS pair_completeness,
                 round(1.0 - cp.cand_pairs_distinct::DOUBLE
                   / greatest(n.n_docs * (n.n_docs - 1) / 2, 1)::DOUBLE, 6)
                   AS reduction_ratio
          FROM ba, cp, ga, cov, n""",

    "q55_cluster_diff" ->
      s"""WITH nrm AS (SELECT doc_id, $NORM AS k FROM documents),
            olda AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS ocid FROM nrm),
            fpt AS (SELECT doc_id,
                      list_reduce(list_prepend(0::BIGINT,
                        [ascii(x)::BIGINT * 31 + len(x) for x in $TOKS]),
                        (acc, v) -> (acc * 131 + v) % 1000000007) AS k
                    FROM documents),
            newa AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS ncid FROM fpt),
            j AS (SELECT o.doc_id, o.ocid, w.ncid FROM olda o JOIN newa w USING (doc_id)),
            cells AS (SELECT ocid, ncid, count(*) AS nv FROM j GROUP BY 1, 2),
            os AS (SELECT ocid, sum(nv)::BIGINT AS so, count(*) AS fanout
                   FROM cells GROUP BY 1),
            ns AS (SELECT ncid, sum(nv)::BIGINT AS sn, count(*) AS fanin
                   FROM cells GROUP BY 1),
            stab AS (SELECT count(*) AS n_stable FROM cells
                     JOIN os USING (ocid) JOIN ns USING (ncid)
                     WHERE nv = so AND nv = sn),
            oa AS (SELECT count(*) AS n_clusters_old,
                          sum(so * (so - 1) / 2)::BIGINT AS pairs_old,
                          sum(CASE WHEN fanout > 1 THEN 1 ELSE 0 END)::BIGINT AS n_split
                   FROM os),
            na AS (SELECT count(*) AS n_clusters_new,
                          sum(sn * (sn - 1) / 2)::BIGINT AS pairs_new,
                          sum(CASE WHEN fanin > 1 THEN 1 ELSE 0 END)::BIGINT AS n_merged
                   FROM ns),
            ba AS (SELECT sum(nv)::BIGINT AS n_ids,
                          sum(nv * (nv - 1) / 2)::BIGINT AS pairs_both FROM cells),
            oo AS (SELECT count(*)::BIGINT AS ids_only_old FROM olda o
                   WHERE NOT EXISTS (SELECT 1 FROM newa w WHERE w.doc_id = o.doc_id)),
            nn AS (SELECT count(*)::BIGINT AS ids_only_new FROM newa w
                   WHERE NOT EXISTS (SELECT 1 FROM olda o WHERE o.doc_id = w.doc_id))
          SELECT ba.n_ids, oo.ids_only_old, nn.ids_only_new,
                 oa.n_clusters_old, na.n_clusters_new, stab.n_stable,
                 oa.n_split, na.n_merged,
                 oa.pairs_old, na.pairs_new, ba.pairs_both,
                 round(ba.pairs_both::DOUBLE / greatest(na.pairs_new, 1)::DOUBLE, 6)
                   AS pairwise_precision,
                 round(ba.pairs_both::DOUBLE / greatest(oa.pairs_old, 1)::DOUBLE, 6)
                   AS pairwise_recall,
                 round(CASE WHEN ba.pairs_both::DOUBLE / greatest(na.pairs_new, 1)::DOUBLE
                              + ba.pairs_both::DOUBLE / greatest(oa.pairs_old, 1)::DOUBLE > 0
                       THEN 2.0 * (ba.pairs_both::DOUBLE / greatest(na.pairs_new, 1)::DOUBLE)
                            * (ba.pairs_both::DOUBLE / greatest(oa.pairs_old, 1)::DOUBLE)
                            / (ba.pairs_both::DOUBLE / greatest(na.pairs_new, 1)::DOUBLE
                               + ba.pairs_both::DOUBLE / greatest(oa.pairs_old, 1)::DOUBLE)
                       ELSE 0.0 END, 6) AS pairwise_f1
          FROM ba, oa, na, stab, oo, nn"""
  )
}
