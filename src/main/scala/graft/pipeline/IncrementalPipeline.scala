package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (delta) record linkage: link a batch of NEW transcripts
  * against an already-clustered corpus without re-running the full
  * pipeline over the lake.
  *
  * Reference analog: the reference processes query batches against a
  * fixed KB snapshot (nordlys/erd/query/query.py:72-108 — candidates come
  * from an index built once); the graft generalizes that to cluster
  * MAINTENANCE — yesterday's clusters plus today's ingest must equal what
  * a from-scratch run over the combined corpus would produce.
  *
  * Equivalence argument (the property `IncrementalPipelineSpec` pins):
  * a full run's clusters are the connected components of its matched-edge
  * set. Splitting that edge set by ingest batch,
  *   - old-old edges: the prior run matched exactly these (scoring is
  *     deterministic), and `priorClusters` is their transitive closure —
  *     so (conv_id → cluster_id) membership edges reproduce their
  *     connectivity exactly (cluster_id is itself a member, the
  *     min-member convention);
  *   - new-new and new-old edges: re-derived here from the same block
  *     keys ([[Pipeline.blocksPayload]] is ingest-time-invariant) and the
  *     same scoring kernels.
  * Components of (membership ∪ re-derived delta edges) therefore equal
  * components of the full edge set, and cluster ids agree because both
  * use min-member labeling. The one divergence window is the block-size
  * cap: DELTA pairs of a combined block pushed over `maxBlockSize` are
  * dropped by the same combined-count rule the full run applies (counts
  * are per-doc-distinct by kernel construction — every block kernel
  * dedups keys per doc), but old-old links the PRIOR run derived from
  * that key while it was still under the cap persist through the
  * membership edges, where a from-scratch combined run would drop the
  * whole key. That is retained recall under monotone ingest — links once
  * established are not retracted because a block later grew hot — and it
  * is the one place incremental ⊋ recompute; the drop audit
  * (`droppedKeys`) names every such key, so the divergence is never
  * silent.
  *
  * Scale shape (the 100-TB deployment this is for):
  *  - the prior corpus is never re-blocked when `priorBlocks` (the blocks
  *    snapshot a [[Pipeline.runCheckpointed]] run already materializes) is
  *    passed; bucket it by block_key and the delta probe is a co-located
  *    join;
  *  - the old side is semi-join-pruned to the delta's block keys BEFORE
  *    any aggregation — per-key counts and the pair join touch only keys
  *    the delta actually emits (AQE broadcasts the delta key set when the
  *    delta is small);
  *  - per-key fanout is capped by the SAME combined-size rule as the
  *    batch path, reported, never silent;
  *  - scoring features are semi-join-pruned to the pair set's ids before
  *    [[Scoring.scorePairs]]'s attach joins — the corpus docs snapshot is
  *    scanned, never corpus-shuffled (bucket it by hid to co-locate);
  *  - reclustering is AFFECTED-SUBGRAPH only: prior clusters untouched by
  *    any matched edge pass through verbatim (one semi- + one anti-join
  *    scan of the clusters table), so CC and its driver finisher see a
  *    delta-sized graph, never the corpus.
  */
object IncrementalPipeline {

  /** `clusters`: every id in prior ∪ new with its (possibly re-labeled)
    * cluster id. `matchedEdges`: the delta's new matched pairs with
    * scores (the audit trail of WHY clusters merged). `droppedKeys`:
    * block keys whose combined size exceeded the cap (block_key,
    * block_size) — the no-silent-caps artifact. `newDocs` / `newBlocks`:
    * the delta's docs/blocks payloads (already materialized) — APPEND
    * them to the snapshot tables so tomorrow's delta runs against
    * today's corpus without re-deriving anything
    * (`IncrementalPipelineSpec` pins that appended-snapshot chaining
    * stays recompute-exact).
    */
  case class Result(clusters: DataFrame, matchedEdges: DataFrame,
                    droppedKeys: DataFrame, newDocs: DataFrame,
                    newBlocks: DataFrame)

  /** @param newTranscripts the delta ingest (conv_id, turn_idx, role,
    *                       text, tool, ts) — conv_ids disjoint from the
    *                       prior corpus (re-ingested ids would need a
    *                       retract-and-replay, out of scope here)
    * @param priorDocs      the prior corpus docs payload
    *                       (conv_id, tokh, prefix, hid) — the `docs`
    *                       snapshot of the prior run
    * @param priorClusters  (conv_id, cluster_id) from the prior run
    * @param priorBlocks    the prior `blocks` snapshot (block_key,
    *                       conv_id = hid); recomputed from `priorDocs`
    *                       when absent (tests / one-off runs)
    */
  def run(newTranscripts: DataFrame, priorDocs: DataFrame,
          priorClusters: DataFrame, cfg: Pipeline.Config = Pipeline.Config(),
          priorBlocks: Option[DataFrame] = None): Result = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // eager checkpoint: the delta docs feed blocking AND the scoring join
    val newDocs = Pipeline.docsPayload(newTranscripts, cfg)
      .localCheckpoint(true, ser)
    val newBlocks = Pipeline.blocksPayload(newDocs, cfg)
      .localCheckpoint(true, ser)

    // prune the corpus side to keys the delta emits, then fold the pruned
    // rows STRAIGHT into a bounded distinct-collect per key: one shuffle
    // yields, for every delta key, the old-member list and the old count
    // in the same pass. Replaces the round-5 shape {checkpoint pruned
    // rows → count aggregate → anti-join the pruned rows again}, which
    // paid one extra 4.5M-row materialization plus two extra passes over
    // the delta's corpus neighborhood (measured inc_probe 3.4 s +
    // inc_pairs 3.2 s at the 6.7M-turn protocol input; see
    // OPTIMIZATION_r06.md).
    // BROADCAST the delta key set (guide §3.1): without the hint the
    // planner has no size estimate for the checkpointed delta and
    // sort-merge-joins — i.e. SHUFFLES — the entire corpus blocks
    // snapshot, which is why the round-5 driver artifact measured
    // inc_sec ≈ full_sec (28.93 vs 29.11 s at a 4.8% delta). With the
    // broadcast the snapshot is scanned once, shuffled never. The hint
    // is guarded by the delta's materialized row count so a
    // pathologically large "delta" degrades to the shuffle plan instead
    // of an executor-OOM-sized broadcast.
    // Hot-key state stays bounded: the collect saturates at cap+1
    // members, and saturation already implies the combined size exceeds
    // the cap (every probed key has ≥1 delta member), so the DROP
    // DECISION is exact; only the audited block_size becomes a lower
    // bound on saturated keys — the batch path's documented semantics.
    // Kept keys are never saturated (n_old ≤ cap−n_new < cap+1), so
    // their member lists are complete and the new-old pair join loses
    // nothing.
    val maxBroadcastRows = 4000000L
    val nNewBlockRows = newBlocks.count() // cheap: newBlocks is checkpointed
    val newKeys = newBlocks.select("block_key").distinct()
    val probeKeys =
      if (nNewBlockRows <= maxBroadcastRows) broadcast(newKeys) else newKeys
    val oldAgg = priorBlocks.getOrElse(Pipeline.blocksPayload(priorDocs, cfg))
      .join(probeKeys, Seq("block_key"), "left_semi")
      .groupBy("block_key")
      .agg(graft.functions.BoundedCollectSet
        .bounded(cfg.maxBlockSize + 1, col("conv_id").cast("long"))
        .as("old_members"))
    // eager: consumed by the drop audit, the kept-new anti-join and the
    // new-old pair join — one row per distinct delta key (delta-sized)
    val counts = newBlocks.groupBy("block_key").agg(count(lit(1)).as("n_new"))
      .join(oldAgg, Seq("block_key"), "left")
      .select(col("block_key"), col("n_new"),
        coalesce(size(col("old_members")), lit(0)).cast("long").as("n_old"),
        col("old_members"))
      .localCheckpoint(true, ser)
    val droppedKeys = counts
      .where(col("n_new") + col("n_old") > cfg.maxBlockSize)
      .select(col("block_key"),
        (col("n_new") + col("n_old")).cast("long").as("block_size"))

    val keptNew = newBlocks.join(
      broadcast(droppedKeys.select("block_key")), Seq("block_key"), "left_anti")

    // new-new pairs: the batch fused path over the delta's kept blocks
    // (every kept key's combined size ≤ cap, so its delta-only subset is
    // under the cap too — pairsFromBlocks will drop nothing here)
    val (nnPairs, _) = Blocking.pairsFromBlocks(keptNew, cfg.maxBlockSize)
    // new-old pairs: one equi-join on block_key, fanout ≤ cap²/4 per key.
    // The delta side is the small one — broadcast it (same guard as the
    // probe) so the corpus-side kept rows are streamed, not shuffled.
    val keptOldRows = counts
      .where(col("n_new") + col("n_old") <= cfg.maxBlockSize &&
        col("n_old") > 0)
      .select(col("block_key"), explode(col("old_members")).as("h_old"))
    val keptNewSel = keptNew.select(col("block_key"), col("conv_id").as("h_new"))
    val noPairs = (if (nNewBlockRows <= maxBroadcastRows) broadcast(keptNewSel)
                   else keptNewSel)
      .join(keptOldRows, "block_key")
      // same-hid guard: a delta doc colliding with a corpus doc on hid
      // would self-pair; mirrors the batch path's conv_a < conv_b
      .where(col("h_new") =!= col("h_old"))
      .select(least(col("h_new"), col("h_old")).as("conv_a"),
        greatest(col("h_new"), col("h_old")).as("conv_b"))
      .distinct()

    // eager: the pair set fans out three ways below (the two pairHids
    // projections + the scoring join) — without materialization the whole
    // block/count/anti-join subtree re-executes per consumer
    val pairs = nnPairs.select("conv_a", "conv_b")
      .unionByName(noPairs)
      .localCheckpoint(true, ser)

    // scoring features: prune the corpus docs to ids the pairs actually
    // reference BEFORE the feature-attach joins — the pair set is
    // delta-neighborhood-sized, so this turns two full-corpus shuffles
    // into a scan + broadcast semi-join. The broadcast hint matters for
    // the same reason as the probe's: the checkpointed pair set carries
    // no size estimate, and a sort-merge semi here re-shuffles the whole
    // corpus docs snapshot.
    val nPairs = pairs.count() // cheap: pairs is checkpointed
    val pairHids = pairs.select(col("conv_a").as("hid"))
      .unionByName(pairs.select(col("conv_b").as("hid"))).distinct()
    // eager: BOTH sides of scorePairs' feature-attach join consume
    // allDocs; without materialization each side re-evaluates the union +
    // semi-join — i.e. the fat priorDocs snapshot (tokh arrays, the
    // run's widest table) is scanned TWICE (the dominant term of the
    // round-5 inc_scored 4.5-5.1 s; guide §7.2 duplicated subtrees)
    val allDocs = newDocs.unionByName(
      priorDocs.select("conv_id", "tokh", "prefix", "hid"))
      .join(if (2 * nPairs <= maxBroadcastRows) broadcast(pairHids) else pairHids,
        Seq("hid"), "left_semi")
      .localCheckpoint(true, ser)
    val scored = Scoring.scorePairs(pairs, allDocs, cfg.weights,
      cfg.prefixChars, cfg.levMaxDist, pairIdCol = "hid",
      pruneBelowThreshold = Some(cfg.scoreThreshold))
    val matched = Scoring.matchedPairs(scored, cfg.scoreThreshold)
      .localCheckpoint(true, ser)

    // AFFECTED-SUBGRAPH reclustering: only prior clusters touched by a
    // matched edge can change — everything else passes through verbatim.
    // Matched edges all involve ≥1 new doc, so the affected set is the
    // clusters of matched OLD endpoints; their membership edges
    // (conv_id — cluster_id, cluster_id itself a member under min-member
    // labeling) regenerate exactly their prior connectivity. CC therefore
    // runs over a delta-sized subgraph — the corpus contributes two
    // narrow scans of priorClusters (semi + anti), never a corpus-wide
    // union-find.
    // matched ≤ pairs, so the probe guard covers these broadcasts too:
    // without them both clusters-table scans below shuffle the whole
    // corpus assignment by conv_id / cluster_id
    val small: DataFrame => DataFrame =
      df => if (2 * nPairs <= maxBroadcastRows) broadcast(df) else df
    val matchedIds = matched.select(col("conv_a").as("conv_id"))
      .unionByName(matched.select(col("conv_b").as("conv_id"))).distinct()
    // lazy: consumed by both the semi- and the anti-join below — one
    // evaluation of the priorClusters ⋉ matchedIds lookup, not two
    val affectedClusterIds = priorClusters
      .join(small(matchedIds), Seq("conv_id"), "left_semi")
      .select("cluster_id").distinct()
      .localCheckpoint(false, ser)
    val affectedMembers = priorClusters
      .join(small(affectedClusterIds), Seq("cluster_id"), "left_semi")
      .localCheckpoint(true, ser)
    val unaffected = priorClusters
      .join(small(affectedClusterIds), Seq("cluster_id"), "left_anti")

    val memberEdges = affectedMembers
      .where(col("conv_id") =!= col("cluster_id"))
      .select(col("conv_id").as("src"), col("cluster_id").as("dst"))
    val edges = matched.select(col("conv_a").as("src"), col("conv_b").as("dst"))
      .unionByName(memberEdges)

    // every new doc enters the universe (unmatched ones become
    // singletons); a matched pair can coincide with a membership edge in
    // orientation, so let CC dedup (edgesDistinct = false)
    val universe = affectedMembers.select("conv_id")
      .unionByName(newDocs.select("conv_id"))
    val reclustered = ConnectedComponents.runWithUniverse(edges, universe,
      localMaxEdges = ConnectedComponents.defaultLocalMaxEdges)

    Result(reclustered.unionByName(unaffected.select("conv_id", "cluster_id")),
      matched, droppedKeys, newDocs, newBlocks)
  }

  /** Commit a delta run to the snapshot store and bound the history —
    * the write half of the daily maintenance loop. `docs` / `blocks` /
    * `matched_edges` are APPEND tables (new snapshot = prior committed
    * snapshot ∪ the delta's rows, so tomorrow's [[run]] reads one table,
    * no union bookkeeping); `clusters` is REPLACE (the delta run already
    * returns the full corpus assignment). Every write lands as a NEW
    * snapshot with the old ones retained for time-travel/resume —
    * unbounded, that accretes a full table copy per day, so each commit
    * finishes with [[TableIO.expireSnapshots]] at `keepLast` (VERDICT r4
    * item 8). Returns the expired snapshot ids per table.
    *
    * Seeding: a prior [[Pipeline.runCheckpointed]] already leaves `docs`
    * and `blocks` snapshots in the store; `clusters` and `matched_edges`
    * seed from its StageResult (first call with the tables absent just
    * writes the delta run's view — see `IncrementalPipelineSpec`'s
    * maintenance-loop test for the full day-0/day-1/day-2 shape).
    */
  def commitSnapshots(io: TableIO, r: Result, keepLast: Int = 2): Map[String, Seq[Int]] = {
    def append(table: String, delta: DataFrame): Unit = {
      val next =
        if (io.exists(table)) io.read(table).unionByName(delta) else delta
      io.write(next, table)
    }
    append("docs", r.newDocs)
    append("blocks", r.newBlocks)
    append("matched_edges", r.matchedEdges)
    io.write(r.clusters, "clusters")
    Seq("docs", "blocks", "matched_edges", "clusters")
      .map(t => t -> io.expireSnapshots(t, keepLast)).toMap
  }

  /** `clusters`: every surviving id with its (possibly re-labeled)
    * cluster id — retracted ids are gone. `removedEdges`: the matched
    * edges deleted because they touched a retracted id (the audit trail
    * of WHY clusters split).
    */
  case class RetractResult(clusters: DataFrame, removedEdges: DataFrame)

  /** Retraction: delete conversations from an already-clustered corpus
    * and heal the affected clusters — the right-to-be-forgotten /
    * bad-ingest-rollback maintenance operation, and [[run]]'s inverse
    * under the same affected-subgraph discipline.
    *
    * Equivalence argument (mirrors [[run]]'s): a full recompute over the
    * remaining corpus matches exactly the prior matched edges whose
    * endpoints both survive — blocking is per-doc deterministic and
    * scoring pairwise deterministic, so removing docs removes exactly the
    * pairs that referenced them. Components of (prior edges minus edges
    * touching retracted ids) over the surviving universe therefore equal
    * the recompute's components; min-member labeling keeps ids aligned
    * (a cluster whose label doc was retracted relabels to its new min).
    * The one divergence window is again the block-size cap, mirrored:
    * a key the prior run dropped as oversize may fall back UNDER the cap
    * once members are retracted — the recompute would then generate that
    * key's pairs, while retraction (which never re-scores) will not.
    * Links are never invented, only released; the prior run's drop audit
    * names every such key.
    *
    * Scale shape: the retract set is typically tiny (a deletion request),
    * so every join against it broadcasts; the corpus contributes one
    * semi- + one anti-join scan of the clusters table and one anti-join
    * scan of the edges snapshot — CC and its driver finisher see only the
    * subgraph of clusters that actually contain a retracted id.
    *
    * @param retractIds    (conv_id) — conversations to delete
    * @param priorClusters (conv_id, cluster_id) from the prior run
    * @param priorEdges    the prior run's matched-edge snapshot
    *                      (conv_a, conv_b[, score]) —
    *                      [[Pipeline.StageResult.matchedEdges]] or the
    *                      accumulated [[Result.matchedEdges]] appends
    */
  def retract(retractIds: DataFrame, priorClusters: DataFrame,
              priorEdges: DataFrame): RetractResult = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val ids = retractIds.select("conv_id").distinct()
      .localCheckpoint(false, ser) // consumed by four joins below
    // the retract set is deletion-request-sized: broadcast it (and the
    // ≤|ids| affected-cluster-id set) so every corpus-table scan below is
    // a scan + broadcast join, never a corpus shuffle — the checkpointed
    // sets carry no size stats, so without hints the planner sort-merges
    // only clusters containing a retracted id can change
    val affectedClusterIds = priorClusters
      .join(broadcast(ids), Seq("conv_id"), "left_semi")
      .select("cluster_id").distinct()
      .localCheckpoint(false, ser)
    val affectedMembers = priorClusters
      .join(broadcast(affectedClusterIds), Seq("cluster_id"), "left_semi")
    val unaffected = priorClusters
      .join(broadcast(affectedClusterIds), Seq("cluster_id"), "left_anti")
    val survivors = affectedMembers.join(broadcast(ids), Seq("conv_id"), "left_anti")
      .localCheckpoint(true, ser) // feeds the universe + the edge restrict
    val edges = priorEdges.select("conv_a", "conv_b")
    val idsAsA = broadcast(ids.withColumnRenamed("conv_id", "conv_a"))
    val idsAsB = broadcast(ids.withColumnRenamed("conv_id", "conv_b"))
    val removedEdges = edges.join(idsAsA, Seq("conv_a"), "left_semi")
      .unionByName(edges.join(idsAsB, Seq("conv_b"), "left_semi"))
      .distinct()
    // surviving edges inside affected clusters: a matched edge's endpoints
    // share a prior cluster, so one endpoint ∈ survivors implies both —
    // one semi-join restricts to the affected subgraph
    val keptEdges = edges
      .join(idsAsA, Seq("conv_a"), "left_anti")
      .join(idsAsB, Seq("conv_b"), "left_anti")
      .join(survivors.select(col("conv_id").as("conv_a")),
        Seq("conv_a"), "left_semi")
      .select(col("conv_a").as("src"), col("conv_b").as("dst"))
    val reclustered = ConnectedComponents.runWithUniverse(keptEdges,
      survivors.select("conv_id"), localMaxEdges = ConnectedComponents.defaultLocalMaxEdges)
    RetractResult(
      reclustered.unionByName(unaffected.select("conv_id", "cluster_id")),
      removedEdges)
  }
}
