package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions._

/** The LTR feature families of the reference, re-expressed as relational
  * operators over dimension tables (the reference computes each with
  * per-candidate Mongo/Lucene point lookups inside Python loops):
  *
  *  - FACC co-occurrence features: nordlys/erd/features/facc_feat.py:44-113
  *  - wikilink graph set features: graph_feat.py:27-117
  *  - mention count features: mention_feat.py:26-68
  *  - boolean/positional entity-mention features: entity_mention_feat.py:27-63
  *  - largest-delta prune: isf/pruner.py:11-42
  *  - instance concatenation with stable id reassign: ml/instances.py:268-283
  *  - train-set stats: erd/ml/train_set_cer.py:166-220
  */
object Features {

  // ---------- FACC co-occurrence (facc_feat.py) ----------

  /** FACC index build (facc_indexer.py:27-71): one (doc_id, entity) row
    * per distinct entity of each doc, `entities` being an array column over
    * `docs`. The dedup is per doc and map-side (`array_distinct` before the
    * explode), so the build needs no whole-table dedup shuffle.
    *
    * Precondition: `doc_id` is unique in `docs`. Only then are the rows
    * globally distinct; a repeated doc_id repeats its rows.
    */
  def faccIndex(docs: DataFrame, entities: Column): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(entities)).as("entity"))

  /** Pairwise FACC features for candidate entity pairs (e1 < e2):
    * and_freq / or_freq document counts, joint probability, binary entropy
    * of the joint event, co-occurrence Jaccard, and Milne-Witten
    * relatedness — each a join against the co-occurrence table plus
    * broadcast single-entity frequencies, never a per-pair search.
    * Zero-guards match facc_feat.py exactly (jc: and=0 → 0; mw: missing
    * entity or and=0 → 0, clamped at 0).
    */
  def faccPairFeatures(pairs: DataFrame, facc: DataFrame, numDocs: Long): DataFrame = {
    val ef = facc.groupBy("entity").agg(countDistinct("doc_id").as("freq"))
    val andFreq = pairs
      .join(facc.select(col("entity").as("e1"), col("doc_id")), Seq("e1"))
      .join(facc.select(col("entity").as("e2"), col("doc_id")), Seq("e2", "doc_id"))
      .groupBy("e1", "e2").agg(count(lit(1)).as("and_freq"))
    val p = col("and_freq").cast("double") / numDocs
    pairs
      .join(broadcast(ef.select(col("entity").as("e1"), col("freq").as("f1"))), Seq("e1"), "left")
      .join(broadcast(ef.select(col("entity").as("e2"), col("freq").as("f2"))), Seq("e2"), "left")
      .join(andFreq, Seq("e1", "e2"), "left")
      .na.fill(0L, Seq("f1", "f2", "and_freq"))
      .withColumn("or_freq", col("f1") + col("f2") - col("and_freq"))
      .withColumn("joint_prob", p)
      // entropy guards extend the reference to its mathematical limits:
      // facc_feat.py would crash on p=1 (log(0)); H(certain event) = 0
      .withColumn("entropy",
        when(p <= 0d || p >= 1d, 0d)
          .otherwise(-(p * log(p)) - (lit(1d) - p) * log(lit(1d) - p)))
      .withColumn("jc",
        when(col("and_freq") === 0, 0d)
          .otherwise(col("and_freq").cast("double") / col("or_freq")))
      .withColumn("mw_rel", {
        val numer = log(greatest(col("f1"), col("f2")).cast("double")) -
          log(col("and_freq").cast("double"))
        val denom = log(lit(numDocs.toDouble)) -
          log(least(col("f1"), col("f2")).cast("double"))
        // denom = 0 ⇔ an entity occurs in every doc (reference would
        // divide by zero); relatedness is 1 iff the pair is inseparable
        when(least(col("f1"), col("f2")) === 0 || col("and_freq") === 0, 0d)
          .when(denom === 0d, when(numer === 0d, 1d).otherwise(0d))
          .otherwise(greatest(lit(1d) - numer / denom, lit(0d)))
      })
  }

  /** Set-level FACC features for whole entity sets of any size n ≥ 1
    * (facc_feat.py:44-113 — the reference ANDs/ORs n Lucene term queries
    * per set): and_freq = #docs containing ALL member entities, or_freq =
    * #docs containing ANY, plus joint probability, binary entropy, set
    * Jaccard and Milne-Witten over min/max single-entity frequencies.
    * Conventions match the reference exactly: singleton sets → jc = −1,
    * mw_rel = −1 (facc_feat.py:71,99); and_freq = 0 → jc = 0, mw = 0;
    * any member with zero corpus frequency → mw = 0; mw clamped at 0.
    *
    * Shape: the AND count needs no n-way self-join — one join of members
    * to the co-occurrence table, then a per-(set, doc) member count
    * compared against the set size. Two shuffles regardless of n.
    */
  def faccSetFeatures(sets: DataFrame, facc: DataFrame, numDocs: Long): DataFrame = {
    val s = sets.select("set_id", "entity").distinct() // reference set()s the ids
    val n = s.groupBy("set_id").agg(count(lit(1)).as("n"))
    val ef = facc.groupBy("entity").agg(countDistinct("doc_id").as("freq"))
    val fstats = s.join(ef, Seq("entity"), "left").na.fill(0L, Seq("freq"))
      .groupBy("set_id").agg(min("freq").as("min_f"), max("freq").as("max_f"))
    val perDoc = s.join(facc, "entity")
      .groupBy("set_id", "doc_id").agg(count(lit(1)).as("k"))
    val orF = perDoc.groupBy("set_id").agg(count(lit(1)).as("or_freq"))
    val andF = perDoc.join(n, "set_id").where(col("k") === col("n"))
      .groupBy("set_id").agg(count(lit(1)).as("and_freq"))
    val p = col("and_freq").cast("double") / numDocs
    n
      .join(fstats, Seq("set_id"), "left")
      .join(orF, Seq("set_id"), "left")
      .join(andF, Seq("set_id"), "left")
      .na.fill(0L, Seq("min_f", "max_f", "or_freq", "and_freq"))
      .withColumn("joint_prob", p)
      .withColumn("entropy",
        when(p <= 0d || p >= 1d, 0d)
          .otherwise(-(p * log(p)) - (lit(1d) - p) * log(lit(1d) - p)))
      .withColumn("jc",
        when(col("n") === 1, -1d)
          .when(col("and_freq") === 0, 0d)
          .otherwise(col("and_freq").cast("double") / col("or_freq")))
      .withColumn("mw_rel", {
        val numer = log(col("max_f").cast("double")) - log(col("and_freq").cast("double"))
        val denom = log(lit(numDocs.toDouble)) - log(col("min_f").cast("double"))
        when(col("n") === 1, -1d)
          .when(col("min_f") === 0 || col("and_freq") === 0, 0d)
          .when(denom === 0d, when(numer === 0d, 1d).otherwise(0d))
          .otherwise(greatest(lit(1d) - numer / denom, lit(0d)))
      })
  }

  // ---------- wikilink graph set features (graph_feat.py) ----------

  /** Set-level graph features over cluster members with link arrays:
    * members(cluster_id, entity, links: array<string>) →
    * (cluster_id, n, n_edges, common_neighbors, all_neighbors,
    *  completeness, jc).
    * Edges: e1—e2 iff e2 ∈ links(e1) or e1 ∈ links(e2) (the reference's
    * undirected union, graph_feat.py:54-60); singleton conventions match
    * graph_feat.py:86-117 (common = -1, jc = -1, completeness = 1).
    * Shape: one self-join per cluster for edges (clusters are small sets),
    * one explode for the neighbor union/intersection — no driver graph.
    */
  def graphSetFeatures(members: DataFrame): DataFrame = {
    val m = members.select(col("cluster_id"), col("entity"),
      coalesce(col("links"), array().cast("array<string>")).as("links"))
    val n = m.groupBy("cluster_id").agg(count(lit(1)).as("n"))
    val edges = m.as("x").join(m.as("y"), "cluster_id")
      .where(col("x.entity") < col("y.entity"))
      .where(array_contains(col("x.links"), col("y.entity")) ||
        array_contains(col("y.links"), col("x.entity")))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    val nbr = m.select(col("cluster_id"), col("entity"),
      explode(array_distinct(col("links"))).as("nb"))
    val common = nbr.groupBy("cluster_id", "nb").agg(count(lit(1)).as("cnt"))
      .join(n, "cluster_id").where(col("cnt") === col("n"))
      .groupBy("cluster_id").agg(count(lit(1)).as("common_neighbors"))
    val all = nbr.groupBy("cluster_id").agg(countDistinct("nb").as("all_neighbors"))
    n
      .join(edges, Seq("cluster_id"), "left")
      .join(common, Seq("cluster_id"), "left")
      .join(all, Seq("cluster_id"), "left")
      .na.fill(0L, Seq("n_edges", "common_neighbors", "all_neighbors"))
      .withColumn("completeness",
        when(col("n") === 1, 1d)
          .otherwise(col("n_edges").cast("double") /
            (col("n") * (col("n") - 1) / 2).cast("double")))
      .withColumn("jc",
        when(col("n") === 1, -1d)
          .when(col("all_neighbors") === 0, 0d)
          .otherwise(col("common_neighbors").cast("double") / col("all_neighbors")))
      .withColumn("common_neighbors",
        when(col("n") === 1, -1L).otherwise(col("common_neighbors")))
  }

  // ---------- mention features (mention_feat.py) ----------

  /** Count-style mention features over (qid, mention, qtext) rows:
    * mention_len, matches (dictionary hits, unthresholded), ntem (title
    * equals mention), smil (titles equalling any sub-n-gram of the
    * mention), len_ratio. Dictionary/title joins, no point lookups.
    */
  def mentionFeatures(mentions: DataFrame, dict: DataFrame,
                      titles: DataFrame): DataFrame = {
    val base = mentions.select(col("qid"), col("mention"), col("qtext"))
      .withColumn("mention_len", size(split(col("mention"), " ")))
      .withColumn("len_ratio",
        col("mention_len").cast("double") / size(tokens(col("qtext"))).cast("double"))
    val matches = base.select(col("qid"), col("mention"))
      .join(dict.select(col("surface").as("mention"), col("entity")), Seq("mention"))
      .groupBy("qid", "mention").agg(count(lit(1)).as("matches"))
    val ntem = base.select(col("qid"), col("mention"))
      .join(titles.select(col("title").as("mention"), col("entity")), Seq("mention"))
      .groupBy("qid", "mention").agg(count(lit(1)).as("ntem"))
    val smil = base.select(col("qid"), col("mention"),
      explode(ngrams_up_to(split(col("mention"), " "), 8)).as("ng"))
      .join(titles.select(col("title").as("ng"), col("entity")), Seq("ng"))
      .groupBy("qid", "mention").agg(count(lit(1)).as("smil"))
    base
      .join(matches, Seq("qid", "mention"), "left")
      .join(ntem, Seq("qid", "mention"), "left")
      .join(smil, Seq("qid", "mention"), "left")
      .na.fill(0L, Seq("matches", "ntem", "smil"))
      .drop("qtext")
  }

  /** Boolean/positional entity-mention features (entity_mention_feat.py:
    * 27-63) as pure column expressions over (mention, title, abstract):
    * mct / tcm / tem on the preprocessed title, pos1 = 0-based position of
    * the mention in the lowercased abstract, 1000 when absent.
    */
  def entityMentionFeatures(df: DataFrame, mentionCol: Column, titleCol: Column,
                            absCol: Column): DataFrame = {
    val title = norm_text(titleCol)
    val mention = mentionCol
    df
      .withColumn("mct", (title =!= "" && mention.contains(title)).cast("int"))
      .withColumn("tcm", title.contains(mention).cast("int"))
      .withColumn("tem", (title === mention).cast("int"))
      .withColumn("pos1",
        when(locate_col(mention, lower(absCol)) > 0,
          locate_col(mention, lower(absCol)) - 1).otherwise(1000))
  }

  private def locate_col(substr: Column, str: Column): Column =
    call_function("instr", str, substr)

  // ---------- prunes / instance plumbing ----------

  /** Largest-delta prune (isf/pruner.py:11-42): per query, keep the
    * score-descending prefix while each successive score gap is ≥ the
    * largest gap seen so far; the last row is kept when the scan reaches
    * it; n ≤ 2 keeps everything. Windows replace the sequential loop:
    * gap(rn) vs running max of earlier gaps, kept = prefix-min of the
    * condition.
    */
  def pruneLargestDelta(df: DataFrame, qidCol: String, scoreCol: String): DataFrame = {
    // the reference short-circuits on the TOTAL per-query instance count —
    // including null-scored rows — BEFORE dropping Nones (pruner.py:13-14),
    // and returns those queries unchanged (nulls and all). Queries above
    // the cutoff then prune over non-null scores only. (A query with > 2
    // rows but < 2 non-null scores would IndexError in the reference;
    // here its non-null rows pass through — divergence by necessity.)
    val counted = df.withColumn("_nall",
      count(lit(1)).over(Window.partitionBy(qidCol)))
    val small = counted.where(col("_nall") <= 2).drop("_nall")
    val w = Window.partitionBy(qidCol).orderBy(col(scoreCol).desc)
    val wRange = w.rowsBetween(Window.unboundedPreceding, -1)
    val wPrefix = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val big = counted.where(col("_nall") > 2).drop("_nall")
      .where(col(scoreCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(qidCol)))
      .withColumn("_d", col(scoreCol) - lead(col(scoreCol), 1).over(w))
      .withColumn("_maxprev", max(col("_d")).over(wRange))
      .withColumn("_ok",
        when(col("_rn") === 1 || col("_rn") === col("_n"), 1)
          .when(col("_d") >= col("_maxprev"), 1).otherwise(0))
      .withColumn("_kept", min(col("_ok")).over(wPrefix))
      .where(col("_n") <= 2 || col("_kept") === 1)
      .drop("_rn", "_n", "_d", "_maxprev", "_ok", "_kept")
    small.unionByName(big)
  }

  /** Instance concatenation with stable sequential id reassign
    * (ml/instances.py:268-283): frames appended in order, ids 0..n−1 in
    * (frame, original-order) sequence. Dense global sequential ids are
    * not expressible declaratively without an unpartitioned Window (all
    * rows through one task), so this sorts distributed (range exchange +
    * in-partition sort) and assigns ids with `zipWithIndex` — one extra
    * count-per-partition job, no single-task stage. Ids are deterministic
    * whenever (frame, orderCols) is a total order, same contract as the
    * reference's dict rebuild.
    */
  def concatInstances(frames: Seq[DataFrame], orderCols: Seq[String]): DataFrame = {
    val tagged = frames.zipWithIndex.map { case (f, i) =>
      f.withColumn("_src", lit(i))
    }.reduce(_ unionByName _)
    val sortCols = col("_src") +: orderCols.map(col)
    val sorted = tagged.sort(sortCols: _*)
    val spark = sorted.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("ins_id",
          org.apache.spark.sql.types.LongType, nullable = false))
    val withId = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(withId, schema).drop("_src")
  }

  /** GT → ISF instance conversion (train_set_isf.py:89-122): groundtruth
    * rows → one instance per (query, interpretation-set id) with
    * `inter_set` = {entity → mention} and target "1". Rows with set_id
    * "-1" (the no-interpretation marker) or a null entity never enter a
    * set; (qid, set_id) groups that end up empty are not emitted —
    * exactly the reference's `len(iset) > 0` guard. The reference dict
    * keeps the last mention per entity in arbitrary Python-2.7 iteration
    * order; here the lexicographically-largest mention is kept so output
    * is deterministic.
    */
  def gtToIsfInstances(gt: DataFrame, qidCol: String = "qid",
                       setIdCol: String = "set_id", entityCol: String = "entity",
                       mentionCol: String = "mention"): DataFrame =
    gt.where(col(setIdCol).isNotNull && col(setIdCol).cast("string") =!= "-1" &&
        col(entityCol).isNotNull)
      .groupBy(col(qidCol).as("qid"), col(setIdCol).as("set_id"),
        col(entityCol).as("entity"))
      .agg(max(col(mentionCol)).as("mention"))
      .groupBy("qid", "set_id")
      .agg(map_from_entries(array_sort(collect_list(struct(
        col("entity"), col("mention"))))).as("inter_set"))
      .withColumn("target", lit("1"))

  /** Train-set stats (train_set_cer.py:166-220): positives, distinct
    * queries, queries with more than one interpretation set.
    */
  def trainSetStats(gt: DataFrame, qidCol: String, setIdCol: String): DataFrame =
    gt.groupBy(col(qidCol)).agg(countDistinct(col(setIdCol)).as("n_sets"),
      count(lit(1)).as("n_rows"))
      .agg(sum("n_rows").as("n_pos"),
        count(lit(1)).as("n_queries"),
        sum(when(col("n_sets") > 1, 1L).otherwise(0L)).as("n_multi_interp"))
}
