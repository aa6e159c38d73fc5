package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative large-star / small-star connected components
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) on plain DataFrames — no GraphX/GraphFrames dependency.
  *
  * Reference analog: greedy interpretation-set formation
  * (nordlys/erd/isf/greedy.py:22-97) — sequential first-fit grouping is a
  * serial union-find; large/small-star is its scalable replacement
  * (converges in O(log n) rounds, each round two shuffles).
  *
  * Node ids are the conv_id *strings* (lexicographic total order). Hashing
  * to longs would risk collisions at 10^12 rows; string shuffle keys cost a
  * little more bandwidth but are collision-free and keep cluster ids
  * human-readable (cluster id = min conv_id of the component).
  *
  * Every iteration is materialized through `checkpoint` (the pipeline
  * passes a serialized `localCheckpoint`: it cuts lineage; a crashed run
  * redoes CC from the edges). Convergence = stable (count, hash-sum)
  * fingerprint of the edge set: one cheap aggregate per round instead of a
  * set-difference join.
  */
object ConnectedComponents {

  /** Driver-heap-derived default for the hybrid finisher's edge bound:
    * an edge costs ~2 kB of transient driver memory through collect +
    * union-find (two Row strings + two HashMap entries + the resolved
    * assignment), so heap/2048 keeps the finisher comfortably inside any
    * driver size (8 GB → ~4M edges, the constant rounds 2-3 shipped),
    * clamped to [1M, 16M] so tiny test drivers still take the fast path
    * and giant drivers don't serialize forever.
    */
  def defaultLocalMaxEdges: Long =
    math.min(16000000L, math.max(1000000L, Runtime.getRuntime.maxMemory() / 2048))

  /** Past this many NODES the resolved component map is no longer
    * broadcast for the map-side attach (a 4M-entry string map is
    * ~400-500 MB serialized per executor); larger assignments re-ship
    * through parallelize + a shuffled join instead. Package-visible so
    * the boundary parity test can exercise the join-attach fallback
    * without a 4M-node fixture.
    */
  private[pipeline] val MaxBroadcastNodes = 4000000

  /** Round cap of the distributed path; large/small-star converges in
    * O(log n) rounds, so hitting it means a broken input, not a big one.
    */
  private val MaxIter = 50

  /** edges(src, dst) undirected, self-loops ignored →
    * assignment(conv_id, cluster_id) by the distributed rounds; only nodes
    * appearing in edges are returned (callers attach singletons with
    * coalesce, or use [[runWithUniverse]], which also owns the driver
    * finisher). Ids may be of any ordered type.
    */
  def run(edges: DataFrame,
          // lazy localCheckpoint: the round's fingerprint aggregate is the
          // action that materializes it, so each round costs ONE job, not
          // two — the per-round driver latency is the serial floor of the
          // whole pipeline once the data stages scale out
          checkpoint: (DataFrame, Int) => DataFrame = (df, _) => df.localCheckpoint(false),
          onRound: (Int, Long, Long) => Unit = (_, _, _) => ()): DataFrame =
    distributedAssignment(canonicalize(edges, checkpoint), checkpoint, onRound)

  /** CC + singleton attach in one operator over string ids: every id in
    * `universe(conv_id)` gets a cluster_id (its component's min member, or
    * itself when unlinked).
    *
    * `localMaxEdges` > 0 enables the driver finisher: when the distinct
    * edge set fits under the bound, a driver union-find closes the
    * components instead of O(log n) distributed rounds, whose tail is pure
    * per-round scheduler latency once edges are small. Identical output
    * (cluster id = min member); 0 (the default) disables. The finisher
    * attaches by a broadcast-map lookup over `universe` (no join, no
    * shuffle); the rounds keep the left-join + coalesce attach.
    * `knownEdgeCount`, any upper bound on the canonical edge count (e.g.
    * observed by the scoring stage's own job), lets the guard skip its
    * count() pass.
    */
  def runWithUniverse(edges: DataFrame, universe: DataFrame,
                      checkpoint: (DataFrame, Int) => DataFrame = (df, _) => df.localCheckpoint(false),
                      onRound: (Int, Long, Long) => Unit = (_, _, _) => (),
                      localMaxEdges: Long = 0L,
                      edgesDistinct: Boolean = false,
                      knownEdgeCount: Option[Long] = None,
                      maxBroadcastNodes: Int = MaxBroadcastNodes): DataFrame = {
    // the finisher interns ids as strings and orders them lexicographically
    Seq("src", "dst").foreach { c =>
      val t = edges.schema(c).dataType
      require(t == org.apache.spark.sql.types.StringType,
        s"runWithUniverse needs string $c, got ${t.simpleString}")
    }
    val spark = edges.sparkSession
    val e = canonicalize(edges, checkpoint, edgesDistinct)
    if (localMaxEdges > 0 && knownEdgeCount.getOrElse(e.count()) <= localMaxEdges) {
      // the attach map holds non-root members only (~the duplicate docs):
      // both attach paths fall back to identity for absent keys
      val uf = streamingCollectUnion(e)
      if (uf.nonRootCount <= maxBroadcastNodes) {
        // ship a compact byte blob (names + root ordinals straight from
        // the union-find arrays) and decode it once per executor into the
        // lookup map: JavaSerializer on a 10⁶-entry
        // HashMap[String,String] walks a per-object handle table on both
        // ends, and building the map on the driver just to serialize it
        // re-pays the whole hash insert pass — both costs sit on the
        // clusters stage's SERIAL tail. (sc.broadcast of the map itself
        // was the round-3..5 shape; a broadcast-hinted DataFrame — which
        // would round-trip every row driver → executors → driver — and a
        // sorted-parallel-arrays binary-search variant were both measured
        // worse earlier: +2 s / 1.5 s vs 0.8 s on this sub-phase.)
        val bc = spark.sparkContext.broadcast(new AssignmentBlob(uf.encodeNonRoots()))
        val look = udf(new LookupFn(bc)).asNondeterministic()
        // deterministic in fact; the flag keeps the optimizer from
        // re-executing the lookup across plan branches
        universe.select(col("conv_id"),
          look(col("conv_id")).as("cluster_id"))
      } else joinAttach(universe, assignmentDf(spark, uf.resolved()))
    } else joinAttach(universe, distributedAssignment(
      if (edgesDistinct) checkpoint(e.distinct(), -1) else e, checkpoint, onRound))
  }

  /** The broadcast attach payload. Spark keeps one deserialized copy of
    * a broadcast value per executor, so the transient map is decoded once
    * per executor and freed with the broadcast — no cache of our own,
    * which could not tell apart the equal broadcast ids of two
    * SparkContexts in one JVM.
    */
  private final class AssignmentBlob(blob: Array[Byte]) extends Serializable {
    @transient lazy val map: java.util.HashMap[String, String] =
      UnionFind.decodeNonRoots(blob)
  }

  /** Broadcast-blob lookup closure: resolves the decoded map once per
    * task (transient lazy), so the per-row path is a plain HashMap get.
    */
  private final class LookupFn(bc: org.apache.spark.broadcast.Broadcast[AssignmentBlob])
      extends (String => String) with Serializable {
    @transient private lazy val m = bc.value.map
    override def apply(s: String): String = {
      val v = m.get(s); if (v == null) s else v
    }
  }

  /** Collect the canonical edge set and union-find it, OVERLAPPED: each
    * scan task ships its partition's (u, v) strings as one flat array,
    * and a driver-side consumer thread folds arrived arrays into the
    * union-find while later tasks are still scanning/serializing. The
    * previous shape — full collect(), then union-find over the Row array
    * — paid the two phases back to back on the driver (round-5 protocol
    * collect 1.08 s + unionfind 0.85 s of a 3.5 s clusters stage);
    * the overlap bounds the pair by max(scan, union) instead of the sum,
    * and extracting plain strings executor-side also drops the driver's
    * single-threaded InternalRow→Row conversion that collect() does.
    * Union order does not affect the result (min-name-wins union with
    * path compression is order-insensitive, the property
    * ConnectedComponentsSpec's union-find oracle pins).
    */
  private def streamingCollectUnion(e: DataFrame): UnionFind = {
    val df = e.select("u", "v")
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuilder.ofRef[String]
      while (it.hasNext) {
        val r = it.next()
        buf += r.getUTF8String(0).toString
        buf += r.getUTF8String(1).toString
      }
      Iterator.single(buf.result())
    }
    val queue = new java.util.concurrent.LinkedBlockingQueue[Array[String]]()
    val sentinel = Array.empty[String]
    val uf = new UnionFind
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val consumer = new Thread(() => {
      try {
        var a = queue.take()
        while (a.length > 0) { uf.addFlat(a); a = queue.take() }
      } catch { case t: Throwable => err.set(t) }
    }, "graft-cc-unionfind")
    consumer.setDaemon(true)
    consumer.start()
    try {
      df.sparkSession.sparkContext.runJob(
        rdd,
        (_: org.apache.spark.TaskContext, it: Iterator[Array[String]]) =>
          if (it.hasNext) it.next() else sentinel,
        0 until rdd.getNumPartitions,
        (_: Int, a: Array[String]) => if (a.length > 0) queue.put(a))
    } finally {
      queue.put(sentinel)
      consumer.join()
    }
    if (err.get() != null) throw err.get()
    uf
  }

  private def joinAttach(universe: DataFrame, assignment: DataFrame): DataFrame =
    universe.select(col("conv_id")).join(assignment, Seq("conv_id"), "left")
      .select(col("conv_id"),
        coalesce(col("cluster_id"), col("conv_id")).as("cluster_id"))

  /** Canonical (u < v) orientation; deduplicated + checkpointed unless the
    * caller vouches the edges are already distinct (`edgesDistinct`) — the
    * pipeline's pair-dedup stage guarantees that, and skipping the
    * `distinct()` removes the clusters stage's ONLY shuffle on the
    * driver-finisher path (the canonical projection then runs as two
    * narrow passes over the cached scored stage: count guard + collect).
    * The union-find is duplicate-tolerant, so a hid-collision-induced
    * duplicate string pair costs nothing; the distributed rounds re-dedup
    * because their convergence fingerprint assumes a distinct edge set.
    */
  private def canonicalize(edges: DataFrame,
                           checkpoint: (DataFrame, Int) => DataFrame,
                           edgesDistinct: Boolean = false): DataFrame = {
    val proj = edges.select(
      least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
    if (edgesDistinct) proj else checkpoint(proj.distinct(), -1)
  }

  /** Incremental union-find with path compression, min member as the
    * representative — byte-identical clustering to the star-forest
    * result. Only reached under `localMaxEdges` (which bounds driver
    * memory). Fed partition-at-a-time by [[streamingCollectUnion]].
    *
    * Ids are interned to dense ints once; finds then chase an int array
    * (measured ~3× over the previous String-HashMap parent chains at
    * 1.4M edges — this runs on the driver, so every saved second is a
    * serial second at BOTH cluster sizes). Union keeps the min *name* at
    * the root, so the invariant "root = lexicographic min of its
    * component" holds inductively and the output is order-insensitive.
    */
  private[pipeline] final class UnionFind {
    private val idOf = new java.util.HashMap[String, Integer](1 << 16)
    private var names = new Array[String](1 << 12)
    private var parent = new Array[Int](1 << 12)
    private var count = 0

    private def intern(s: String): Int = {
      val existing = idOf.get(s)
      if (existing != null) existing.intValue()
      else {
        if (count == names.length) {
          names = java.util.Arrays.copyOf(names, names.length * 2)
          parent = java.util.Arrays.copyOf(parent, parent.length * 2)
        }
        names(count) = s
        parent(count) = count
        idOf.put(s, Integer.valueOf(count))
        count += 1
        count - 1
      }
    }

    private def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x // path compression
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }

    def add(u: String, v: String): Unit = {
      val ru = find(intern(u))
      val rv = find(intern(v))
      if (ru != rv) { // min name wins as the representative
        if (names(ru).compareTo(names(rv)) < 0) parent(rv) = ru
        else parent(ru) = rv
      }
    }

    /** Fold a flat [u0, v0, u1, v1, ...] edge array. */
    def addFlat(a: Array[String]): Unit = {
      var i = 0
      while (i < a.length) { add(a(i), a(i + 1)); i += 2 }
    }

    /** Number of non-root nodes (= entries the attach payload ships). */
    def nonRootCount: Int = {
      var n = 0
      var i = 0
      while (i < count) { if (find(i) != i) n += 1; i += 1 }
      n
    }

    /** (non-root node, final root) pairs; roots are omitted because both
      * of [[runWithUniverse]]'s attach paths fall back to identity for
      * absent keys.
      */
    def resolved(): Seq[(String, String)] = {
      val out = new scala.collection.mutable.ArrayBuffer[(String, String)](count)
      var i = 0
      while (i < count) {
        val r = find(i)
        if (r != i) out += ((names(i), names(r)))
        i += 1
      }
      out.toSeq
    }

    /** Compact attach payload straight from the union-find arrays — no
      * intermediate String→String map on the driver: node count, the
      * interned names (length-prefixed UTF-8), then each node's resolved
      * root ordinal. [[UnionFind.decodeNonRoots]] inverts it.
      */
    def encodeNonRoots(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(count * 24 + 16)
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(bos, 1 << 16))
      out.writeInt(count)
      var i = 0
      while (i < count) {
        val b = names(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length)
        out.write(b)
        i += 1
      }
      i = 0
      while (i < count) { out.writeInt(find(i)); i += 1 }
      out.flush()
      bos.toByteArray
    }
  }

  private[pipeline] object UnionFind {
    /** Decode [[UnionFind.encodeNonRoots]] into the non-root lookup map. */
    def decodeNonRoots(blob: Array[Byte]): java.util.HashMap[String, String] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
      val count = in.readInt()
      val names = new Array[String](count)
      var i = 0
      while (i < count) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        names(i) = new String(b, java.nio.charset.StandardCharsets.UTF_8)
        i += 1
      }
      val out = new java.util.HashMap[String, String](count)
      i = 0
      while (i < count) {
        val r = in.readInt()
        if (r != i) out.put(names(i), names(r))
        i += 1
      }
      out
    }
  }

  /** Only reached past maxBroadcastNodes: a LocalRelation that size is a
    * plan-embedded monster serialized with every task, so the rows ship
    * once through parallelize (the attach join then shuffles). Round 3
    * measured the two tempting "fixes" and both lose: broadcast-hinting
    * the parallelize DF round-trips every row driver → executors → driver
    * (+2 s), and a broadcast-hinted multi-million-row LocalRelation costs
    * ~10 s in driver-side encode + double plan serialization.
    */
  private def assignmentDf(spark: org.apache.spark.sql.SparkSession,
                           pairs: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(pairs,
      math.max(spark.sparkContext.defaultParallelism, 8))).toDF("conv_id", "cluster_id")

  /** The distributed large/small-star rounds + star-forest readout. */
  private def distributedAssignment(e0: DataFrame,
                                    checkpoint: (DataFrame, Int) => DataFrame,
                                    onRound: (Int, Long, Long) => Unit): DataFrame = {
    var e = e0
    var fingerprint = (-1L, -1L)
    var iter = 0
    var converged = false
    while (iter < MaxIter && !converged) {
      e = checkpoint(smallStar(largeStar(e)), iter)
      // order-independent fingerprint; bit_xor can't overflow (edge set is distinct)
      val row = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      val fp = (row.getLong(0), row.getLong(1))
      onRound(iter, fp._1, fp._2)
      converged = fp == fingerprint
      fingerprint = fp
      iter += 1
    }
    require(converged, s"connected components did not converge in $MaxIter rounds")

    // final graph is a forest of stars: cluster = min over closed neighborhood
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    sym.groupBy(col("u").as("conv_id"))
      .agg(min(col("v")).as("min_nbr"))
      .select(col("conv_id"), least(col("min_nbr"), col("conv_id")).as("cluster_id"))
  }

  /** large-star: each node u links its larger neighbors to the minimum of
    * its closed neighborhood. Two shuffles (groupBy + join on u).
    */
  private[pipeline] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("min_nbr"))
      .select(col("u"), least(col("u"), col("min_nbr")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: each node u links its smaller-or-equal neighbors (and
    * itself) to the minimum among them.
    */
  private[pipeline] def smallStar(e: DataFrame): DataFrame = {
    // canonical direction: key = larger endpoint
    val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    val linked = dir.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("m").as("u"), col("v"))
    val self = mins.select(col("m").as("u2"), col("u").as("v2"))
      .select(col("u2").as("u"), col("v2").as("v"))
    linked.select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .union(self.select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }
}
