package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Iterative graph analytics over relationship edges mined from the
  * relational tables — the Pregel-on-DataFrames shape: each iteration is
  * ranks ⋈ edges (shuffle on src) + an aggregate of contributions
  * (map-side-combining shuffle on dst). Edges are computed once and
  * persisted; the per-iteration state is one (node, rank) row per node.
  *
  * Ranks are SCALED INTEGERS (SCALE=1e12) with truncating division at
  * every step — Java `/` and DuckDB `//` agree — so the whole power
  * iteration is order-independent, partitioning-independent, and replays
  * exactly in the SQL oracle. Dangling-node mass is dropped (the classic
  * simplification), identically in both engines.
  */
object Graph {

  private val Scale = 1000000000000L // 1e12

  /** Edge-count gate for the in-memory fast paths of the iterative
    * algorithms. Honest driver-heap budget, not the raw 16 B/edge: the
    * local paths hold the edge list as two primitive Array[Long]
    * (~16 B/edge after [[collectEdgePairs]]) plus boxed per-node
    * HashMaps/adjacency (~50-100 B per DIRECTED edge for labelProp/BFS
    * adjacency, per NODE for pageRank) — ~300-700 MB transient at the
    * 3M-edge gate, comfortably inside the multi-GB driver heap we run
    * with but nowhere near the 64 MB broadcast budget; the gate is sized
    * for driver HEAP, not for broadcast. Past the gate every algorithm
    * falls back to its join-per-round shuffle formulation — the
    * 1000-executor path.
    */
  private[graft] val EdgeGate = 3000000L

  /** Collect an edge DataFrame to two primitive Long arrays (src, dst).
    * Avoids keeping a boxed Array[Tuple2] (~56 B/edge) alive for the
    * whole local iteration — the Rows are transient and freed after the
    * copy; the arrays are ~16 B/edge.
    */
  private[graft] def collectEdgePairs(e: DataFrame): (Array[Long], Array[Long]) = {
    // Callers pass whatever integral type the id columns carry (int edge
    // ids are common); getLong on an IntegerType row slot throws, so
    // normalize to long here rather than at every entry point.
    val rows = e.select(e.columns.map(c => col(c).cast("long")): _*).collect()
    val n = rows.length
    val src = new Array[Long](n)
    val dst = new Array[Long](n)
    var i = 0
    while (i < n) {
      src(i) = rows(i).getLong(0); dst(i) = rows(i).getLong(1); i += 1
    }
    (src, dst)
  }

  /** Sorted distinct node ids of an edge list — the dense-remap id table
    * for the primitive-array local paths (index = rank in sorted order,
    * so the dense order is isomorphic to raw-id order and every raw-id
    * comparison in the algorithms is preserved under indices).
    */
  private def distinctSortedIds(srcA: Array[Long], dstA: Array[Long]): Array[Long] = {
    val all = new Array[Long](srcA.length + dstA.length)
    System.arraycopy(srcA, 0, all, 0, srcA.length)
    System.arraycopy(dstA, 0, all, srcA.length, dstA.length)
    // parallelSort: same sorted result, all driver cores (r16)
    java.util.Arrays.parallelSort(all)
    var w = 0
    var i = 0
    while (i < all.length) {
      if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, w)
  }

  /** ONE-JOB gate + collect (r15): fetch up to `gate + 1` edges via
    * `limit` — if the result fits the gate it IS the complete edge list
    * (the local paths' input), collected in the same job that would
    * otherwise only have counted; past the gate, `CollectLimit`'s
    * incremental partition execution stops after ~gate rows, so the
    * probe stays cheap on a huge graph and the caller falls back to the
    * shuffle formulation.
    *
    * DRIVER HEAP BUDGET (r15 verdict item 7): the collect's transient Row
    * array is the peak — (gate+1) GenericRows of two boxed longs is
    * ~80-100 B/edge ≈ 300 MB at the 3M gate, on top of the 48 MB
    * primitive target arrays; both are freed (rows) or retained (arrays)
    * before the local algorithms allocate their CSR structures. Callers
    * probe the UNPERSISTED frame and persist only past the gate: on the
    * local path a cache would be written during the probe and dropped
    * unread, while past the gate the fallback recomputes the edge build
    * once more — the rare, large-graph path pays, not the common one.
    */
  private[graft] def collectEdgesWithin(e: DataFrame,
      gate: Long): Option[(Array[Long], Array[Long])] = {
    val rows = e.select(e.columns.map(c => col(c).cast("long")): _*)
      .limit((gate + 1).toInt).collect()
    if (rows.length > gate) None
    else {
      val n = rows.length
      val src = new Array[Long](n)
      val dst = new Array[Long](n)
      var i = 0
      while (i < n) {
        src(i) = rows(i).getLong(0); dst(i) = rows(i).getLong(1); i += 1
      }
      Some((src, dst))
    }
  }

  /** Split [0, n) into core-count chunks and run `f(start, end)` on the
    * driver's cores (r16, guide §1.2 step 2 — per-task work AFTER the job
    * shape is right): the gated local algorithm cores are single-threaded
    * Java loops by construction, so on a 32-core driver the local path
    * left 31 cores idle for its whole driverGap (measured 1.8 s of the
    * 3.2 s q_triangles wall). Each caller's per-chunk work is either a
    * pure partial sum (triangles), an exclusive per-node write
    * (labelProp/pageRank-by-incoming-CSR), or a per-chunk scratch — all
    * order-independent, so results are bit-identical to the sequential
    * loop (parity specs unchanged). Thread count tracks the session's
    * core budget (SPARK_GRAFT_CPUS), not a local constant.
    */
  private def parallelChunks(n: Int)(f: (Int, Int) => Unit): Unit = {
    val cores =
      if (sys.env.contains("SPARK_GRAFT_NO_LOCAL_PAR")) 1 // A/B kill-switch
      else math.min(
        graft.GraftSession.cpus,
        Runtime.getRuntime.availableProcessors()).max(1)
    val nChunks = math.min(cores * 4, n).max(1) // 4×: cheap load balance
    if (nChunks <= 1) { f(0, n); return }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val step = (n + nChunks - 1) / nChunks
    val fs = (0 until nChunks).map { c =>
      val s = c * step; val e = math.min(n, s + step)
      Future(if (s < e) f(s, e))
    }
    fs.foreach(Await.result(_, Duration.Inf))
  }

  /** Remap raw edge endpoints to dense indices into `ids`. Each slot is
    * an independent binary search with an exclusive write — parallel
    * over edge chunks (r16), identical output.
    */
  private def toDense(ids: Array[Long], a: Array[Long]): Array[Int] = {
    val out = new Array[Int](a.length)
    parallelChunks(a.length) { (s, e) =>
      var i = s
      while (i < e) {
        out(i) = java.util.Arrays.binarySearch(ids, a(i)); i += 1
      }
    }
    out
  }

  /** CSR adjacency (offsets + targets) from dense int edges; directed —
    * callers pass both directions for a symmetric graph. Returns
    * (offsets of length n+1, targets).
    */
  private def csr(n: Int, si: Array[Int], di: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var k = 0
    while (k < si.length) { off(si(k) + 1) += 1; k += 1 }
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val tgt = new Array[Int](si.length)
    k = 0
    while (k < si.length) { tgt(pos(si(k))) = di(k); pos(si(k)) += 1; k += 1 }
    (off, tgt)
  }

  /** `iters` rounds of damped PageRank (d = 85/100) over an integer edge
    * list. Returns (node, rank) for every node.
    *
    * Size-gated like [[qTriangles]]: iteration is latency-bound (a shuffle
    * pair per round), so when the degree-fused edge list fits in memory
    * the whole power iteration runs as local Long arithmetic — the SAME
    * truncating-division updates, which are order-independent, so both
    * paths produce identical ranks (parity spec). Past [[EdgeGate]] the
    * join-per-round formulation applies.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val d0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // ONE-JOB gate+collect (see collectEdgesWithin): inside the gate the
    // edge list is already in hand — no persist/count round-trip at all;
    // the frame is persisted only past the gate, where it is reused
    collectEdgesWithin(d0, EdgeGate) match {
      case Some((srcA, dstA)) =>
        return pageRankLocalCore(spark, srcA, dstA, iters)
      case None => ()
    }
    val e = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fuse out-degree into the edge list ONCE (every src has deg ≥ 1, so
      // the inner join keeps all edges) — each iteration then needs a
      // single src-join instead of two
      val ewd = e
        .join(e.groupBy($"src").agg(count(lit(1)).as("deg")), "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = ewd.select($"src".as("node"))
        .union(ewd.select($"dst".as("node"))).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try pageRankShuffle(ewd, nodes, iters)
      finally { ewd.unpersist(); nodes.unpersist() }
    } finally e.unpersist()
  }

  /** Join-per-round distributed path (any graph size). */
  private[graft] def pageRankShuffle(ewd: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val spark = ewd.sparkSession
    import spark.implicits._
    val n = nodes.count()
    val init = Scale / n
    val base = 15L * init / 100L
    var ranks = nodes.select($"node", lit(init).as("rank"))
    for (_ <- 0 until iters) {
      // `div`, not `/`: Column `/` is double division, and at 1e12 rank
      // magnitude the double's ~1e-4 absolute error can cross an
      // integer boundary for denominators ≳4000 — true integer
      // division matches DuckDB `//` exactly at any scale
      val contrib = ranks
        .join(ewd, ranks("node") === ewd("src"))
        .groupBy($"dst")
        .agg(sum(expr("rank div deg")).as("in_mass"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select($"node",
          (lit(base) + expr(s"85 * coalesce(in_mass, 0L) div 100"))
            .cast("long").as("rank"))
        // truncate lineage each round: without this, iteration r's plan
        // re-embeds (and recomputes) iterations 1..r-1 — quadratic work
        .localCheckpoint(true)
    }
    ranks
  }

  /** Gated in-memory path over the DISTINCT directed edge list: degrees,
    * node set and the identical truncating-Long updates all derive
    * locally — zero shuffles beyond the one distinct.
    */
  private[graft] def pageRankLocal(e: DataFrame, iters: Int): DataFrame = {
    import e.sparkSession.implicits._
    val (srcA, dstA) = collectEdgePairs(e.select($"src", $"dst"))
    pageRankLocalCore(e.sparkSession, srcA, dstA, iters)
  }

  private def pageRankLocalCore(spark: SparkSession, srcA: Array[Long],
      dstA: Array[Long], iters: Int): DataFrame = {
    val m = srcA.length
    // dense remap + primitive arrays end to end (r15): the boxed HashMap
    // form spent the local path's wall hashing/boxing ~10⁶ Long keys per
    // round; the updates are identical truncating-Long arithmetic, so
    // ranks are byte-identical (order-independent sums)
    val ids = distinctSortedIds(srcA, dstA)
    val n = ids.length
    val si = toDense(ids, srcA)
    val di = toDense(ids, dstA)
    val deg = new Array[Long](n)
    var k = 0
    while (k < m) { deg(si(k)) += 1L; k += 1 }
    // incoming-CSR (by dst) so each node's in-mass sum is an EXCLUSIVE
    // write — the per-edge scatter loop parallelizes over node chunks
    // ([[parallelChunks]]) with no contention; the sum's terms are the
    // same truncating-division values in a different order, and Long
    // addition is commutative, so ranks are bit-identical
    val (inOff, inSrc) = csr(n, di, si)
    val init = Scale / n
    val base = 15L * init / 100L
    var rank = Array.fill(n)(init)
    for (_ <- 0 until iters) {
      val next = new Array[Long](n)
      val cur = rank
      parallelChunks(n) { (s, e) =>
        var v = s
        while (v < e) {
          var acc = 0L
          var p = inOff(v)
          while (p < inOff(v + 1)) {
            val u = inSrc(p); acc += cur(u) / deg(u); p += 1
          }
          next(v) = base + 85L * acc / 100L
          v += 1
        }
      }
      rank = next
    }
    spark.createDataFrame(
      ids.indices.map(i => (ids(i), rank(i))))
      .toDF("node", "rank")
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own community; each round it adopts the most frequent
    * label among its neighbors (ties → smallest label; isolated nodes
    * keep their own). Deterministic by construction — no float scores,
    * no random visit order — so rounds replay exactly in SQL. Per round:
    * one src-join + a (node, label) count + a per-node argmax window,
    * all map-side-combining shuffles on node; lineage truncated per
    * round like [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val d0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    // ONE-JOB gate+collect (see collectEdgesWithin); the local path
    // symmetrizes in memory, so only the distinct DIRECTED list is
    // ever fetched
    collectEdgesWithin(d0, EdgeGate) match {
      case Some((srcA, dstA)) =>
        return labelPropLocalCore(spark, srcA, dstA, iters)
      case None => ()
    }
    val dir0 = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // symmetrize: propagation is over the undirected graph
      val e = dir0.union(dir0.select($"dst".as("src"), $"src".as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = e.select($"src".as("node")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try labelPropShuffle(e, nodes, iters)
      finally { e.unpersist(); nodes.unpersist() }
    } finally dir0.unpersist()
  }

  /** Join-per-round distributed path (any graph size). */
  private[graft] def labelPropShuffle(e: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var labels = nodes.select($"node", $"node".as("label"))
    for (_ <- 0 until iters) {
      // argmax via max_by on struct(cnt, -label): highest count, ties to
      // the LOWEST label — one aggregate instead of a window, saving an
      // exchange per round (the window would re-partition by dst after
      // the (dst,label) count shuffle)
      val best = labels
        .join(e, labels("node") === e("src"))
        .groupBy($"dst", $"label").agg(count(lit(1)).as("cnt"))
        .groupBy($"dst")
        .agg(max_by($"label", struct($"cnt", -$"label")).as("new_label"))
      labels = nodes
        .join(best, nodes("node") === best("dst"), "left")
        .select($"node", coalesce($"new_label", $"node").as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Gated in-memory path over the DISTINCT directed edge list
    * (symmetrized locally into neighbor SETS — the dedup the shuffle
    * path's union+distinct performs): the same synchronous
    * most-frequent-neighbor update (ties → lowest label), zero per-round
    * shuffles. Deterministic, so both paths produce identical labels
    * (parity spec).
    */
  private[graft] def labelPropLocal(dir0: DataFrame, iters: Int): DataFrame = {
    import dir0.sparkSession.implicits._
    val (srcA, dstA) = collectEdgePairs(dir0.select($"src", $"dst"))
    labelPropLocalCore(dir0.sparkSession, srcA, dstA, iters)
  }

  private def labelPropLocalCore(spark: SparkSession, srcA: Array[Long],
      dstA: Array[Long], iters: Int): DataFrame = {
    val m = srcA.length
    // dense remap + CSR with per-node dedup (r15): neighbor SET semantics
    // exactly as the HashSet form — a directed pair present both ways
    // contributes one neighbor; primitive arrays replace ~10⁶ boxed
    // set inserts per build and per-node HashMap counting per round
    val ids = distinctSortedIds(srcA, dstA)
    val n = ids.length
    val si = toDense(ids, srcA)
    val di = toDense(ids, dstA)
    val bothS = new Array[Int](2 * m); val bothD = new Array[Int](2 * m)
    System.arraycopy(si, 0, bothS, 0, m); System.arraycopy(di, 0, bothD, 0, m)
    System.arraycopy(di, 0, bothS, m, m); System.arraycopy(si, 0, bothD, m, m)
    val (off0, tgt0) = csr(n, bothS, bothD)
    // sort each adjacency segment (independent — all driver cores,
    // [[parallelChunks]]), then dedupe into the compact set-semantics CSR
    // (sequential: shared write cursor, O(m) cheap)
    parallelChunks(n) { (s, e) =>
      var u = s
      while (u < e) { java.util.Arrays.sort(tgt0, off0(u), off0(u + 1)); u += 1 }
    }
    val off = new Array[Int](n + 1)
    val tgt = new Array[Int](tgt0.length)
    var w = 0
    var u = 0
    while (u < n) {
      var j = off0(u)
      val segStart = w
      while (j < off0(u + 1)) {
        if (w == segStart || tgt0(j) != tgt(w - 1)) { tgt(w) = tgt0(j); w += 1 }
        j += 1
      }
      off(u + 1) = w
      u += 1
    }
    var labels = ids.clone() // label(v) starts as v's own id
    var maxDeg = 0
    u = 0
    while (u < n) { maxDeg = maxDeg.max(off(u + 1) - off(u)); u += 1 }
    for (_ <- 0 until iters) {
      val next = new Array[Long](n)
      // per-v updates are independent (read labels, write next(v) only) —
      // parallel over node chunks with per-chunk scratch; identical
      // per-node argmax, so the result is bit-identical to the
      // sequential loop
      parallelChunks(n) { (st, en) =>
        val scratch = new Array[Long](maxDeg.max(1))
        var v = st
        while (v < en) {
          val s = off(v); val e0 = off(v + 1)
          if (s == e0) next(v) = ids(v)
          else {
            var j = s
            while (j < e0) { scratch(j - s) = labels(tgt(j)); j += 1 }
            val d = e0 - s
            java.util.Arrays.sort(scratch, 0, d)
            // runs ascend by label, so a strictly-greater count test keeps
            // the LOWEST label on ties — the minBy((-c, l)) order
            var best = scratch(0); var bestC = 0L
            var i = 0
            while (i < d) {
              var c = 1L
              while (i + 1 < d && scratch(i + 1) == scratch(i)) { c += 1L; i += 1 }
              if (c > bestC) { bestC = c; best = scratch(i) }
              i += 1
            }
            next(v) = best
          }
          v += 1
        }
      }
      labels = next
    }
    spark.createDataFrame(
      ids.indices.map(i => (ids(i), labels(i))))
      .toDF("node", "label")
  }

  // ---------------------------------------------------------------- queries

  /** PageRank over the bipartite customer→supplier graph induced by
    * orders⋈lineitem (node ids disambiguated as 2·custkey / 2·suppkey+1),
    * 3 iterations, top 20 nodes.
    */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Sources.orders(s, dir)
    val lineitem = Sources.lineitem(s, dir)
    val edges = orders
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"rank".desc, $"node")
    pageRank(edges, "src", "dst", iters = 3)
      .orderBy($"rank".desc, $"node")
      .limit(20)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"pos", $"node", $"rank")
  }

  /** Label-propagation communities on the same customer↔supplier graph,
    * 2 rounds; report the 20 largest communities.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Sources.orders(s, dir)
    val lineitem = Sources.lineitem(s, dir)
    val edges = orders
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"size".desc, $"label")
    labelPropagation(edges, "src", "dst", iters = 2)
      .groupBy($"label").agg(count(lit(1)).as("size"))
      .orderBy($"size".desc, $"label")
      .limit(20)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"pos", $"label", $"size")
  }

  /** Undirected co-purchase edges between parts appearing in the same
    * order (part ids, deduplicated, src < dst).
    *
    * One collect_set aggregate (map-side-combining) + a map-side native
    * [[graft.plans.PairCombos]] expansion replaces the distinct +
    * per-order self-join + distinct build — two fewer shuffles of the
    * widest intermediates. Basket width is naturally bounded (≤7 items
    * per order in this schema), so the quadratic per-order fan-out is a
    * constant.
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.PairCombos.register(s)
    Sources.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
      .select(explode(graft.plans.PairCombos.pairs($"ps")).as("pr"))
      .select($"pr.a".as("src"), $"pr.b".as("dst"))
      .distinct()
  }

  /** Triangle count over the part co-purchase graph via degree-ordered
    * orientation: every undirected edge is directed low-degree →
    * high-degree (ties by id), so each wedge is enumerated exactly once
    * from its lowest-degree corner and per-node fan-out is bounded by
    * O(√m) even on power-law graphs — the standard scalable formulation
    * (adjacency-intersection, no node ever explodes on its raw degree;
    * see [[countTrianglesShuffle]]). Also
    * reports node/edge totals.
    *
    * Strategy is size-gated on the measured edge count (see [[EdgeGate]]):
    * inside the gate, ONE collect of the undirected list and everything
    * else — degrees, orientation, the `Σ |N⁺(u) ∩ N⁺(v)|` sorted-array
    * merge count — runs in memory; the wedge stream (α(G)·m rows, 40×
    * the edge count here) never materializes, and no shuffle beyond the
    * edge build happens at all. Past the gate it falls back to the
    * distributed adjacency-intersection formulation — the 1000-executor
    * path where only the m-row edge list moves.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und0 = copurchaseEdges(s, dir)
    // ONE-JOB gate+collect (see collectEdgesWithin): inside the gate the
    // collected list IS the edge set (count = length) — no persist /
    // count / second-collect round-trip; persisted only past the gate
    collectEdgesWithin(und0, EdgeGate) match {
      case Some((srcA, dstA)) =>
        val (nNodes, nTriangles) = countTrianglesLocalCore(srcA, dstA)
        return Seq((nNodes, srcA.length.toLong, nTriangles))
          .toDF("n_nodes", "n_edges", "n_triangles")
      case None => ()
    }
    val und = und0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = und.count()
      val deg = und.select($"src".as("n"), $"dst")
        .union(und.select($"dst".as("n"), $"src"))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
      val dirE = orientShuffle(und, deg,
        s.conf.get("spark.sql.shuffle.partitions").toInt)
      val nNodes = deg.count()
      val nTriangles: Long = countTrianglesShuffle(dirE)
      Seq((nNodes, nEdges, nTriangles))
        .toDF("n_nodes", "n_edges", "n_triangles")
    } finally und.unpersist()
  }

  /** Distributed degree-ordered orientation for the past-the-gate path:
    * direct every undirected edge low-(deg, id) → high-(deg, id) so each
    * wedge is enumerated once from its lowest-degree corner (O(√m)
    * fan-out on power-law graphs). Degree-1 endpoints can't close a
    * wedge — pruned here for free since the degrees are already joined.
    */
  private[graft] def orientShuffle(und: DataFrame, deg: DataFrame,
      parts: Int): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    und
      .join(deg.withColumnRenamed("n", "src").withColumnRenamed("deg", "ds"), "src")
      .join(deg.withColumnRenamed("n", "dst").withColumnRenamed("deg", "dd"), "dst")
      .filter($"ds" > 1 && $"dd" > 1)
      .select(
        when($"ds" < $"dd" || ($"ds" === $"dd" && $"src" < $"dst"), $"src")
          .otherwise($"dst").as("u"),
        when($"ds" < $"dd" || ($"ds" === $"dd" && $"src" < $"dst"), $"dst")
          .otherwise($"src").as("v"))
      // spread before checkpoint: AQE coalesces this ~20 MB frame to one
      // partition, which would serialize the counting stage
      .repartition(parts)
      .localCheckpoint(true)
  }

  /** Gated in-memory path over the UNDIRECTED (src < dst, distinct) edge
    * list: degree-ordered orientation, then `Σ |N⁺(u) ∩ N⁺(v)|` by
    * merging sorted out-neighbor arrays per oriented edge — the same
    * count the distributed formulations produce (parity spec). Returns
    * (nNodes, nTriangles).
    */
  private[graft] def countTrianglesLocal(und: DataFrame): (Long, Long) = {
    import und.sparkSession.implicits._
    val (srcA, dstA) = collectEdgePairs(und.select($"src", $"dst"))
    countTrianglesLocalCore(srcA, dstA)
  }

  private def countTrianglesLocalCore(srcA: Array[Long],
      dstA: Array[Long]): (Long, Long) = {
    val m = srcA.length
    // dense remap + CSR (r15): same degree-ordered orientation and
    // sorted-adjacency merge count, on primitive int arrays instead of
    // boxed HashMap[Long, ArrayBuffer] — the dense index order is
    // id-order-isomorphic, so the (deg, id) orientation is unchanged
    val ids = distinctSortedIds(srcA, dstA)
    val n = ids.length
    val si = toDense(ids, srcA)
    val di = toDense(ids, dstA)
    val deg = new Array[Long](n)
    var k = 0
    while (k < m) { deg(si(k)) += 1L; deg(di(k)) += 1L; k += 1 }
    // orient low-(deg, id) → high-(deg, id); degree-1 endpoints pruned
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    var w = 0
    k = 0
    while (k < m) {
      val a = si(k); val b = di(k)
      if (deg(a) > 1 && deg(b) > 1) {
        if (deg(a) < deg(b) || (deg(a) == deg(b) && a < b)) {
          eu(w) = a; ev(w) = b
        } else { eu(w) = b; ev(w) = a }
        w += 1
      }
      k += 1
    }
    val (off, tgt) = csr(n, java.util.Arrays.copyOf(eu, w),
      java.util.Arrays.copyOf(ev, w))
    // per-node segment sorts and the per-u merge counts are independent —
    // run them on all driver cores ([[parallelChunks]]); each chunk's
    // count is a pure partial Long sum, so the total is bit-identical to
    // the sequential loop for any chunking
    parallelChunks(n) { (s, e) =>
      var u = s
      while (u < e) { java.util.Arrays.sort(tgt, off(u), off(u + 1)); u += 1 }
    }
    val partials = new java.util.concurrent.atomic.LongAdder
    parallelChunks(n) { (st, en) =>
      var tri = 0L
      var u = st
      while (u < en) {
        var p = off(u)
        while (p < off(u + 1)) {
          val v = tgt(p)
          // merge two sorted out-neighbor runs, counting matches
          var i = off(u); var j = off(v)
          while (i < off(u + 1) && j < off(v + 1)) {
            if (tgt(i) == tgt(j)) { tri += 1; i += 1; j += 1 }
            else if (tgt(i) < tgt(j)) i += 1
            else j += 1
          }
          p += 1
        }
        u += 1
      }
      partials.add(tri)
    }
    (n.toLong, partials.sum())
  }

  /** General path: adjacency-intersection — build each node's out-neighbor
    * list (degree-ordered orientation bounds it to O(√m) even on power-law
    * graphs), attach N⁺(u) to every oriented edge (u,v) by re-exploding the
    * adjacency (partition-local, no join), then ONE shuffle join brings in
    * N⁺(v) and `Σ size(array_intersect(N⁺(u), N⁺(v)))` is the triangle
    * count. Unlike the wedge-extension formulation this never materializes
    * the α(G)·m wedge ROWS as a shuffle + second join against the full
    * edge list — the only exchange is the m-row edge stream keyed on v
    * (measured at sf1: 12M co-purchase edges, 66 s → single-digit).
    */
  private[graft] def countTrianglesShuffle(dirE: DataFrame): Long = {
    val spark = dirE.sparkSession
    // The adjacency build's collect_list is an UNBOUNDED per-group buffer
    // (up to O(√m) longs per node) — unlike the engine's bounded-heap
    // aggregates, hash-mode partials that hold every in-flight group can
    // OOM at large m (measured: 24M-edge sf2 run at the default 8g heap).
    // Run the whole job on a SESSION CLONE (shared SparkContext + cached
    // data, isolated SQLConf): a set/restore on the shared session would
    // leak threshold=128 to any CONCURRENT query on the same session for
    // the duration of this job — the clone scopes it unconditionally.
    val clone = spark.newSession()
    clone.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    val edges = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(
      clone, dirE.queryExecution.analyzed)
    val adj = edges.groupBy(col("u"))
      .agg(collect_list(col("v")).as("nb"))
    // (u, v, N⁺(u)) for every oriented edge — derived from adj itself, so
    // it stays co-partitioned with adj's groupBy output (no extra shuffle)
    val withNbu = adj.select(
      col("u"), explode(col("nb")).as("v"), col("nb").as("nbu"))
    withNbu
      .join(adj.select(col("u").as("v"), col("nb").as("nbv")), Seq("v"))
      .select(size(array_intersect(col("nbu"), col("nbv"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("t")).head.getLong(0)
  }

  /** Multi-source BFS levels over the undirected co-purchase graph:
    * distance-from-hub for every node within `maxDepth` hops, starting at
    * ALL maximum-degree nodes (deterministic seed set). Distributed path:
    * per round one frontier ⋈ edges shuffle + one anti-join against the
    * visited set — the textbook Pregel BFS; lineage truncated per round
    * like [[pageRank]]. Size-gated in-memory twin when the graph fits
    * (see [[EdgeGate]]). Reported as per-level counts + node-id range
    * (the "how far is everything from the hubs" reachability profile).
    */
  def qBfsLevels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxDepth = 3
    val und0 = copurchaseEdges(s, dir)
    // ONE-JOB gate+collect (see collectEdgesWithin); traversal is
    // latency-bound — three shuffle rounds on a memory-sized graph cost
    // seconds the local walk doesn't. The local path fetches only the
    // UNDIRECTED list and derives degrees + max-degree sources in memory;
    // the frame is persisted only past the gate.
    val levelsLocal = collectEdgesWithin(und0, EdgeGate).map {
      case (srcA, dstA) => bfsLevelsLocalCore(s, srcA, dstA, maxDepth)
    }
    val levels = levelsLocal.getOrElse {
      val und = und0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val e = und.union(und.select($"dst".as("src"), $"src".as("dst")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
          val sources = deg
            .crossJoin(broadcast(deg.agg(max($"deg").as("max_deg"))))
            .filter($"deg" === $"max_deg")
            .select($"node")
          // safe to unpersist after: every frontier is checkpointed
          bfsLevelsShuffle(e, sources, maxDepth)
        } finally e.unpersist()
      } finally und.unpersist()
    }
    levels.groupBy($"dist")
      .agg(count(lit(1)).as("n_nodes"), min($"node").as("min_node"),
        max($"node").as("max_node"))
      .orderBy($"dist")
  }

  /** Frontier-join distributed path (any graph size): per round one
    * frontier ⋈ edges shuffle + one anti-join against the visited set.
    * Returns (node, dist) for every reached node.
    */
  private[graft] def bfsLevelsShuffle(e: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // checkpoint each round's NOVEL frontier once; `levels` stays a
    // lazy union of already-materialized frontiers (re-checkpointing
    // the whole growing set every round rewrites everything r times)
    var frontier = sources.select($"node", lit(0L).as("dist"))
      .localCheckpoint(true)
    var levels = frontier
    for (d <- 1 to maxDepth) {
      val nbrs = frontier.join(e, frontier("node") === e("src"))
        .select($"dst".as("node")).distinct()
      frontier = nbrs.join(levels, Seq("node"), "left_anti")
        .select($"node", lit(d.toLong).as("dist"))
        .localCheckpoint(true)
      levels = levels.union(frontier)
    }
    levels
  }

  /** Gated in-memory path over the UNDIRECTED edge list: symmetrize,
    * derive degrees and the max-degree seed set, then the same
    * multi-source BFS as a local queue walk — identical reached set and
    * distances (parity spec).
    */
  private[graft] def bfsLevelsLocal(und: DataFrame, maxDepth: Int): DataFrame = {
    import und.sparkSession.implicits._
    val (srcA, dstA) = collectEdgePairs(und.select($"src", $"dst"))
    bfsLevelsLocalCore(und.sparkSession, srcA, dstA, maxDepth)
  }

  private def bfsLevelsLocalCore(s: SparkSession, srcA: Array[Long],
      dstA: Array[Long], maxDepth: Int): DataFrame = {
    val m = srcA.length
    // dense remap + CSR (r15, see countTrianglesLocal): und is distinct
    // with src < dst, so the symmetrized adjacency has no duplicate
    // slots and per-node degree is the segment length — identical seed
    // set and reached distances, primitive arrays end to end
    val ids = distinctSortedIds(srcA, dstA)
    val n = ids.length
    val si = toDense(ids, srcA)
    val di = toDense(ids, dstA)
    val bothS = new Array[Int](2 * m); val bothD = new Array[Int](2 * m)
    System.arraycopy(si, 0, bothS, 0, m); System.arraycopy(di, 0, bothD, 0, m)
    System.arraycopy(di, 0, bothS, m, m); System.arraycopy(si, 0, bothD, m, m)
    val (off, tgt) = csr(n, bothS, bothD)
    var maxDeg = 0
    var u = 0
    while (u < n) { maxDeg = maxDeg.max(off(u + 1) - off(u)); u += 1 }
    val dist = new Array[Int](n)
    java.util.Arrays.fill(dist, -1)
    var frontier = new Array[Int](n)
    var fLen = 0
    u = 0
    while (u < n) {
      if (off(u + 1) - off(u) == maxDeg) { frontier(fLen) = u; fLen += 1; dist(u) = 0 }
      u += 1
    }
    for (d <- 1 to maxDepth) {
      val next = new Array[Int](n)
      var nLen = 0
      var f = 0
      while (f < fLen) {
        val x = frontier(f)
        var p = off(x)
        while (p < off(x + 1)) {
          val v = tgt(p)
          if (dist(v) < 0) { dist(v) = d; next(nLen) = v; nLen += 1 }
          p += 1
        }
        f += 1
      }
      frontier = next; fLen = nLen
    }
    s.createDataFrame(
      ids.indices.collect { case i if dist(i) >= 0 => (ids(i), dist(i).toLong) })
      .toDF("node", "dist")
  }

  /** Degree histogram of the co-purchase graph: how many nodes have each
    * degree — the graph's scale signature (two aggregates, no joins).
    */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = copurchaseEdges(s, dir)
    // explode both endpoints in ONE pass (r15): the former
    // union(select(src), select(dst)) embedded the whole unpersisted
    // co-purchase chain TWICE in the plan — scan, collect_set, pair
    // explode and distinct each ran double (plan showed two identical
    // 9-operator subtrees under Union; stage CPU halves with one).
    // r16 negative result (VERDICT r15 item 2): fusing the cross-order
    // pair dedup into the degree aggregate via
    // groupBy(n).agg(size(collect_set(partner))) removes the distinct
    // Exchange from the plan but measured 1.9 → 4.9 s — a million
    // per-node partner SETS (ObjectHashAggregate buffers, partials
    // serialized through the exchange) cost far more than the
    // row-dedup HashAggregate they replaced. The distinct stays.
    und.select(explode(array($"src", $"dst")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_pagerank" -> qPageRank, "q_label_prop" -> qLabelProp,
      "q_triangles" -> qTriangles, "q_degree_dist" -> qDegreeDist,
      "q_bfs_levels" -> qBfsLevels)

  private val CopurchaseSql =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.p AS src, b.p AS dst
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p)""".stripMargin

  private def bfsOracle: String = {
    def iter(d: Int): String =
      s"""f$d AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM l${d - 1} x JOIN edges e ON x.node = e.src
         |  WHERE x.dist = ${d - 1}),
         |l$d AS (
         |  SELECT node, dist FROM l${d - 1}
         |  UNION ALL
         |  SELECT f.node, ${d}::BIGINT AS dist
         |  FROM f$d f LEFT JOIN l${d - 1} v ON f.node = v.node
         |  WHERE v.node IS NULL)""".stripMargin
    val iters = (1 to 3).map(iter).mkString(",\n")
    s"""WITH $CopurchaseSql,
       |edges AS (
       |  SELECT src, dst FROM und
       |  UNION ALL SELECT dst AS src, src AS dst FROM und),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |l0 AS (
       |  SELECT node, 0::BIGINT AS dist FROM deg
       |  WHERE deg = (SELECT MAX(deg) FROM deg)),
       |$iters
       |SELECT dist, COUNT(*) AS n_nodes, MIN(node) AS min_node,
       |  MAX(node) AS max_node
       |FROM l3 GROUP BY dist ORDER BY dist""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracle, "q_label_prop" -> labelPropOracle,
    "q_bfs_levels" -> bfsOracle,
    "q_triangles" ->
      s"""WITH $CopurchaseSql,
         |deg AS (
         |  SELECT n, COUNT(*) AS deg FROM (
         |    SELECT src AS n FROM und UNION ALL SELECT dst AS n FROM und)
         |  GROUP BY n),
         |dir_e AS (
         |  SELECT CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND src < dst)
         |    THEN src ELSE dst END AS u,
         |  CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND src < dst)
         |    THEN dst ELSE src END AS v
         |  FROM und JOIN deg ds ON und.src = ds.n JOIN deg dd ON und.dst = dd.n),
         |tri AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM dir_e e1 JOIN dir_e e2 ON e1.v = e2.u
         |  JOIN dir_e e3 ON e1.u = e3.u AND e2.v = e3.v)
         |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         |  (SELECT COUNT(*) FROM und) AS n_edges, n_triangles
         |FROM tri""".stripMargin,
    "q_degree_dist" ->
      s"""WITH $CopurchaseSql,
         |deg AS (
         |  SELECT n, COUNT(*) AS deg FROM (
         |    SELECT src AS n FROM und UNION ALL SELECT dst AS n FROM und)
         |  GROUP BY n)
         |SELECT deg, COUNT(*) AS n_nodes FROM deg
         |GROUP BY deg ORDER BY deg""".stripMargin)

  private def labelPropOracle: String = {
    def iter(r: Int): String =
      s"""b$r AS (
         |  SELECT dst, label AS new_label FROM (
         |    SELECT e.dst, x.label, COUNT(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, x.label) AS rn
         |    FROM l${r - 1} x JOIN edges e ON x.node = e.src
         |    GROUP BY e.dst, x.label)
         |  WHERE rn = 1),
         |l$r AS (
         |  SELECT n.node, COALESCE(b.new_label, n.node) AS label
         |  FROM nodes n LEFT JOIN b$r b ON n.node = b.dst)""".stripMargin
    val iters = (1 to 2).map(iter).mkString(",\n")
    s"""WITH dir0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT src, dst FROM dir0
       |  UNION SELECT dst AS src, src AS dst FROM dir0),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$iters
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY size DESC, label) AS BIGINT) AS pos,
       |  label, size
       |FROM (SELECT label, COUNT(*) AS size FROM l2 GROUP BY label)
       |ORDER BY size DESC, label LIMIT 20""".stripMargin
  }

  private def pageRankOracle: String = {
    def iter(r: Int): String =
      s"""c$r AS (
         |  SELECT e.dst, SUM(x.rank // d.deg) AS in_mass
         |  FROM r${r - 1} x
         |  JOIN deg d ON x.node = d.src
         |  JOIN edges e ON x.node = e.src
         |  GROUP BY e.dst),
         |r$r AS (
         |  SELECT n.node,
         |    CAST(pr.base + 85 * COALESCE(c.in_mass, 0) // 100 AS BIGINT) AS rank
         |  FROM nodes n
         |  CROSS JOIN params pr
         |  LEFT JOIN c$r c ON n.node = c.dst)""".stripMargin
    val iters = (1 to 3).map(iter).mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
       |params AS (
       |  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS init,
       |    CAST(15 * (1000000000000 // COUNT(*)) // 100 AS BIGINT) AS base
       |  FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, pr.init AS rank FROM nodes CROSS JOIN params pr),
       |$iters
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS pos,
       |  node, rank
       |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }
}
