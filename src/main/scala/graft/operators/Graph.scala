package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames. Companion to the
  * connected-components resolution in [[Dedup.connectedComponents]]:
  * same per-round shape (equi-join + aggregate), same lineage
  * discipline (each round is cut with a localCheckpoint so the plan
  * does not grow with the iteration count).
  */
object Graph {

  /** The canonical undirected projection every undirected operator
    * here starts from: endpoints as longs `(u, v) = (least, greatest)`,
    * self-loops dropped. `least`/`greatest` skip a null endpoint, so
    * a half-null row becomes a self-loop and leaves with them, and the
    * projection never yields a null. */
  private def canonicalPairs(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))

  /** Canonical undirected edge set `(u < v)`, deduped and
    * MATERIALIZED (localCheckpoint): the declarative plans' starting
    * frame. Factored out so [[kHopReachAuto]] can canonicalize ONCE
    * and hand the same materialized frame to the probe and whichever
    * branch it routes to — the r12 q183 artifact paid this synthesis
    * twice (probe + branch) plus the branch's own
    * re-canonicalization. */
  private def canonicalUndirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    canonicalPairs(edges, srcCol, dstCol).distinct().localCheckpoint(true)

  /** Exact triangle census with local clustering coefficients — the
    * third member of the graph tier (q60 ranks, q47 resolves
    * components, this measures cohesion: community density of a link
    * graph, co-citation tightness of a crawl frontier).
    *
    * Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
    * MapReduce "count triangles by smallest-degree apex" scheme).
    * Each undirected edge {u,v} is directed from the endpoint that is
    * SMALLER in the total order (degree, node) to the larger one, so
    *  - every triangle is generated exactly once, at its unique
    *    minimum-order corner (no post-hoc dedup of 3! orderings), and
    *  - every out-neighborhood is bounded by O(sqrt(2m)) regardless
    *    of skew — a star graph's hub gets out-degree 0|1, so the
    *    wedge join below never materializes a hot node's deg^2 pairs.
    *    That bound, not the counting identity, is why this shape
    *    survives a power-law web graph at 100 TB; the naive
    *    three-way join on undirected edges does not.
    *
    * Plan shape (r16): one distinct (canonical edges), one degree
    * aggregate, the oriented edge list (checkpointed — its three
    * consumers would re-execute the whole upstream pipeline each),
    * then triangles by edge-centric NEIGHBORHOOD INTERSECTION: an
    * out-adjacency aggregate plus two equi-joins of the oriented
    * edges against it, with the closing corners z ∈ outN(x) ∩ outN(y)
    * computed inside codegen — the O(Σ outdeg²) wedge set is never
    * shuffled. All shuffles on edge keys, never a window over nodes,
    * never a driver collect.
    * Output: one row per node — `node`, `deg`, `n_tri`, and
    * `clust` = 2·tri / (deg·(deg−1)) (null when deg < 2), a single
    * correctly-rounded division so the double is cross-engine exact.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    maxKernelEdges: Int = 4000000): DataFrame = {
    val pairs = canonicalPairs(edges, srcCol, dstCol)
    // Size-routed strategy (r18, the q31/q217 convention; the route
    // is [[DriverFold]]): up to `maxKernelEdges` RAW canonical pairs
    // the census runs as ONE broadcast-CSR kernel; above the bound,
    // the declarative edge-intersection plan (the 100 TB shape) runs
    // unchanged, its own distinct handling duplicates at any scale
    // (the distinct exchanges dedup via ReusedExchange inside the one
    // oriented-list checkpoint job).
    DriverFold.edges(pairs, maxKernelEdges, dropDup = true) match {
      case Some(g) => triangleCountKernel(edges.sparkSession, g)
      case None => triangleCountViaJoins(pairs.distinct())
    }
  }

  /** The declarative edge-intersection census over canonical
    * undirected edges — the triangleCount branch that survives any
    * scale (see [[triangleCount]]'s scaladoc for the orientation
    * argument). */
  private def triangleCountViaJoins(ue: DataFrame): DataFrame = {
    // Only the ORIENTED edge list is localCheckpoint'd (the tier's
    // multi-pass materialization; GraphX caches its edge RDDs for
    // the same reason): it is the one frame whose three consumers
    // (adjacency build, both intersection joins) would otherwise
    // re-execute the whole scan→distinct→degree→orient pipeline each
    // (r16 probe: 35 exchanges, ~5 recomputations). Checkpointing ue
    // and deg as well was measured SLOWER in r16 — their
    // recomputation is two cheap scans, less than two extra
    // materialization jobs (o-only 1.35 s vs all-three 1.85 s min;
    // the shipped plan is plans/r18/q105_triangle_count_before.txt).
    val deg = ue.select(col("u").as("node")).union(ue.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Attach both endpoint degrees, then orient by (deg, node).
    val withDeg = ue
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint()
    // Edge-centric neighborhood intersection (the GraphX shape,
    // replacing the r15 wedge self-join + closing join): under the
    // acyclic orientation every triangle has a unique apex x (out-deg
    // 2 within the triangle) and middle y, so for each oriented edge
    // (x, y) its closing corners are exactly z ∈ outN(x) ∩ outN(y) —
    // each triangle generated once, no ordering predicate needed.
    // outN stays O(sqrt(2m)) by the orientation, so the adjacency
    // arrays are skew-bounded, and the intersection runs inside
    // codegen on m join rows instead of shuffling the O(Σ outdeg²)
    // wedge set through two exchanges (r16: the 5M-row wedge
    // exchange was the census's whole cost at sf0.1).
    val adj = o.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
    val tris = o
      .join(adj.select(col("src"), col("nbrs").as("nx")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("ny")), Seq("dst"))
      .select(col("src").as("x"), col("dst").as("y"),
        explode(array_intersect(col("nx"), col("ny"))).as("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    // The output degree table is rebuilt FROM the checkpointed
    // oriented list (each canonical edge appears exactly once in o,
    // so incident counts are identical to ue's) — consuming `deg`
    // here would re-execute its whole scan→distinct→aggregate
    // lineage a second time.
    val outDeg = o.select(col("src").as("node"))
      .union(o.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    outDeg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clust",
        when(col("deg") >= 2,
          (col("n_tri") * 2L).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double")))
  }

  /** Broadcast-CSR triangle kernel (r18): the collected canonical
    * pair list (deduped exactly by [[DriverFold.edges]]) becomes a
    * degree-oriented compressed adjacency on the driver (dense ids,
    * per-list sort — the same Chiba–Nishizeki orientation as the join
    * plan), broadcast once, and the edge-by-edge sorted-merge
    * intersections run in executor tasks over index ranges — triangle
    * counting is the arithmetic, with none of the join/aggregate
    * machinery around it (the q217 graph-serve lesson: ~100 ns/row of
    * operator overhead dominates a sub-second census). Per-task
    * scratch is one long[] of node width (guard-bounded). Output
    * identical to the join plan row-for-row (spec-pinned
    * differentially). */
  private def triangleCountKernel(spark: org.apache.spark.sql.SparkSession,
                                  g: DriverFold.Dense): DataFrame = {
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    val m = eu.length
    val degArr = new Array[Int](n)
    locally {
      var i = 0
      while (i < m) { degArr(eu(i)) += 1; degArr(ev(i)) += 1; i += 1 }
    }
    // Orientation: lower (deg, node) endpoint points at the higher.
    @inline def firstLower(a: Int, b: Int): Boolean =
      degArr(a) < degArr(b) || (degArr(a) == degArr(b) && nodes(a) < nodes(b))
    val outDeg = new Array[Int](n)
    locally {
      var i = 0
      while (i < m) {
        if (firstLower(eu(i), ev(i))) outDeg(eu(i)) += 1 else outDeg(ev(i)) += 1
        i += 1
      }
    }
    val ptr = new Array[Int](n + 1)
    locally { var i = 0; while (i < n) { ptr(i + 1) = ptr(i) + outDeg(i); i += 1 } }
    val adj = new Array[Int](m)
    val ex = new Array[Int](m); val ey = new Array[Int](m)
    locally {
      val fill = java.util.Arrays.copyOf(ptr, n)
      var i = 0
      while (i < m) {
        val (x, y) = if (firstLower(eu(i), ev(i))) (eu(i), ev(i)) else (ev(i), eu(i))
        adj(fill(x)) = y; fill(x) += 1
        ex(i) = x; ey(i) = y
        i += 1
      }
      var v = 0
      while (v < n) { java.util.Arrays.sort(adj, ptr(v), ptr(v + 1)); v += 1 }
    }
    val bc = spark.sparkContext.broadcast((ptr, adj, ex, ey))
    val parts = spark.sparkContext.defaultParallelism.max(1)
    // Edge-range tasks: each intersects its slice's out-lists against
    // the broadcast CSR into one dense long[] of node width, and the
    // per-task arrays TREE-REDUCE by elementwise sum (exact — long
    // addition is associative/commutative) instead of shuffling
    // (nid, cnt) rows through a groupBy + left join: the reduced
    // array is ≤ 8·n bytes, strictly smaller than the edge list the
    // guard already admitted to the driver, and cutting the
    // aggregate+join tail removes three AQE shuffle jobs from a
    // sub-second census (r18 opt pass: 10 → ~5 jobs; the emit is
    // [[DriverFold.perNode]]).
    val counts: Array[Long] = spark.sparkContext
      .range(0L, parts.toLong, 1L, parts)
      .mapPartitions { ps =>
        val (bPtr, bAdj, bEx, bEy) = bc.value
        val mm = bEx.length
        val cnt = new Array[Long](bPtr.length - 1)
        ps.foreach { p =>
          val lo = (p * mm / parts).toInt
          val hi = ((p + 1) * mm / parts).toInt
          var i = lo
          while (i < hi) {
            val x = bEx(i); val y = bEy(i)
            var a = bPtr(x); val aEnd = bPtr(x + 1)
            var b = bPtr(y); val bEnd = bPtr(y + 1)
            while (a < aEnd && b < bEnd) {
              val za = bAdj(a); val zb = bAdj(b)
              if (za == zb) { cnt(x) += 1; cnt(y) += 1; cnt(za) += 1; a += 1; b += 1 }
              else if (za < zb) a += 1
              else b += 1
            }
            i += 1
          }
        }
        Iterator.single(cnt)
      }
      // treeReduce, not plain reduce (r19, r18 advisor): plain reduce
      // fetches every partition's 8·n-byte array to the driver and
      // merges sequentially — at the guard bound (~8M nodes, 64 MB
      // per array) with many partitions that concentrates transient
      // driver memory; the depth-2 tree merges executor-side first,
      // so the driver sees O(√parts) arrays. Not fold: fold would
      // serialize its 8·n-byte zero array into every task closure
      // (each task emits exactly one array, so the RDD is never
      // empty). In-place += is safe — every operand is a
      // task-private deserialized copy.
      .treeReduce({ (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }, depth = 2)
    DriverFold.perNode(spark, "node" -> nodes, "deg" -> degArr.map(_.toLong),
        "n_tri" -> counts)
      .withColumn("clust",
        when(col("deg") >= 2,
          (col("n_tri") * 2L).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double")))
  }

  /** Bounded-round k-core peel — the graph tier's density filter
    * (q60 ranks, q47 resolves, q105 measures cohesion, this PRUNES
    * to the cohesive core): repeatedly drop nodes of degree < k and
    * re-filter edges to surviving endpoints, `rounds` times, then
    * return the surviving nodes with their core-subgraph degree.
    * Fixed rounds — not iterate-to-fixpoint — is what keeps the
    * operator ORACLE-REPLAYABLE (each round unrolls to one degree
    * CTE + one filter join, the q60 unrolled-recurrence pattern);
    * convergence on the gated workload happens within the round
    * budget and [[kCoreFixpoint]] is the to-convergence variant the
    * spec differentially checks against.
    *
    * Scale shape per round: one map-side-combinable degree aggregate
    * + two equi-joins of the (nodes-sized) survivor set back onto
    * the edge list — never a window, never a collect; edge state is
    * localCheckpoint'd per round so the plan does not grow with the
    * round count (the q47/q60 lineage lesson). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, "k >= 1 and rounds >= 0")
    var cur = canonicalUndirected(edges, srcCol, dstCol)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    for (_ <- 1 to rounds) {
      val keep = degrees(cur).filter(col("deg") >= k)
      cur = cur
        .join(keep.select(col("node").as("u")), "u")
        .join(keep.select(col("node").as("v")), "v")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
    }
    degrees(cur).filter(col("deg") >= k)
  }

  /** [[kCore]] iterated to the true fixed point: peel until a round
    * removes nothing (each round's survivor count is one bounded
    * driver-side aggregate). The result is the maximal subgraph of
    * minimum degree ≥ k — the textbook k-core; bounded [[kCore]]
    * equals it whenever `rounds` covers the peel depth (spec-pinned
    * differentially on random graphs). */
  def kCoreFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                    k: Int, maxRounds: Int = 1000): DataFrame = {
    var cur = canonicalUndirected(edges, srcCol, dstCol)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var prev = -1L
    var n = cur.count()
    var r = 0
    while (n != prev && r < maxRounds) {
      val keep = degrees(cur).filter(col("deg") >= k)
      cur = cur
        .join(keep.select(col("node").as("u")), "u")
        .join(keep.select(col("node").as("v")), "v")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      prev = n
      n = cur.count()
      r += 1
    }
    degrees(cur).filter(col("deg") >= k)
  }

  /** K-HOP REACHABILITY census — the BFS primitive the rest of the
    * graph tier lacks: for every node, how many distinct nodes lie
    * within `k` undirected hops (crawl-depth coverage, influence
    * radius, locality of a link neighborhood). Bounded `k` keeps the
    * op oracle-replayable: hop h unrolls to one equi-join of the
    * hop-(h−1) pair set onto the adjacency plus a distinct — the
    * q60/q114 bounded-recurrence pattern.
    *
    * Scale shape per hop — SEMI-NAIVE (Datalog's delta evaluation,
    * the GraphX/Pregel frontier discipline): only the FRONTIER (pairs
    * first discovered on the previous hop) joins the adjacency, never
    * the full accumulated reach set, and the candidates are
    * anti-joined against the accumulated set so each pair is
    * materialized exactly once. Per hop that is one shuffle join
    * (|frontier| × adjacency, not |reach| × adjacency), one distinct
    * over the candidates, and one anti-join — on graphs where balls
    * saturate within k hops the frontier shrinks toward zero while
    * the naive re-join keeps paying Σ|B_h| every hop. The loop
    * early-exits when the frontier drains (diameter < k), so k only
    * bounds the rounds. Total pair state is still Σ|B_k(u)| rows —
    * the honest cost of EXACT per-node reach; the sketch shortcut is
    * [[hyperBall]], and [[kHopReachAuto]] routes between the two. A
    * hub node's deg² candidate burst before the distinct is
    * AQE-skew-join territory; frontier state is localCheckpoint'd per
    * hop so the plan stays flat (the accumulated set is a union of
    * already-materialized checkpoints and needs no re-materialize).
    * Self-pairs are excluded throughout. */
  def kHopReach(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, maxKernelEdges: Int = 4000000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // Size-routed strategy (r19, the q105/q118 convention, through
    // [[DriverFold]]): up to `maxKernelEdges` RAW canonical pairs the
    // census runs as ONE broadcast-CSR kernel — per-node depth-bounded
    // BFS in executor tasks, with none of the per-hop
    // join/distinct/anti-join machinery around it (at toy SF those
    // per-hop jobs ARE the cost). The dense index dedups exactly, so
    // the kernel skips the canonical distinct+checkpoint entirely.
    // Above the bound the declarative semi-naive frontier plan (the
    // 100 TB shape) runs unchanged.
    DriverFold.edges(canonicalPairs(edges, srcCol, dstCol), maxKernelEdges, dropDup = true) match {
      case Some(g) => kHopReachKernel(edges.sparkSession, g, k)
      case None => kHopReachCanonical(canonicalUndirected(edges, srcCol, dstCol), k)
    }
  }

  /** Symmetric compressed adjacency of a deduped dense edge list:
    * node v's neighbors are `adj(ptr(v) until ptr(v + 1))`, each edge
    * listed from both ends. Shared by the BFS and label kernels. */
  private def symmetricCsr(g: DriverFold.Dense): (Array[Int], Array[Int]) = {
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    val m = eu.length
    val deg = new Array[Int](n)
    locally {
      var i = 0
      while (i < m) { deg(eu(i)) += 1; deg(ev(i)) += 1; i += 1 }
    }
    val ptr = new Array[Int](n + 1)
    locally { var i = 0; while (i < n) { ptr(i + 1) = ptr(i) + deg(i); i += 1 } }
    val adj = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(ptr, n)
    var i = 0
    while (i < m) {
      adj(fill(eu(i))) = ev(i); fill(eu(i)) += 1
      adj(fill(ev(i))) = eu(i); fill(ev(i)) += 1
      i += 1
    }
    (ptr, adj)
  }

  /** Broadcast-CSR k-hop reach kernel: EXACTLY the declarative
    * census's semantics — |{w : 0 < dist(u, w) ≤ k}| per node — as a
    * depth-bounded BFS from every node over the broadcast symmetric
    * adjacency. Node-range tasks each own their nodes' full BFS, so
    * unlike [[triangleCountKernel]] no cross-task reduce is needed:
    * each task emits its (node, n_reach) rows directly. Per-task
    * scratch is three int arrays of node width (12·n bytes,
    * guard-bounded like the triangle kernel's long[]); the stamp
    * trick avoids clearing them between BFS runs. */
  private def kHopReachKernel(spark: org.apache.spark.sql.SparkSession,
                              g: DriverFold.Dense, k: Int): DataFrame = {
    import spark.implicits._
    val (ptr, adj) = symmetricCsr(g)
    val n = g.nodes.length
    val bc = spark.sparkContext.broadcast((g.nodes, ptr, adj))
    val kk = k
    spark.range(0, n.toLong).as[Long].mapPartitions { it =>
      val (bNodes, bPtr, bAdj) = bc.value
      val nn = bPtr.length - 1
      // stamp marks nodes visited by the CURRENT BFS (≤ nn BFS per
      // task, so an Int stamp cannot wrap); dist rides the queue.
      val stamp = new Array[Int](nn)
      val dist = new Array[Int](nn)
      val queue = new Array[Int](nn)
      var cur = 0
      it.map { uL =>
        val u = uL.toInt
        cur += 1
        stamp(u) = cur; dist(u) = 0
        queue(0) = u
        var head = 0; var tail = 1
        var cnt = 0L
        while (head < tail) {
          val x = queue(head); head += 1
          val dx = dist(x)
          if (dx < kk) {
            var e = bPtr(x)
            val end = bPtr(x + 1)
            while (e < end) {
              val y = bAdj(e)
              if (stamp(y) != cur) {
                stamp(y) = cur; dist(y) = dx + 1
                queue(tail) = y; tail += 1
                cnt += 1L
              }
              e += 1
            }
          }
        }
        (bNodes(u), cnt)
      }
    }.toDF("node", "n_reach")
  }

  /** [[kHopReach]] over an already-canonical, already-materialized
    * `(u, v)` edge frame (see [[canonicalUndirected]]). */
  private def kHopReachCanonical(ue: DataFrame, k: Int): DataFrame = {
    val adj = ue.select(col("u").as("node"), col("v").as("nbr"))
      .union(ue.select(col("v").as("node"), col("u").as("nbr")))
    // Pre-spread the frontier side of the hop join: a small adjacency
    // gets BROADCAST, so the join and the expensive dedup that
    // follows would otherwise inherit the checkpoint's few
    // AQE-coalesced partitions and run the deg²-expanded candidate
    // stream on a handful of cores (measured 2.8× slower at sf0.1).
    // An explicit-width repartition is exempt from AQE coalescing;
    // the shuffled rows are the narrow PRE-expansion frontier, so the
    // exchange is cheap relative to the expansion it parallelizes.
    val width = ue.sparkSession.sessionState.conf.numShufflePartitions
    def expand(frontier: DataFrame): DataFrame =
      frontier.select(col("node"), col("nbr").as("__mid"))
        .repartition(width, col("__mid"))
        .join(adj.select(col("node").as("__mid"), col("nbr")), "__mid")
        .select(col("node"), col("nbr"))
        .filter(col("node") =!= col("nbr"))
    var reach = adj
    var frontier = adj
    var h = 2
    var drained = false
    // Intermediate hops (h < k) must materialize the exact distinct
    // frontier — the next hop joins it. The LAST hop never does: its
    // candidates flow straight into the census, where
    // `count_distinct` dedups map-side inside one aggregation
    // exchange instead of paying a distinct shuffle + anti-join +
    // checkpoint for a pair set nobody reads again. At k=2 (the
    // common census depth) the whole op is one join + one aggregate.
    while (h < k && !drained) {
      val fresh = expand(frontier)
        .distinct()
        .join(reach, Seq("node", "nbr"), "left_anti")
        .localCheckpoint(true)
      if (fresh.isEmpty) drained = true
      else {
        reach = reach.union(fresh)
        frontier = fresh
      }
      h += 1
    }
    val lastCands = if (k >= 2 && !drained) expand(frontier) else reach.limit(0)
    reach.union(lastCands)
      .groupBy(col("node")).agg(count_distinct(col("nbr")).as("n_reach"))
  }

  /** Size-guarded k-hop reach: exact [[kHopReach]] for graphs up to
    * `maxExactEdges` input edges, [[hyperBall]] above it — the
    * [[Similarity.nearDupPairsAuto]] probe-and-route convention
    * applied to the one graph op whose exact path materializes
    * Σ|B_k(u)| pair rows (quadratic-ish on dense graphs). The edge
    * set is canonicalized and MATERIALIZED once up front (both
    * branches need exactly that frame anyway), the probe is one
    * bounded read of the materialized frame (a [[DriverFold]]
    * collect up to the 4M kernel bound, a `limit(n+1).count()` above
    * it; no upstream re-execution), and the routed branch consumes the
    * same frame — so the synthesis lineage above the operator runs
    * exactly once regardless of route.
    *
    * Both branches emit the same (node, n_reach) schema. On the
    * routed path n_reach is the HyperBall ball-cardinality ESTIMATE
    * minus one (HyperBall seeds each node's counter with itself;
    * exact reach excludes self-pairs), rounded half-up — within
    * HLL's ~1.04/√m relative error of the exact census, never a
    * silent semantic swap: callers that need the exact pair census
    * above the bound must call [[kHopReach]] explicitly.
    *
    * Default bound 2^20 edges: the exact path's per-hop frontier
    * join then stays within a single executor wave at 2-3 hops on
    * typical link-graph density, and the pair set stays well under
    * memory even if balls saturate. */
  def kHopReachAuto(edges: DataFrame, srcCol: String, dstCol: String,
                    k: Int, p: Int = 6,
                    maxExactEdges: Long = 1L << 20): DataFrame = {
    requireBall(k, p)
    // Canonicalize ONCE: both branches start from the same distinct
    // (u, v) set and materialize it anyway, so probing the raw input
    // lineage separately just re-ran the upstream synthesis (the r12
    // q183 artifact paid the pipeline roughly twice). The probe reads
    // the MATERIALIZED frame — no job re-runs — and the routed branch
    // consumes the very same frame. The bound is thereby interpreted
    // over canonical undirected edges (dups and self-loops no longer
    // count toward it), which is the quantity the exact path's
    // pair-set cost actually scales with.
    val ue = canonicalUndirected(edges, srcCol, dstCol)
    def estimate(est: DataFrame): DataFrame = est.select(col("node"),
      floor(col("ball_estimate") - lit(0.5)).cast("long").as("n_reach"))
    if (maxExactEdges <= 4000000L) {
      // One [[DriverFold]] probe-collect up to the LARGER of the exact
      // bound and the HyperBall kernel bound decides (and feeds)
      // whichever kernel the size admits, with no second probe job on
      // the routed branch. Admitted rows are the complete canonical
      // set, since ue is materialized.
      val bound = math.max(maxExactEdges, HyperBallKernelBound.toLong).toInt
      DriverFold.edges(ue, bound, dropDup = true) match {
        case Some(g) if g.eu.length <= maxExactEdges =>
          kHopReachKernel(edges.sparkSession, g, k)
        case Some(g) if hyperBallKernelFits(g.eu.length, p) =>
          estimate(hyperBallKernel(edges.sparkSession, g, k, p))
        case _ => estimate(hyperBallCanonical(ue, k, p))
      }
    } else {
      // Above the kernel bound the exact branch stays declarative,
      // probed by a bounded count; the HyperBall branch's input is then
      // over 4M edges, beyond any kernel bound, so it is declarative too.
      val probe = math.min(maxExactEdges + 1, Int.MaxValue.toLong).toInt
      if (ue.limit(probe).count() <= maxExactEdges) kHopReachCanonical(ue, k)
      else estimate(hyperBallCanonical(ue, k, p))
    }
  }

  /** HYPERBALL — the approximate scale path [[kHopReach]] documents:
    * per-node k-hop ball CARDINALITY ESTIMATES via HyperLogLog
    * counters (Boldi–Rosa–Vigna's HyperBall, the algorithm behind
    * the published web-graph distance measurements). Every node
    * carries an HLL register set seeded with its own id; each round
    * merges every neighbor's registers by per-register max — set
    * union in sketch space — so after k rounds node u's counter
    * estimates |B_k(u)|, self included.
    *
    * Why this is the 100-TB shape: exact reach materializes the pair
    * set (Σ|B_k| rows — quadratic-ish on dense graphs); HyperBall
    * state is O(nodes × 2^p) FOREVER, regardless of ball size, and
    * each round is one equi-join + one max-aggregate (both map-side
    * combinable). The whole pipeline is integer register arithmetic
    * (md5-derived, [[Sketches.hllRegister]]/[[Sketches.hllRank]]), so
    * the register evolution — and therefore the estimate — is
    * deterministic and oracle-replayable; the finalize division is
    * the q56 correctly-rounded shape. GraphSpec pins the register
    * state to a driver-side BFS-ball replay EXACTLY, plus estimate
    * monotonicity in k. */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, p: Int = 6,
                maxKernelEdges: Int = HyperBallKernelBound): DataFrame = {
    requireBall(k, p)
    // Size-routed (r19, the q105/q118 convention, through
    // [[DriverFold]]): up to `maxKernelEdges` RAW canonical pairs the
    // register evolution runs as one driver-fold kernel over a dense
    // byte matrix, skipping the canonical distinct+checkpoint plus the
    // k (join + udaf-agg + checkpoint) rounds entirely. Above the
    // bound, or when the matrix would not fit, the declarative
    // packed-register plan (the 100 TB shape) runs unchanged.
    DriverFold.edges(canonicalPairs(edges, srcCol, dstCol), maxKernelEdges, dropDup = true)
      .filter(g => hyperBallKernelFits(g.eu.length, p)) match {
      case Some(g) => hyperBallKernel(edges.sparkSession, g, k, p)
      case None => hyperBallCanonical(canonicalUndirected(edges, srcCol, dstCol), k, p)
    }
  }

  /** HyperBall's parameter contract, checked before any probe so
    * every route rejects the same inputs ([[Sketches.hllRegister]]
    * holds the declarative route to the same `p` range). */
  private def requireBall(k: Int, p: Int): Unit = {
    require(k >= 1, "k must be >= 1")
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
  }

  /** Kernel bound for [[hyperBall]]: tighter than the triangle/LPA
    * 4M-edge bound because the kernel's state is the DENSE register
    * matrix — n·2^p bytes, two copies during a round, broadcast once
    * for the sparse emit. At 2^20 canonical edges (n ≤ 2^21 nodes,
    * p=6) that is ≤ 128 MB per copy, the same ballpark as the
    * triangle kernel's broadcast CSR at ITS bound; beyond it the
    * declarative evolution is the right shape anyway. */
  private val HyperBallKernelBound: Int = 1 << 20

  /** The edge bound alone does not cap the register MATRIX for large
    * `p` (n·2^p at p=16 overflows an Int index well below the edge
    * bound): admit the kernel only when the worst-case matrix
    * (2·edges node bound × 2^p bytes, over the deduped edges) stays
    * ≤ 256 MB — at p=6 this is looser than [[HyperBallKernelBound]],
    * at p=16 it correctly shrinks the kernel to toy graphs and routes
    * the rest to the declarative evolution. */
  private def hyperBallKernelFits(edges: Int, p: Int): Boolean =
    2L * edges.toLong * (1L << p) <= (1L << 28)

  /** The declarative [[hyperBall]] evolution over an already-canonical,
    * already-materialized `(u, v)` edge frame (see
    * [[canonicalUndirected]]) — the branch both [[hyperBall]] and
    * [[kHopReachAuto]] route to when the kernel does not admit. */
  private def hyperBallCanonical(ue: DataFrame, k: Int, p: Int): DataFrame = {
    requireBall(k, p)
    val m = 1 << p
    val adj = ue.select(col("u").as("node"), col("v").as("nbr"))
      .union(ue.select(col("v").as("node"), col("u").as("nbr")))
    // The m registers ride as ONE m-byte binary per node, not m rows:
    // a ball's register set used to multiply every adjacency row by
    // its register count in the per-round join (~m× row blowup once
    // balls saturate — the dominant cost at sf0.1 was an ~18M-row
    // join feeding the max-merge). Packed, each round joins |adj|
    // binary rows and the union-in-sketch-space is an element-wise
    // byte max (rho ≤ 61−p < 127 always fits a signed byte; 0 marks
    // an empty register, distinct from any real rank since rank ≥ 1)
    // — commutative and associative, so aggregation order cannot
    // change the result and the evolution stays oracle-replayable.
    // (A 64-tinyint-COLUMN variant with m built-in `max` aggregates
    // was measured 1.9× SLOWER than this typed Aggregator at sf0.1 —
    // 64 agg buffer slots per group cost more than one in-place
    // byte-array merge, codegen notwithstanding.)
    val pack = udf((reg: Long, rho: Int) => {
      val a = new Array[Byte](m); a(reg.toInt) = rho.toByte; a
    })
    val regMax = udaf(new ByteMaxAgg(m))
    var regs = adj.select(col("node")).distinct()
      .select(col("node"),
        pack(Sketches.hllRegister(col("node"), p),
          Sketches.hllRank(col("node"), p)).as("ball"))
      .localCheckpoint(true)
    for (_ <- 1 to k) {
      regs = regs
        .union(adj.join(regs.withColumnRenamed("node", "nbr"), "nbr")
          .select(col("node"), col("ball")))
        .groupBy(col("node")).agg(regMax(col("ball")).as("ball"))
        .localCheckpoint(true)
    }
    // Unpack ONCE (nodes rows, not per round) to the sparse
    // (node, reg, maxrho) rows hllFinalize consumes — identical to
    // the rows the row-per-register evolution produced.
    val unpack = udf((b: Array[Byte]) =>
      b.iterator.zipWithIndex
        .collect { case (v, i) if v > 0 => (i.toLong, v.toInt) }.toSeq)
    val sparse = regs
      .select(col("node"), explode(unpack(col("ball"))).as("rr"))
      .select(col("node"), col("rr._1").as("reg"), col("rr._2").as("maxrho"))
    Sketches.hllFinalize(sparse, Seq("node"), p)
      .withColumnRenamed("nd_estimate", "ball_estimate")
  }

  /** Element-wise byte max over fixed-width register blocks —
    * HyperBall's sketch-space set union ([[hyperBall]]). Ranks are
    * small positives, so signed comparison IS the register max; the
    * buffer mutates in place (one array per group, no per-row
    * allocation). */
  private final class ByteMaxAgg(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](m)
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (a(i) > b(i)) b(i) = a(i); i += 1 }
      b
    }
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = reduce(x, y)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** JVM replay of [[Sketches]]' 60-bit HLL hash: first 15 hex chars
    * of md5(x.toString) parsed base-16 — i.e. the top 60 bits of the
    * digest's first 8 bytes. Bit-identical to the Catalyst
    * `conv(substring(md5(cast(x as string)), 1, 15), 16, 10)`
    * expression (both engines hash the UTF-8 decimal string), which
    * is what keeps the kernel's register evolution oracle-exact. */
  private def hll60Jvm(x: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(java.lang.Long.toString(x).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** Driver-fold HyperBall kernel: EXACTLY the declarative packed
    * evolution's semantics — ball_r(u) = regmax(ball_{r−1}(u),
    * max over neighbors) with md5-derived (register, rank) seeds —
    * over a dense n×2^p byte matrix (guard-bounded, see
    * [[HyperBallKernelBound]]). Deterministic integer arithmetic
    * end-to-end, so the evolution is oracle-replayable exactly as
    * the declarative route's; the finalize (the one division) is
    * NOT replicated — the kernel emits the same sparse
    * (node, reg, maxrho) rows the declarative unpack produces and
    * feeds the SAME [[Sketches.hllFinalize]], so the estimate's
    * floating-point path is shared, not duplicated. Emit is the
    * broadcast + range flatMap convention, never a driver-built
    * frame. */
  private def hyperBallKernel(spark: org.apache.spark.sql.SparkSession,
                              g: DriverFold.Dense, k: Int, p: Int): DataFrame = {
    import spark.implicits._
    val m = 1 << p
    val low = 60 - p
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    val mm = eu.length
    var cur = new Array[Byte](n * m)
    locally {
      var u = 0
      while (u < n) {
        val h = hll60Jvm(nodes(u))
        val reg = (h >>> low).toInt
        val lowBits = h & ((1L << low) - 1)
        // rank = leading-zero count of the low field, plus one:
        // length(bin(x)) = 64 − numberOfLeadingZeros(x).
        val rho =
          if (lowBits == 0L) low + 1
          else low + 1 - (64 - java.lang.Long.numberOfLeadingZeros(lowBits))
        cur(u * m + reg) = rho.toByte
        u += 1
      }
    }
    var r = 0
    while (r < k) {
      val next = cur.clone()
      var i = 0
      while (i < mm) {
        val ou = eu(i) * m; val ov = ev(i) * m
        var j = 0
        while (j < m) {
          if (cur(ov + j) > next(ou + j)) next(ou + j) = cur(ov + j)
          if (cur(ou + j) > next(ov + j)) next(ov + j) = cur(ou + j)
          j += 1
        }
        i += 1
      }
      cur = next
      r += 1
    }
    val bc = spark.sparkContext.broadcast((nodes, cur))
    val mWidth = m
    val sparse = spark.range(0, n.toLong).as[Long].flatMap { uL =>
      val (bNodes, bRegs) = bc.value
      val off = uL.toInt * mWidth
      val node = bNodes(uL.toInt)
      (0 until mWidth).iterator.collect {
        case reg if bRegs(off + reg) > 0 =>
          (node, reg.toLong, bRegs(off + reg).toInt)
      }
    }.toDF("node", "reg", "maxrho")
    Sketches.hllFinalize(sparse, Seq("node"), p)
      .withColumnRenamed("nd_estimate", "ball_estimate")
  }

  /** Synchronous label-propagation community detection — the graph
    * tier's grouping lens beside q47's connectivity (components join
    * everything reachable; communities stop where the link density
    * does). Every node starts labeled with itself; each ROUND every
    * node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — the deterministic
    * synchronous variant of Raghavan et al.'s LPA. Fixed `rounds`
    * keeps the op oracle-replayable (each round unrolls to one
    * neighbor-label join + one census + one arg-min, the q60/q114
    * bounded-recurrence pattern); determinism needs no RNG because
    * both the schedule (synchronous) and the tie-break (min label)
    * are total.
    *
    * Scale shape per round: one equi-join of the label table onto the
    * symmetric adjacency (shuffle on node id), one map-side-combinable
    * (node, label) census, then the arg-min as `min(struct(-cnt,
    * label))` — an AGGREGATE, not a window, so no per-node sort and
    * no skew cliff on a hub node; label state localCheckpoint'd per
    * round (the q47/q60 lineage lesson). Isolated nodes cannot occur
    * (nodes are defined as edge endpoints); a node keeps its own
    * label only by winning the census through a neighbor. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int, maxKernelEdges: Int = 4000000): DataFrame = {
    require(rounds >= 0, "rounds must be nonnegative")
    val pairs = canonicalPairs(edges, srcCol, dstCol)
    // Size-routed strategy (r18, the q105 kernel convention, through
    // [[DriverFold]]): up to `maxKernelEdges` RAW canonical pairs the
    // synchronous rounds run as one broadcast-CSR kernel — each
    // declarative round is a join + two aggregates + a checkpoint, and
    // at sub-second scale those per-round jobs ARE the cost. Above the
    // bound, the declarative rounds below run unchanged at any scale.
    val folded = DriverFold.edges(pairs, maxKernelEdges, dropDup = true)
    if (folded.isDefined) return labelPropKernel(edges.sparkSession, folded.get, rounds)
    val ue = pairs.distinct().localCheckpoint(true)
    val adj = ue.select(col("u").as("node"), col("v").as("nbr"))
      .union(ue.select(col("v").as("node"), col("u").as("nbr")))
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("best"))
        .select(col("node"), col("best.l").as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Broadcast-CSR label-propagation kernel: EXACTLY the declarative
    * rounds' semantics — synchronous updates, per-node best =
    * (max neighbor-label count, then MIN label), the node's own
    * label never voting — over a dense symmetric adjacency. Labels
    * are always node ids, so counting uses a dense scratch array
    * with a stamp trick (O(deg) per node, no per-node allocation).
    * Rounds are O(m) each on the guard-bounded graph (the
    * fitCorpusTriage driver-fold convention); the result emits via
    * [[DriverFold.perNode]]. */
  private def labelPropKernel(spark: org.apache.spark.sql.SparkSession,
                              g: DriverFold.Dense, rounds: Int): DataFrame = {
    val nodes = g.nodes
    val n = nodes.length
    val (ptr, adj) = symmetricCsr(g)
    // lab holds DENSE label indices (labels are always node ids).
    var lab = Array.tabulate(n)(identity)
    val cnt = new Array[Int](n)
    // Long stamps: an Int counter wraps after 2^32 node-visits
    // (n·rounds is caller-controlled) and a wrapped stamp would
    // silently resume a stale count (r18 review).
    val stamp = new Array[Long](n)
    var curStamp = 0L
    var r = 0
    while (r < rounds) {
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        curStamp += 1
        var bestLab = -1; var bestCnt = 0
        var e = ptr(v)
        while (e < ptr(v + 1)) {
          val l = lab(adj(e))
          if (stamp(l) != curStamp) { stamp(l) = curStamp; cnt(l) = 0 }
          cnt(l) += 1
          // max count, then min label (dense order = node-id order).
          if (cnt(l) > bestCnt || (cnt(l) == bestCnt && l < bestLab)) {
            bestCnt = cnt(l); bestLab = l
          }
          e += 1
        }
        next(v) = if (bestLab >= 0) bestLab else lab(v)
        v += 1
      }
      lab = next
      r += 1
    }
    DriverFold.perNode(spark, "node" -> nodes, "label" -> lab.map(l => nodes(l)))
  }

  /** Link prediction by neighborhood overlap: for every NON-adjacent
    * node pair with at least one common neighbor, the
    * common-neighbor count and Jaccard coefficient
    * `cn / (deg(u) + deg(v) − cn)` — the classic "predict the
    * missing edge" scores (Liben-Nowell & Kleinberg) behind
    * recommend-a-connection and knowledge-graph completion.
    * Adamic-Adar is deliberately absent: its ln(deg) term is the one
    * transcendental that would break cross-engine exactness, and on
    * the pair set emitted here it is a monotone re-weighting
    * consumers can apply downstream.
    *
    * Scale shape: candidate pairs come from the WEDGE census — one
    * self-join of the symmetric adjacency on the midpoint with an
    * `a < b` orientation cut, then a map-side-combinable (a, b)
    * count; existing edges leave via a left-anti join and degrees
    * attach by two equi-joins on keys-sized censuses. The wedge set
    * is Σ deg(m)² — the q105 triangle bound — and a hub node
    * explodes it, so `maxDegree` drops midpoints above a cap
    * (fail-soft, the standard web-graph mitigation; default keeps
    * everything and is exact). Jaccard is ONE correctly-rounded
    * division of exactly-converted longs, so the frame hash-gates. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDegree: Long = Long.MaxValue): DataFrame = {
    require(maxDegree > 0, "maxDegree must be positive")
    val ue = canonicalUndirected(edges, srcCol, dstCol)
    val adj = ue.select(col("u").as("node"), col("v").as("nbr"))
      .union(ue.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val mids =
      if (maxDegree == Long.MaxValue) adj
      else adj.join(deg.filter(col("deg") <= maxDegree).select("node"), "node")
    // Pre-spread the streamed wedge side (the q129/kHopReach lesson):
    // a broadcast wedge join otherwise runs the deg²-expanded pair
    // stream and its census partials on the checkpoint's few
    // AQE-coalesced partitions.
    val width = edges.sparkSession.sessionState.conf.numShufflePartitions
    val cn = mids.select(col("node"), col("nbr").as("a"))
      .repartition(width, col("node"))
      .join(mids.select(col("node"), col("nbr").as("b")), "node")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    cn.join(ue, cn("a") === ue("u") && cn("b") === ue("v"), "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .select(col("a").as("u"), col("b").as("v"), col("cn"),
        (col("cn").cast("double") /
          (col("__da").cast("double") + col("__db").cast("double")
            - col("cn").cast("double"))).as("jaccard"))
  }

  /** ADAMIC-ADAR link prediction — [[linkPrediction]]'s
    * common-neighbor count with the weighting that made the metric
    * famous: a shared HUB says little (everyone passes through it),
    * a shared RARE neighbor says a lot, so each common neighbor w
    * contributes `1/log(deg w)` instead of 1 (Adamic & Adar 2003).
    * The reciprocal log is exact fixed-point: `2²⁴ DIV flog2q(deg)`
    * with the 1/16-bit integer log2 kernel — a common neighbor has
    * degree ≥ 2 by construction, so the divisor is always ≥ 16 —
    * and the pair score is an exact long sum, so the frame
    * hash-gates where a float 1/ln could not.
    *
    * Same scale shape as [[linkPrediction]]: wedge enumeration
    * through mid-nodes with the optional degree cap (a hub's wedge
    * set is quadratic in its degree — the cap is the guard), one
    * census aggregate, anti-join against existing edges. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDegree: Long = Long.MaxValue): DataFrame = {
    require(maxDegree > 0, "maxDegree must be positive")
    val ue = canonicalUndirected(edges, srcCol, dstCol)
    val adj = ue.select(col("u").as("node"), col("v").as("nbr"))
      .union(ue.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val mids =
      (if (maxDegree == Long.MaxValue) adj.join(deg, "node")
       else adj.join(deg.filter(col("deg") <= maxDegree), "node"))
        // Degree-1 leaves never form a wedge (no pair of distinct
        // neighbors), but the projection is evaluated eagerly on
        // every adjacency row — flog2q(1) = 0 would divide by zero,
        // so the guard zeroes the never-used weight.
        .withColumn("__w", expr(
          s"CAST(CASE WHEN deg >= 2 THEN 16777216 DIV ${
            graft.operators.Curation.flog2qSql("deg")} ELSE 0 END AS BIGINT)"))
    // Pre-spread the streamed wedge side (the q129/kHopReach lesson).
    val width = edges.sparkSession.sessionState.conf.numShufflePartitions
    val aa = mids.select(col("node"), col("nbr").as("a"), col("__w"))
      .repartition(width, col("node"))
      .join(mids.select(col("node"), col("nbr").as("b")), "node")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"), sum("__w").as("aa_fp"))
    aa.join(ue, aa("a") === ue("u") && aa("b") === ue("v"), "left_anti")
      .select(col("a").as("u"), col("b").as("v"), col("cn"), col("aa_fp"))
  }

  /** HITS hubs & authorities (Kleinberg) — the DIRECTED prestige
    * lens beside [[pageRank]]'s random surfer: a node is a good
    * authority if good hubs point AT it, a good hub if it points at
    * good authorities. Runs the mutual recurrence for a fixed number
    * of rounds from h₀ = 1: aᵣ = Aᵀhᵣ₋₁ then hᵣ = A·aᵣ —
    * UNNORMALIZED, so every value is an exact integer (the
    * per-round L2 normalization of textbook HITS is a positive
    * scalar: it never changes the RANKING, which is the quantity
    * consumers use, and dropping it removes the one float/sqrt step
    * that would break cross-engine exactness). Nodes with no
    * in-edges score auth 0; no out-edges, hub 0.
    *
    * Magnitudes grow ~(mean degree)^(2·rounds): with degree d and n
    * nodes the largest entry is bounded by n·d^(2·rounds), so Long
    * overflow needs d^(2·rounds) ≈ 9·10¹⁸/n — at web-graph degrees
    * run 2-3 rounds (the classic choice; convergence of the RANKING
    * is fast) or rescale between rounds upstream.
    *
    * Scale shape per round: one equi-join of the score table onto
    * the edge list on the scoring endpoint + one map-side-combinable
    * sum — same exchange profile as a PageRank round — then a
    * node-complete left join (broadcast-eligible censuses), state
    * localCheckpoint'd per round (the q47/q60 lineage lesson). No
    * windows, no driver-side state. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           rounds: Int, maxKernelEdges: Int = 4000000): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val pairs = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    // Size-routed (r19, the q105/q118 convention, through
    // [[DriverFold]]): up to `maxKernelEdges` RAW directed pairs the
    // integer recurrence runs as one driver-fold kernel (two long
    // arrays, O(m) per round — exact, since unnormalized HITS is pure
    // long addition); the dense index dedups the DIRECTED pairs as
    // given. Above the bound the declarative per-round join/agg plan
    // runs unchanged.
    val folded = DriverFold.edges(pairs, maxKernelEdges, dropDup = true)
    if (folded.isDefined) return hitsKernel(edges.sparkSession, folded.get, rounds)
    val e = pairs.distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    def complete(scores: DataFrame, c: String): DataFrame =
      nodes.join(scores, Seq("node"), "left")
        .select(col("node"), coalesce(col(c), lit(0L)).as(c))
        .localCheckpoint(true)
    var hub = nodes.withColumn("h", lit(1L))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to rounds) {
      auth = complete(
        e.join(hub.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst")).agg(sum(col("h")).as("a"))
          .select(col("dst").as("node"), col("a")), "a")
      hub = complete(
        e.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src")).agg(sum(col("a")).as("h"))
          .select(col("src").as("node"), col("h")), "h")
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Driver-fold HITS kernel: EXACTLY the declarative recurrence —
    * aᵣ(v) = Σ_{(u,v)∈E} hᵣ₋₁(u) then hᵣ(u) = Σ_{(u,v)∈E} aᵣ(v)
    * from h₀ = 1 over the deduped directed edge set, unnormalized
    * long arithmetic (associative/commutative, so the fold order
    * cannot change the result). O(m) per round on two long arrays;
    * emit via [[DriverFold.perNode]]. */
  private def hitsKernel(spark: org.apache.spark.sql.SparkSession,
                         g: DriverFold.Dense, rounds: Int): DataFrame = {
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    val m = eu.length
    var hub = Array.fill(n)(1L)
    var auth = new Array[Long](n)
    var r = 0
    while (r < rounds) {
      auth = new Array[Long](n)
      locally {
        var i = 0
        while (i < m) { auth(ev(i)) += hub(eu(i)); i += 1 }
      }
      hub = new Array[Long](n)
      locally {
        var i = 0
        while (i < m) { hub(eu(i)) += auth(ev(i)); i += 1 }
      }
      r += 1
    }
    DriverFold.perNode(spark, "node" -> nodes, "hub" -> hub, "auth" -> auth)
  }

  /** Fixed-point PageRank over an edge list, in scaled INTEGER
    * arithmetic: ranks are maintained as `rank * scale` longs and
    * every per-edge contribution is the floor division
    * `(dampNum * r(u)) div (dampDen * outdeg(u))`, so each
    * iteration is exact integer arithmetic end-to-end — sums are
    * order-independent, results are identical on any engine that
    * replays the recurrence (q60's DuckDB oracle unrolls it in
    * SQL), and no float summation ever enters the loop. The
    * float-rank formulation would tie the result to Spark's
    * nondeterministic aggregation order; the classic
    * fixed-point-arithmetic trade accepts ~1/scale rounding per
    * edge for bit-reproducibility.
    *
    * Semantics: nodes = distinct endpoints; initial rank
    * `scale div N`; per iteration
    * `r'(v) = base + sum over in-edges of contrib(u, v)` with
    * `base = ((dampDen - dampNum) * scale) div (dampDen * N)`.
    * Dangling nodes (no out-edges) leak their damped mass — the
    * simple-variant convention, documented rather than
    * redistributed; ranks are relative ordering scores, not a
    * probability simplex.
    *
    * Scale shape: the out-degree join is precomputed once onto the
    * edge list (static across iterations); each iteration is one
    * equi-join of the rank table onto that edge list (shuffle on
    * src) plus one map-side-combinable aggregation (shuffle on dst)
    * — the canonical distributed PageRank step. Rank state is
    * localCheckpoint'd per round: without the cut the logical plan
    * doubles every iteration (the q47 lesson). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000L,
               maxKernelEdges: Int = 4000000): DataFrame = {
    require(iters >= 0, "iters must be nonnegative")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen, "damping must be in [0, 1]")
    require(scale > 0, "scale must be positive")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // Size-routed (r19, the q105/q118 convention, through
    // [[DriverFold]]): up to `maxKernelEdges` RAW edge rows the
    // scaled-integer recurrence runs as one driver-fold kernel —
    // exact, because every step is long `div`/`+` whose fold order
    // cannot change the result. The kernel keeps multi-edges and
    // self-loops (out-degree and contribution are per-ROW in this
    // operator); no projection filters null endpoints here, so the
    // probe declines them to the declarative plan, whose join
    // semantics define them.
    val folded = DriverFold.edges(e, maxKernelEdges, dropDup = false)
    if (folded.isDefined)
      return pageRankKernel(edges.sparkSession, folded.get, iters, dampNum, dampDen, scale)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank_scaled", lit(0L))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Static across iterations: every edge already carries its
    // source's out-degree, so the loop never re-joins the degree
    // table.
    val edgesDeg = e.join(deg, "src").localCheckpoint(true)
    val base = ((dampDen - dampNum) * scale) / (dampDen * n)
    var ranks = nodes.withColumn("rank_scaled", lit(scale / n))
    for (i <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        // `div`, not `/`: Column./ on longs is DOUBLE division, which
        // would reintroduce the float rounding this operator exists
        // to avoid.
        .select(col("dst"),
          expr(s"($dampNum * rank_scaled) div ($dampDen * outdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("rank_scaled"))
      // Cut lineage every OTHER round (and always before returning):
      // the plan doubles per uncut round, so a cadence of 2 caps the
      // depth at two join/agg layers while halving the eager
      // materialization barriers — which, not data volume, dominate
      // wall time between checkpoints.
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Driver-fold PageRank kernel: EXACTLY the declarative scaled-
    * integer recurrence — init `scale div n`, per iteration
    * `r'(v) = base + Σ (dampNum·r(u)) div (dampDen·outdeg(u))` over
    * RAW edge rows (multi-edges and self-loops counted, dangling
    * nodes leak mass — the declarative semantics verbatim; all
    * operands are nonnegative, so Scala's truncating `/` IS SQL
    * `div`). O(m) per iteration on long arrays; emit via
    * [[DriverFold.perNode]]. */
  private def pageRankKernel(spark: org.apache.spark.sql.SparkSession,
                             g: DriverFold.Dense, iters: Int, dampNum: Long,
                             dampDen: Long, scale: Long): DataFrame = {
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    // An empty graph has no ranks (and no N to divide by).
    if (n == 0) return DriverFold.perNode(spark, "node" -> nodes, "rank_scaled" -> Array.emptyLongArray)
    val m = eu.length
    val outdeg = new Array[Long](n)
    locally {
      var i = 0
      while (i < m) { outdeg(eu(i)) += 1L; i += 1 }
    }
    val base = ((dampDen - dampNum) * scale) / (dampDen * n)
    var ranks = Array.fill(n)(scale / n)
    var it = 0
    while (it < iters) {
      val s = new Array[Long](n)
      var i = 0
      while (i < m) {
        s(ev(i)) += (dampNum * ranks(eu(i))) / (dampDen * outdeg(eu(i)))
        i += 1
      }
      var v = 0
      while (v < n) { s(v) += base; v += 1 }
      ranks = s
      it += 1
    }
    DriverFold.perNode(spark, "node" -> nodes, "rank_scaled" -> ranks)
  }

  /** Personalized PageRank / TrustRank (Gyöngyi et al.): the
    * [[pageRank]] recurrence with teleport restricted to a SEED set —
    * rank mass flows out from trusted nodes only, so the score reads
    * "how reachable from the whitelist", the standard spam/quality
    * signal over a crawl host graph (seed a few hand-vetted hosts,
    * damp trust along links, threshold the tail). Same integer
    * fixed-point arithmetic as [[pageRank]] (every step is exact
    * `div`/`sum` on scaled longs — deterministic, hash-gateable);
    * only the base term changes: `(1−d)·scale/|S|` on seeds, 0
    * elsewhere, initial mass `scale/|S|` on seeds. Seeds not present
    * in the graph are ignored (they can neither receive nor emit
    * mass); at least one must survive.
    *
    * Scale shape: identical to [[pageRank]] — edges carry their
    * out-degree once, each round is one equi-join + one
    * map-side-combinable sum, lineage cut every other round; the
    * seed flag is one keys-sized broadcast-eligible join, paid once
    * outside the loop. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String, iters: Int,
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           scale: Long = 1000000000000L,
                           maxKernelEdges: Int = 4000000): DataFrame = {
    require(iters >= 0, "iters must be nonnegative")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen, "damping must be in [0, 1]")
    require(scale > 0, "scale must be positive")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // Size-routed like [[pageRank]] (r19, through [[DriverFold]]):
    // the raw edge rows and the RAW seed column are each collected
    // under the same bound, and null edge endpoints or seeds decline
    // to the declarative plan. Seeds are deduped on the driver; raw
    // seeds over the bound route to the declarative plan, as
    // conservative as the edge bound. The seed-exists guard is
    // enforced identically on both routes.
    val folded = DriverFold.edges(e, maxKernelEdges, dropDup = false)
    if (folded.isDefined) {
      val seedIds = DriverFold.collect(
        seeds.select(col(seedCol).cast("long")), maxKernelEdges)
      if (seedIds.isDefined)
        return personalizedPageRankKernel(edges.sparkSession, folded.get,
          seedIds.get(0), iters, dampNum, dampDen, scale)
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val flagged = nodes.join(
        seeds.select(col(seedCol).cast("long").as("node")).distinct()
          .withColumn("__s", lit(1L)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      .localCheckpoint(true)
    val ns = flagged.filter(col("__s") === 1L).count()
    require(ns > 0, "personalizedPageRank: no seed node exists in the graph")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = e.join(deg, "src").localCheckpoint(true)
    val base = ((dampDen - dampNum) * scale) / (dampDen * ns)
    def seedTerm(perSeed: Long): Column =
      when(col("__s") === 1L, lit(perSeed)).otherwise(lit(0L))
    var ranks = flagged.select(col("node"),
      seedTerm(scale / ns).as("trust_scaled"))
    for (i <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr(s"($dampNum * trust_scaled) div ($dampDen * outdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = flagged
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (seedTerm(base) + coalesce(col("s"), lit(0L))).as("trust_scaled"))
      if (i % 2 == 0 || i == iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Driver-fold personalized-PageRank kernel: the [[pageRankKernel]]
    * recurrence with the seeded base — init `scale div ns` on seed
    * nodes (0 elsewhere), per iteration `t'(v) = (v seed ? base : 0)
    * + Σ (dampNum·t(u)) div (dampDen·outdeg(u))` — exactly the
    * declarative semantics, including the seed-must-exist guard. */
  private def personalizedPageRankKernel(spark: org.apache.spark.sql.SparkSession,
                                         g: DriverFold.Dense, seedIds: Array[Long],
                                         iters: Int, dampNum: Long, dampDen: Long,
                                         scale: Long): DataFrame = {
    val DriverFold.Dense(nodes, eu, ev) = g
    val n = nodes.length
    val m = eu.length
    val isSeed = new Array[Boolean](n)
    var ns = 0L
    locally {
      var i = 0
      while (i < seedIds.length) {
        val d = java.util.Arrays.binarySearch(nodes, seedIds(i))
        if (d >= 0 && !isSeed(d)) { isSeed(d) = true; ns += 1 }
        i += 1
      }
    }
    require(ns > 0, "personalizedPageRank: no seed node exists in the graph")
    val outdeg = new Array[Long](n)
    locally {
      var i = 0
      while (i < m) { outdeg(eu(i)) += 1L; i += 1 }
    }
    val base = ((dampDen - dampNum) * scale) / (dampDen * ns)
    var trust = Array.tabulate(n)(v => if (isSeed(v)) scale / ns else 0L)
    var it = 0
    while (it < iters) {
      val s = new Array[Long](n)
      var i = 0
      while (i < m) {
        s(ev(i)) += (dampNum * trust(eu(i))) / (dampDen * outdeg(eu(i)))
        i += 1
      }
      var v = 0
      while (v < n) { if (isSeed(v)) s(v) += base; v += 1 }
      trust = s
      it += 1
    }
    DriverFold.perNode(spark, "node" -> nodes, "trust_scaled" -> trust)
  }
}
