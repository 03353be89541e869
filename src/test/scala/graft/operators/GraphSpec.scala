package graft.operators

import graft.{PropSampling, SparkSuite}
import org.scalacheck.Gen

/** Differential gate for the fixed-point PageRank: the distributed
  * join/agg iteration must reproduce a sequential in-test walk of
  * the same integer recurrence exactly — no float tolerance, that
  * is the operator's whole contract. */
class GraphSpec extends SparkSuite {

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 10)   // node id space
    m <- Gen.chooseNum(1, 40)   // edges before dedup/self-loop drop
    es <- Gen.listOfN(m, for {
      s <- Gen.chooseNum(0L, n.toLong); t <- Gen.chooseNum(0L, n.toLong)
    } yield (s, t))
  } yield es.filter { case (s, t) => s != t }.distinct

  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.distinct.sorted
    if (nodes.isEmpty) return Map.empty
    val n = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (15L * scale) / (100L * n)
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 0 until iters) {
      val contribs = edges.groupBy(_._2).view.mapValues(_.map {
        case (s, _) => (85L * r(s)) / (100L * outdeg(s))
      }.sum).toMap
      r = nodes.map(v => v -> (base + contribs.getOrElse(v, 0L))).toMap
    }
    r
  }

  test("pageRank ≡ sequential integer recurrence on random graphs") {
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference(edges, iters = 4), s"pagerank diverged on $edges")
    }
  }

  test("rank mass never exceeds the initial scale (dangling mass only leaks)") {
    import spark.implicits._
    // A cycle plus a source node: every node has out-edges, so no
    // mass leaks — the sum stays at (or one floor-div ulp under)
    // the initial scale.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val ranks = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 6)
      .collect().map(_.getLong(1))
    assert(ranks.sum <= 1000000000000L, "mass grew above the simplex")
    assert(ranks.forall(_ > 0L), "every node keeps at least the teleport base")
  }

  /** Brute-force per-node triangle count over the canonical
    * undirected edge set. */
  private def triReference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ue = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = ue.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
    for {
      Seq(x, y, z) <- nodes.combinations(3)
      if ue.contains((x, y)) && ue.contains((x, z)) && ue.contains((y, z))
      n <- Seq(x, y, z)
    } counts(n) += 1L
    counts.toMap
  }

  test("triangleCount ≡ brute-force enumeration on random graphs; clust from exact pieces") {
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      val rows = Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst").collect()
      val expect = triReference(edges)
      val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expect, s"triangle census diverged on $edges")
      for (r <- rows) {
        val (deg, tri) = (r.getLong(1), r.getLong(2))
        if (deg >= 2)
          assert(r.getDouble(3) === (tri * 2L).toDouble / (deg * (deg - 1L)).toDouble)
        else assert(r.isNullAt(3), "clust must be null below degree 2")
      }
    }
  }

  test("triangleCount fixtures: K4 closes every corner, a path closes none, direction/dups don't matter") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = Graph.triangleCount(k4.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet === Set((1L, 3L, 3L, 1.0d), (2L, 3L, 3L, 1.0d),
      (3L, 3L, 3L, 1.0d), (4L, 3L, 3L, 1.0d)))
    // Reversed + duplicated edges canonicalize to the same census.
    val noisy = (k4 ++ k4.map(_.swap) ++ k4).toDF("src", "dst")
    assert(Graph.triangleCount(noisy, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet ===
      got.map(r => (r._1, r._3)).toSet)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Graph.triangleCount(path.toDF("src", "dst"), "src", "dst")
      .collect().forall(_.getLong(2) === 0L))
  }

  test("triangleCount kernel route ≡ declarative join route, row for row") {
    // The r18 size routing: maxKernelEdges = 0 forces the
    // declarative plan; the default routes small graphs through the
    // broadcast-CSR kernel. Same census, same clust doubles.
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 4) if edges.nonEmpty) {
      val df = edges.toDF("src", "dst")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      val viaKernel = Graph.triangleCount(df, "src", "dst").collect().map(key).toSet
      val viaJoins = Graph.triangleCount(df, "src", "dst", maxKernelEdges = 0)
        .collect().map(key).toSet
      assert(viaKernel === viaJoins, s"route divergence on $edges")
    }
  }

  test("r19 kernel routes ≡ declarative plans: kHopReach, hyperBall, hits, pageRank, PPR") {
    // maxKernelEdges = 0 forces each operator's declarative plan; the
    // default routes small graphs through the r19 driver-fold /
    // broadcast-CSR kernels. Every route pair must match row for row
    // — including doubles (hyperBall's finalize is shared code, so
    // bit-equality is the contract, not a tolerance).
    import spark.implicits._
    // Raw generator WITH self-loops and duplicates: pageRank/PPR count
    // both, so the kernels must reproduce them too.
    val rawGen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.chooseNum(2, 10)
      m <- Gen.chooseNum(1, 40)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0L, n.toLong); t <- Gen.chooseNum(0L, n.toLong)
      } yield (s, t))
    } yield es
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // The empty edge frame rides along as one more input on every route.
    for (edges <- PropSampling.sample(edgeGen, n = 4).filter(_.nonEmpty) :+ Seq.empty) {
      val df = edges.toDF("src", "dst")
      assert(rows(Graph.kHopReach(df, "src", "dst", k = 2)) ===
        rows(Graph.kHopReach(df, "src", "dst", k = 2, maxKernelEdges = 0)),
        s"kHopReach route divergence on $edges")
      assert(rows(Graph.hyperBall(df, "src", "dst", k = 2, p = 6)) ===
        rows(Graph.hyperBall(df, "src", "dst", k = 2, p = 6, maxKernelEdges = 0)),
        s"hyperBall route divergence on $edges")
      assert(rows(Graph.hits(df, "src", "dst", rounds = 2)) ===
        rows(Graph.hits(df, "src", "dst", rounds = 2, maxKernelEdges = 0)),
        s"hits route divergence on $edges")
      assert(rows(Graph.labelPropagation(df, "src", "dst", rounds = 2)) ===
        rows(Graph.labelPropagation(df, "src", "dst", rounds = 2, maxKernelEdges = 0)),
        s"labelPropagation route divergence on $edges")
    }
    for (edges <- PropSampling.sample(rawGen, n = 4).filter(_.nonEmpty) :+ Seq.empty) {
      val df = edges.toDF("src", "dst")
      assert(rows(Graph.pageRank(df, "src", "dst", iters = 3)) ===
        rows(Graph.pageRank(df, "src", "dst", iters = 3, maxKernelEdges = 0)),
        s"pageRank route divergence on $edges")
      val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.distinct
      val seeds = nodes.filter(_ % 2 == 0)
      if (seeds.nonEmpty) {
        val seedDf = seeds.toDF("node")
        assert(rows(Graph.personalizedPageRank(df, "src", "dst", seedDf, "node", iters = 3)) ===
          rows(Graph.personalizedPageRank(df, "src", "dst", seedDf, "node", iters = 3,
            maxKernelEdges = 0)),
          s"PPR route divergence on $edges seeds=$seeds")
      }
    }
  }

  test("both routes reject the same inputs and agree on empty and null-endpoint frames") {
    // Every routed operator runs twice per input — at its default
    // bound (the driver-fold kernel admits these toy graphs) and with
    // the kernel disabled — and both runs must end the same way: the
    // same rows, or an exception of the same class.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def outcome(run: => DataFrame): Either[Class[_], Set[Seq[Any]]] =
      try Right(run.collect().map(_.toSeq).toSet)
      catch { case e: Exception => Left(e.getClass) }
    def same(what: String)(viaDefault: => DataFrame,
                           viaDeclarative: => DataFrame): Either[Class[_], Set[Seq[Any]]] = {
      val (a, b) = (outcome(viaDefault), outcome(viaDeclarative))
      assert(a === b, s"$what: default bound gave $a, kernel disabled gave $b")
      a
    }
    def rejects(what: String)(viaDefault: => DataFrame, viaDeclarative: => DataFrame): Unit =
      assert(same(what)(viaDefault, viaDeclarative).isLeft, s"$what: accepted, expected a rejection")
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val off = 0
    // kHopReachAuto's exact route is declarative above the 4M-edge kernel bound.
    val exactDeclarative = 5000000L
    for (p <- Seq(2, 20)) {
      rejects(s"hyperBall p=$p")(Graph.hyperBall(g, "src", "dst", k = 2, p = p),
        Graph.hyperBall(g, "src", "dst", k = 2, p = p, maxKernelEdges = off))
      rejects(s"kHopReachAuto p=$p")(Graph.kHopReachAuto(g, "src", "dst", k = 2, p = p),
        Graph.kHopReachAuto(g, "src", "dst", k = 2, p = p, maxExactEdges = exactDeclarative))
    }
    rejects("hyperBall k=0")(Graph.hyperBall(g, "src", "dst", k = 0),
      Graph.hyperBall(g, "src", "dst", k = 0, maxKernelEdges = off))
    rejects("kHopReach k=0")(Graph.kHopReach(g, "src", "dst", k = 0),
      Graph.kHopReach(g, "src", "dst", k = 0, maxKernelEdges = off))
    rejects("kHopReachAuto k=0")(Graph.kHopReachAuto(g, "src", "dst", k = 0),
      Graph.kHopReachAuto(g, "src", "dst", k = 0, maxExactEdges = exactDeclarative))
    rejects("labelPropagation rounds=-1")(Graph.labelPropagation(g, "src", "dst", -1),
      Graph.labelPropagation(g, "src", "dst", -1, maxKernelEdges = off))
    for (r <- Seq(0, -1))
      rejects(s"hits rounds=$r")(Graph.hits(g, "src", "dst", r),
        Graph.hits(g, "src", "dst", r, maxKernelEdges = off))
    rejects("pageRank iters=-1")(Graph.pageRank(g, "src", "dst", -1),
      Graph.pageRank(g, "src", "dst", -1, maxKernelEdges = off))
    val seeds = Seq(1L).toDF("node")
    rejects("PPR iters=-1")(Graph.personalizedPageRank(g, "src", "dst", seeds, "node", -1),
      Graph.personalizedPageRank(g, "src", "dst", seeds, "node", -1, maxKernelEdges = off))
    for (d <- Seq(-1L, 101L)) {
      rejects(s"pageRank dampNum=$d")(Graph.pageRank(g, "src", "dst", 2, dampNum = d),
        Graph.pageRank(g, "src", "dst", 2, dampNum = d, maxKernelEdges = off))
      rejects(s"PPR dampNum=$d")(
        Graph.personalizedPageRank(g, "src", "dst", seeds, "node", 2, dampNum = d),
        Graph.personalizedPageRank(g, "src", "dst", seeds, "node", 2, dampNum = d,
          maxKernelEdges = off))
    }
    val absent = Seq(777L).toDF("node")
    rejects("PPR without a seed in the graph")(
      Graph.personalizedPageRank(g, "src", "dst", absent, "node", 2),
      Graph.personalizedPageRank(g, "src", "dst", absent, "node", 2, maxKernelEdges = off))
    rejects("connectedComponents maxIterations=0")(
      Dedup.connectedComponents(g, "src", "dst", maxIterations = 0),
      Dedup.connectedComponents(g, "src", "dst", maxIterations = 0, maxKernelEdges = off))

    // Empty frames, and rows with a null endpoint (which the
    // canonical projections drop and the pageRank / PPR / CC kernels
    // decline), on every routed operator.
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val nulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (Some(3L), Some(1L)), (None, None)).toDF("src", "dst")
    val nullSeeds = Seq[Option[Long]](Some(1L), None).toDF("node")
    for ((name, e) <- Seq("empty" -> empty, "null-endpoint" -> nulls)) {
      same(s"triangleCount $name")(Graph.triangleCount(e, "src", "dst"),
        Graph.triangleCount(e, "src", "dst", maxKernelEdges = off))
      same(s"labelPropagation $name")(Graph.labelPropagation(e, "src", "dst", 2),
        Graph.labelPropagation(e, "src", "dst", 2, maxKernelEdges = off))
      same(s"kHopReach $name")(Graph.kHopReach(e, "src", "dst", 2),
        Graph.kHopReach(e, "src", "dst", 2, maxKernelEdges = off))
      same(s"hyperBall $name")(Graph.hyperBall(e, "src", "dst", 2),
        Graph.hyperBall(e, "src", "dst", 2, maxKernelEdges = off))
      same(s"kHopReachAuto $name")(Graph.kHopReachAuto(e, "src", "dst", 2),
        Graph.kHopReachAuto(e, "src", "dst", 2, maxExactEdges = exactDeclarative))
      same(s"hits $name")(Graph.hits(e, "src", "dst", 2),
        Graph.hits(e, "src", "dst", 2, maxKernelEdges = off))
      same(s"pageRank $name")(Graph.pageRank(e, "src", "dst", 3),
        Graph.pageRank(e, "src", "dst", 3, maxKernelEdges = off))
      for (s <- Seq(seeds, nullSeeds))
        same(s"PPR $name")(Graph.personalizedPageRank(e, "src", "dst", s, "node", 3),
          Graph.personalizedPageRank(e, "src", "dst", s, "node", 3, maxKernelEdges = off))
      same(s"connectedComponents $name")(Dedup.connectedComponents(e, "src", "dst"),
        Dedup.connectedComponents(e, "src", "dst", maxKernelEdges = off))
    }
  }

  /** Sequential peel-to-fixpoint: the textbook k-core. */
  private def coreReference(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var ue = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = ue.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = ue.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != ue.size
      ue = next
    }
    ue.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= k)
  }

  test("kCoreFixpoint ≡ sequential peel; bounded kCore converges to it; survivors monotone") {
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty; k <- Seq(2, 3)) {
      val expect = coreReference(edges, k)
      val fix = Graph.kCoreFixpoint(edges.toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fix === expect, s"fixpoint core diverged on $edges k=$k")
      // Enough rounds = fixpoint (peel depth ≤ node count).
      val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
      val bounded = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bounded === expect, s"bounded peel with ample rounds missed the fixpoint on $edges")
      // Zero rounds = plain degree filter; more rounds never grows it.
      val r0 = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds = 0).count()
      val r1 = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds = 1).count()
      assert(r0 >= r1 && r1 >= fix.size.toLong, "peel must shrink monotonically to the core")
      // Textbook property: the core's induced degrees all meet k.
      assert(expect.values.forall(_ >= k))
    }
  }

  test("a sink-heavy graph still terminates with base ranks downstream") {
    import spark.implicits._
    // 1 -> 2, 2 dangles: after one iteration 2 holds base + damped
    // share of 1; 1 holds only base (nothing points at it).
    val got = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === reference(Seq((1L, 2L)), iters = 3))
    assert(got(2L) > got(1L), "the pointed-at node must outrank its source")
  }

  /** Sequential replay of synchronous LPA: every node simultaneously
    * adopts the most frequent neighbor label, ties to the smallest. */
  private def lpaReference(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val ue = edges.map { case (s, t) => (math.min(s, t), math.max(s, t)) }
      .filter(e => e._1 != e._2).distinct
    val adj = (ue ++ ue.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val census = nbrs.map(labels).groupBy(identity).view.mapValues(_.size)
        n -> census.toSeq.map { case (l, c) => (-c, l) }.min._2
      }
    }
    labels
  }

  test("labelPropagation ≡ sequential synchronous replay on random graphs") {
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      for (rounds <- Seq(0, 1, 3)) {
        val got = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === lpaReference(edges, rounds),
          s"LPA diverged on $edges rounds=$rounds")
      }
    }
  }

  test("kHopReach ≡ BFS ball sizes on random graphs; k=1 is the degree census") {
    import spark.implicits._
    def balls(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val ue = edges.map { case (s, t) => (math.min(s, t), math.max(s, t)) }
        .filter(e => e._1 != e._2).distinct
      val adj = (ue ++ ue.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      adj.keys.map { n =>
        var ball = Set(n)
        for (_ <- 1 to k) ball = ball ++ ball.flatMap(adj.getOrElse(_, Set.empty))
        n -> (ball.size - 1).toLong // exclude self
      }.toMap
    }
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      for (k <- Seq(1, 2, 3)) {
        val got = Graph.kHopReach(edges.toDF("src", "dst"), "src", "dst", k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === balls(edges, k), s"k-hop reach diverged on $edges k=$k")
      }
    }
    // a path graph pins the ball growth exactly: 0-1-2-3-4 at k=2
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.kHopReach(path.toDF("src", "dst"), "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 3L, 4L -> 2L))
  }

  test("hyperBall ≡ HLL of the exact BFS ball, register-for-register; monotone in k") {
    import spark.implicits._
    def balls(edges: Seq[(Long, Long)], k: Int): Map[Long, Set[Long]] = {
      val ue = edges.map { case (s, t) => (math.min(s, t), math.max(s, t)) }
        .filter(e => e._1 != e._2).distinct
      val adj = (ue ++ ue.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      adj.keys.map { n =>
        var ball = Set(n)
        for (_ <- 1 to k) ball = ball ++ ball.flatMap(adj.getOrElse(_, Set.empty))
        n -> ball
      }.toMap
    }
    val p = 6
    val m = 1 << p
    val scaleExp = 60 - p + 1
    for (edges <- PropSampling.sample(edgeGen, n = 4) if edges.nonEmpty) {
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // (reg, rho) per id through the SAME kernels the operator uses
      import org.apache.spark.sql.functions.col
      val regOf = ids.toDF("node")
        .select(col("node"), Sketches.hllRegister(col("node"), p).as("reg"),
          Sketches.hllRank(col("node"), p).as("rho"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2).toLong))).toMap
      for (k <- Seq(1, 2)) {
        val expect = balls(edges, k).map { case (n, ball) =>
          val regs = ball.toSeq.map(regOf).groupBy(_._1)
            .view.mapValues(_.map(_._2).max).toMap
          val s = regs.values.map(r => 1L << (scaleExp - r)).sum +
            (m - regs.size).toLong * (1L << scaleExp)
          val est = Sketches.hllAlpha(p) * m * m /
            (s.toDouble / (1L << scaleExp).toDouble)
          n -> ((regs.size.toLong, s, est))
        }
        val got = Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", k, p)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        assert(got === expect, s"hyperball diverged on $edges k=$k")
      }
      // register maxima only grow with k, so estimates never shrink
      val e1 = Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", 1, p)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val e2 = Graph.hyperBall(edges.toDF("src", "dst"), "src", "dst", 2, p)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(e1.keySet === e2.keySet)
      assert(e1.keys.forall(n => e2(n) >= e1(n)), "ball estimate shrank as k grew")
    }
  }

  test("kHopReachAuto routes: exact census under the bound, HyperBall-derived above it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L), (1L, 3L))
    val df = edges.toDF("src", "dst")
    // under the bound: bit-identical to the exact operator
    val exact = Graph.kHopReach(df, "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val autoSmall = Graph.kHopReachAuto(df, "src", "dst", 2, maxExactEdges = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(autoSmall === exact)
    // above the bound: same (node, n_reach) schema, values are the
    // HyperBall estimate minus self, rounded half-up
    val routed = Graph.kHopReachAuto(df, "src", "dst", 2, p = 6, maxExactEdges = 2L)
    assert(routed.columns.toSeq === Seq("node", "n_reach"))
    val est = Graph.hyperBall(df, "src", "dst", 2, 6)
      .select(col("node"), col("ball_estimate"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = routed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === est.keySet)
    for ((n, v) <- got)
      assert(v === math.floor(est(n) - 0.5).toLong, s"routed estimate diverged at node $n")
  }

  test("hits ≡ sequential integer recurrence on random digraphs; star fixture") {
    import spark.implicits._
    def reference(edges: Seq[(Long, Long)], rounds: Int): Map[Long, (Long, Long)] = {
      val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.distinct
      var h = nodes.map(_ -> 1L).toMap
      var a = nodes.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        a = nodes.map(v => v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap
        h = nodes.map(u => u -> edges.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      }
      nodes.map(v => v -> (h(v), a(v))).toMap
    }
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty;
         rounds <- Seq(1, 2)) {
      val got = Graph.hits(edges.toDF("src", "dst"), "src", "dst", rounds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === reference(edges, rounds), s"hits diverged on $edges rounds=$rounds")
    }
    // Star u->{1,2,3}: u is the only hub, leaves the only authorities.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val got = Graph.hits(star.toDF("src", "dst"), "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a1(leaf)=1, h1(0)=3, a2(leaf)=3, h2(0)=9; leaves hub 0, center auth 0.
    assert(got(0L) === ((9L, 0L)), got.toString)
    assert(Seq(1L, 2L, 3L).forall(got(_) == ((0L, 3L))), got.toString)
  }

  test("personalizedPageRank ≡ seeded sequential recurrence; all-seeds ≡ pageRank; guards") {
    import spark.implicits._
    val scale = 1000000000000L
    def reference(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
      val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.distinct.sorted
      val inGraph = seeds.intersect(nodes.toSet)
      val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val base = (15L * scale) / (100L * inGraph.size)
      var r = nodes.map(v => v -> (if (inGraph(v)) scale / inGraph.size else 0L)).toMap
      for (_ <- 0 until iters) {
        val contribs = edges.groupBy(_._2).view.mapValues(_.map {
          case (s, _) => (85L * r(s)) / (100L * outdeg(s))
        }.sum).toMap
        r = nodes.map(v => v ->
          ((if (inGraph(v)) base else 0L) + contribs.getOrElse(v, 0L))).toMap
      }
      r
    }
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      val nodes = edges.flatMap { case (s, t) => Seq(s, t) }.distinct
      // Seed every third node, plus one id guaranteed outside the
      // graph — the op must ignore it.
      val seeds = nodes.filter(_ % 3 == 0).toSet + 999L
      if (seeds.exists(nodes.contains)) {
        val got = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
            seeds.toSeq.toDF("node"), "node", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === reference(edges, seeds, iters = 3), s"ppr diverged on $edges")
      }
    }
    // Seeding EVERY node degenerates to plain PageRank exactly.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 0L))
    val all = edges.flatMap { case (s, t) => Seq(s, t) }.distinct
    val ppr = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        all.toDF("node"), "node", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr === pr)
    // No seed in the graph fails fast.
    val e = intercept[IllegalArgumentException](
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq(777L).toDF("node"), "node", iters = 2))
    assert(e.getMessage.contains("seed"))
  }

  test("linkPrediction ≡ brute force; adjacent pairs excluded; degree cap drops hub wedges") {
    import spark.implicits._
    for (edges <- PropSampling.sample(edgeGen, n = 6) if edges.nonEmpty) {
      val ue = edges.map { case (s, t) => (math.min(s, t), math.max(s, t)) }.distinct
      val nbrs = (ue.map(e => e._1 -> e._2) ++ ue.map(e => e._2 -> e._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nodes = nbrs.keySet.toSeq.sorted
      val expected = (for {
        a <- nodes; b <- nodes if a < b && !nbrs(a).contains(b)
        cn = (nbrs(a) & nbrs(b)).size.toLong if cn > 0
      } yield (a, b, cn,
        cn.toDouble / (nbrs(a).size.toDouble + nbrs(b).size.toDouble - cn.toDouble))).toSet
      val got = Graph.linkPrediction(edges.toDF("src", "dst"), "src", "dst")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === expected, s"link prediction diverged on $edges")
    }
    // Hub cap: star 0->{1..5} plus 1-2; with maxDegree below the
    // hub's degree only wedges through low-degree midpoints survive.
    val star = (1L to 5L).map(l => (0L, l)) :+ (1L, 2L)
    val capped = Graph.linkPrediction(star.toDF("src", "dst"), "src", "dst",
        maxDegree = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // midpoints 1 and 2 (degree 2) give only the (0,2)/(0,1) wedges —
    // both adjacent — so nothing is emitted; the uncapped run emits
    // every leaf pair through the hub.
    assert(capped.isEmpty, capped.toString)
    val uncapped = Graph.linkPrediction(star.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === (for (a <- 1L to 5L; b <- a + 1 to 5L
      if !(a == 1L && b == 2L)) yield (a, b)).toSet)
  }

  test("labelPropagation: two disjoint cliques each converge to their minimum id") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L))
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(got(_) == 0L), s"first clique: $got")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), s"second clique: $got")
  }

  test("adamicAdar: rare shared neighbor outweighs a hub; exact fixed-point values") {
    import spark.implicits._
    // Hub h=100 links a,b,c,d (deg 4 → flog2q 32); rare r=200 links
    // a,b (deg 2 → flog2q 16). Pair (a,b) shares BOTH; (c,d) only h.
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 1L), (200L, 2L)).toDF("src", "dst")
    val got = Graph.adamicAdar(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got((1L, 2L)) === ((2L, (1 << 24) / 32 + (1 << 24) / 16)),
      s"a-b via hub+rare: ${got((1L, 2L))}")
    assert(got((3L, 4L)) === ((1L, (1 << 24) / 32)), s"c-d via hub only")
    assert(got((1L, 2L))._2 > 2L * got((3L, 4L))._2,
      "the rare neighbor must dominate the hub")
    // Existing edges never predicted.
    assert(!got.contains((1L, 100L)) && !got.contains((1L, 200L)))
  }
}
