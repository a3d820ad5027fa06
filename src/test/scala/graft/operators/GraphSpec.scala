package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Properties of the graph-analytics suite at sf0.001, checked against
  * independent Scala-side brute-force computations on the collected
  * (small) edge set — the census and rank claims are verified, not
  * assumed.
  */
class GraphSpec extends SparkSpec {

  private def edgeSet(): Set[(Long, Long)] =
    Dedup.minhashLshPairs(spark, Sf).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("triangle census matches a brute-force count; wedges match degrees") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val nodes = deg.keySet
    // brute-force triangles: ordered node triples with all three edges
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val bruteTri = e.toSeq.map { case (a, b) =>
      (adjOf(a) intersect adjOf(b)).count(c => c > b)
    }.sum.toLong
    val bruteWedges = deg.values.map(d => d * (d - 1) / 2).sum
    val row = Graph.triangleCensus(spark, Sf).collect().head
    assert(row.getAs[Long]("n_nodes") === nodes.size.toLong)
    assert(row.getAs[Long]("n_edges") === e.size.toLong)
    assert(row.getAs[Long]("n_wedges") === bruteWedges)
    assert(row.getAs[Long]("n_triangles") === bruteTri)
    val cc = row.getAs[Double]("global_clustering")
    assert(cc >= 0.0 && cc <= 1.0)
    // degree distribution covers every node exactly once
    val dist = Graph.degreeDistribution(spark, Sf).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    assert(dist.values.sum === nodes.size.toLong)
    assert(dist === deg.values.groupBy(identity).map { case (d, xs) =>
      d -> xs.size.toLong
    })
  }

  test("sampled triangle census: deterministic, consistent with the " +
    "sparsified subgraph, estimate near the exact count") {
    val s1 = Graph.triangleSample(spark, Sf).collect()(0)
    val s2 = Graph.triangleSample(spark, Sf).collect()(0)
    assert(s1 === s2, "hash-keyed sampling must be deterministic")
    val exact = Graph.triangleCensus(spark, Sf).collect()(0)
    // sparsification shrinks every census quantity
    assert(s1.getAs[Long]("n_edges") < exact.getAs[Long]("n_edges"))
    assert(s1.getAs[Long]("n_triangles") < exact.getAs[Long]("n_triangles"))
    // p=1/2 keeps roughly half the edges (hash60 is uniform; generous
    // 10-sigma-ish slack so corpus regeneration cannot flake this)
    val (kept, all) = (s1.getAs[Long]("n_edges"), exact.getAs[Long]("n_edges"))
    assert(math.abs(kept - all / 2.0) < 0.1 * all,
      s"kept $kept of $all edges — coin badly biased")
    // est = sampled * keepMod^3, integer-exact
    assert(s1.getAs[Long]("est_triangles") ===
      s1.getAs[Long]("n_triangles") * 8L)
    // DOULION concentration on this triangle-rich graph: the estimate
    // lands near the exact census (1.2% off on the current fixture; the
    // 30% bound is the honest statistical envelope, not the typical)
    val (est, t) = (s1.getAs[Long]("est_triangles"), exact.getAs[Long]("n_triangles"))
    assert(math.abs(est - t.toDouble) <= 0.3 * t,
      s"DOULION estimate $est too far from exact $t")
  }

  test("pagerank: mass conserved, positive, matches brute-force iteration") {
    val e = edgeSet()
    val und = (e ++ e.map { case (a, b) => (b, a) }).toSeq
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    val n = deg.size
    def round8(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    var pr: Map[Long, Double] = deg.map { case (k, _) => k -> round8(1.0 / n) }
    for (_ <- 1 to 3) {
      // contributions summed via BigDecimal — mirrors the engine's
      // DECIMAL(27,10) order-independent partials
      val in = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          java.math.BigDecimal.valueOf(pr(src) / deg(src))
            .setScale(10, java.math.RoundingMode.HALF_UP)
        }.reduce(_ add _)
      }
      pr = deg.map { case (k, _) =>
        k -> round8(0.15 / n + 0.85 * in(k).doubleValue())
      }
    }
    val got = Graph.pageRank(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("degree"),
        r.getAs[Double]("pr")))
    assert(got.length === n)
    got.foreach { case (id, d, p) =>
      assert(d === deg(id).toLong)
      assert(math.abs(p - pr(id)) < 1e-9, s"node $id: engine $p vs ref ${pr(id)}")
      assert(p > 0.0)
    }
    val mass = got.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"pagerank mass $mass drifted from 1")
  }

  /** Brute-force trajectory: iterate the spec's own reference PageRank
    * (BigDecimal contributions, round8 iterates — the same mirror the
    * pagerank test uses) and record (max, L1) deltas per iteration. */
  private def bruteTrajectory(iters: Int): Seq[(Double, Double)] = {
    val e = edgeSet()
    val und = (e ++ e.map { case (a, b) => (b, a) }).toSeq
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    val n = deg.size
    def round8(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    var pr: Map[Long, Double] = deg.map { case (k, _) => k -> round8(1.0 / n) }
    (1 to iters).map { _ =>
      val in = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          java.math.BigDecimal.valueOf(pr(src) / deg(src))
            .setScale(10, java.math.RoundingMode.HALF_UP)
        }.reduce(_ add _)
      }
      val next: Map[Long, Double] = deg.map { case (k, _) =>
        k -> round8(0.15 / n + 0.85 * in(k).doubleValue())
      }
      val ds = deg.keys.toSeq.map(k => round8(math.abs(next(k) - pr(k))))
      val l1 = ds.map(java.math.BigDecimal.valueOf)
        .reduce(_ add _).doubleValue()
      pr = next
      (ds.max, round8(l1))
    }
  }

  test("pagerank trajectory matches brute-force deltas and declines") {
    val ref = bruteTrajectory(5)
    val got = Graph.pageRankTrajectory(spark, Sf).collect()
      .map(r => r.getAs[Long]("iter") ->
        (r.getAs[Double]("max_delta"), r.getAs[Double]("l1_delta")))
      .sortBy(_._1)
    assert(got.map(_._1) === (1L to 5L))
    got.foreach { case (i, (md, l1)) =>
      val (rm, rl) = ref(i.toInt - 1)
      assert(math.abs(md - rm) < 1e-9, s"iter $i max_delta $md vs ref $rm")
      assert(math.abs(l1 - rl) < 1e-9, s"iter $i l1_delta $l1 vs ref $rl")
    }
    // the power iteration contracts on this graph: max_delta declines
    val mds = got.map(_._2._1)
    assert(mds.zip(mds.tail).forall { case (a, b) => b < a },
      s"max_delta not strictly declining: ${mds.mkString(", ")}")
  }

  test("convergence-driven pagerank stops at the trajectory's first " +
    "sub-eps iteration and equals the fixed unroll there") {
    val traj = Graph.pageRankTrajectory(spark, Sf).collect()
      .map(r => r.getAs[Long]("iter") -> r.getAs[Double]("max_delta"))
      .sortBy(_._1).map(_._2)
    // pick an eps that lands the stop strictly inside [2, 5): between
    // the 3rd and 4th max_delta (strictly declining per the test above)
    val eps = (traj(2) + traj(3)) / 2.0
    val expectIters = traj.indexWhere(_ < eps) + 1
    val conv = Graph.pageRankConverged(spark, Sf, eps = eps, maxIters = 20)
    val rows = conv.collect()
    assert(rows.head.getAs[Long]("n_iters") === expectIters.toLong)
    assert(math.abs(rows.head.getAs[Double]("final_max_delta")
      - traj(expectIters - 1)) < 1e-9)
    // the converged iterate IS the fixed unroll at that depth,
    // bit-identical rank for rank
    val fixed = Graph.pageRank(spark, Sf, iters = expectIters).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("pr"))).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("pr") === fixed(r.getAs[Long]("doc_id")))
    }
    // a generous eps stops after one iteration; a starved cap obeys it
    assert(Graph.pageRankConverged(spark, Sf, eps = 1.0, maxIters = 20)
      .collect().head.getAs[Long]("n_iters") === 1L)
    assert(Graph.pageRankConverged(spark, Sf, eps = 1e-12, maxIters = 2)
      .collect().head.getAs[Long]("n_iters") === 2L)
  }

  test("k-core: cascading peel reaches the clique; registered rounds converge") {
    import spark.implicits._
    // 4-clique {1,2,3,4}; node 7 starts at degree 3 but its neighbors
    // 5, 6, 8 are leaves — the peel must CASCADE (round 1 drops the
    // leaves, round 2 drops 7) before it stabilizes on the clique
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 7L), (6L, 7L), (7L, 8L))
      .toDF("a", "b")
    val got = Graph.kCoreFrom(e, k = 3, rounds = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_deg")).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint within the registered rounds: one more peel changes nothing
    val more = Graph.kCoreFrom(e, k = 3, rounds = 9).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_deg")).toMap
    assert(more === got)
    // k above the clique degree empties the core
    assert(Graph.kCoreFrom(e, k = 4, rounds = 8).count() === 0L)
    // the registered query also sits at its fixpoint on the harness graph
    val reg = Graph.kCore(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("core_deg")).toMap
    reg.values.foreach(d => assert(d >= 3L, "non-core node survived the peel"))
  }

  test("k-truss: triangle-support peel keeps the clique, drops pendant " +
    "triangles and cascades through shared edges") {
    import spark.implicits._
    // 5-clique {1..5} (every edge in 3 triangles), a pendant triangle
    // {10,11,12} (each edge in exactly 1), and a two-triangle strip
    // 20-21-22-23 whose shared edge (21,22) starts at support 2 but
    // must CASCADE out in round 2 once its side edges drop
    val clique = (xs: Seq[Long]) =>
      for (i <- xs.indices; j <- i + 1 until xs.size) yield (xs(i), xs(j))
    val e = (clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L), (21L, 23L), (22L, 23L)))
      .toDF("a", "b").localCheckpoint(true)
    val t4 = Graph.kTrussFrom(e, k = 4, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4.keySet === clique(Seq(1L, 2L, 3L, 4L, 5L)).toSet,
      s"4-truss should be exactly the 5-clique, got ${t4.keySet}")
    assert(t4.values.forall(_ === 3L), "every clique edge sits in 3 triangles")
    // one more round changes nothing: the clique is a fixpoint
    val t4b = Graph.kTrussFrom(e, k = 4, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4b === t4)
    // k=3 (support >= 1) keeps every triangle, including the strip
    val t3 = Graph.kTrussFrom(e, k = 3, rounds = 2).collect()
    assert(t3.length === 18, s"3-truss keeps all triangle edges, got ${t3.length}")
    // k above the clique's support empties the graph
    assert(Graph.kTrussFrom(e, k = 6, rounds = 2).count() === 0L)
    // truss <= core: surviving truss nodes are a subset of the 3-core
    val trussNodes = t4.keySet.flatMap { case (a, b) => Set(a, b) }
    val coreNodes = Graph.kCoreFrom(e, k = 3, rounds = 8).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(trussNodes.subsetOf(coreNodes))
    // registered query well-formed on the harness graph
    val reg = Graph.kTruss(spark, Sf).collect()
    assert(reg.nonEmpty && reg.forall(_.getAs[Long]("support") >= 0L))
  }

  test("label propagation: bridge-joined cliques split where CC lumps; " +
    "labels refine within components; brute-force round parity") {
    import spark.implicits._
    // two 4-cliques {1..4} and {11..14} joined by one bridge edge 4-11:
    // CC sees one component; LPA separates the two dense families
    val clique = (xs: Seq[Long]) =>
      for (i <- xs.indices; j <- i + 1 until xs.size) yield (xs(i), xs(j))
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L))).toDF("a", "b")
    val got = Graph.labelPropagationFrom(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    assert(Set(1L, 2L, 3L).map(got) === Set(got(1L)), "left clique split")
    assert(Set(12L, 13L, 14L).map(got) === Set(got(12L)), "right clique split")
    assert(got(1L) !== got(12L), "LPA failed to separate bridge-joined cliques")
    // harness graph: synchronous-LPA brute force in Scala agrees exactly
    val es = edgeSet()
    val und = es ++ es.map { case (a, b) => (b, a) }
    val nbrs = und.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSeq }
    var lab: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4)
      lab = nbrs.map { case (n, ns) =>
        val votes = (ns.map(lab) :+ lab(n)).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    val engine = Graph.labelPropagation(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine === lab, "engine labels diverge from synchronous reference")
    // labels never cross connected components
    val comp = Dedup.dupClusters(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    engine.groupBy { case (n, l) => l }.foreach { case (_, members) =>
      val comps = members.keys.map(comp).toSet
      assert(comps.size === 1, s"community spans components: $comps")
    }
  }

  test("adamic-adar: matches brute-force scores; no existing edge leaks; " +
    "ranked by the total order") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    // brute-force AA with the engine's exact arithmetic: per-wedge weight
    // round12(1/ln(deg(u))), BigDecimal sum, round6 — hub centers excluded
    val maxDeg = 64
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    def r(d: Double, sc: Int) = java.math.BigDecimal.valueOf(d)
      .setScale(sc, java.math.RoundingMode.HALF_UP)
    val acc = collection.mutable.Map[(Long, Long), (java.math.BigDecimal, Long)]()
    for ((u, nbrs) <- adjOf if deg(u) >= 2 && deg(u) <= maxDeg) {
      val w = r(1.0 / math.log(deg(u).toDouble), 12)
      val sorted = nbrs.toSeq.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.size) {
        val key = (sorted(i), sorted(j))
        val (s0, c0) = acc.getOrElse(key, (java.math.BigDecimal.ZERO, 0L))
        acc(key) = (s0 add w, c0 + 1L)
      }
    }
    val brute = acc.toSeq
      .filterNot { case ((x, y), _) => e.contains((x, y)) }
      .map { case ((x, y), (s, c)) =>
        (x, y, r(s.doubleValue(), 6).doubleValue(), c)
      }
      .sortBy { case (x, y, sc, _) => (-sc, x, y) }
      .take(50)
    val got = Graph.adamicAdar(spark, Sf).collect()
      .map(row => (row.getAs[Long]("doc_a"), row.getAs[Long]("doc_b"),
        row.getAs[Double]("aa_score"), row.getAs[Long]("n_common")))
    assert(got.length === brute.length)
    got.zip(brute).foreach { case (g, b) =>
      assert(g === b, s"engine $g vs brute-force $b")
    }
    // predicted pairs are genuinely non-adjacent
    got.foreach { case (a, b, _, _) => assert(!e.contains((a, b))) }
  }

  test("jaccard neighbors: matches brute-force capped-wedge scores; no " +
    "existing edge leaks; scores within (0, 1]") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val maxDeg = 64
    // common-neighbor counts via capped centers (deg(u) <= maxDeg),
    // union denominator via FULL degrees — the operator's contract
    val acc = collection.mutable.Map[(Long, Long), Long]()
    for ((u, nbrs) <- adjOf if deg(u) >= 2 && deg(u) <= maxDeg) {
      val sorted = nbrs.toSeq.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.size) {
        val key = (sorted(i), sorted(j))
        acc(key) = acc.getOrElse(key, 0L) + 1L
      }
    }
    val brute = acc.toSeq
      .filterNot { case ((x, y), _) => e.contains((x, y)) }
      .map { case ((x, y), c) =>
        (x, y, r6(c.toDouble / (deg(x) + deg(y) - c)), c)
      }
      .sortBy { case (x, y, sc, _) => (-sc, x, y) }
      .take(50)
    val got = Graph.jaccardNeighbors(spark, Sf).collect()
      .map(row => (row.getAs[Long]("doc_a"), row.getAs[Long]("doc_b"),
        row.getAs[Double]("nbr_jaccard"), row.getAs[Long]("n_common")))
    assert(got.length === brute.length)
    got.zip(brute).foreach { case (g, b) =>
      assert(g === b, s"engine $g vs brute-force $b")
    }
    got.foreach { case (a, b, sc, _) =>
      assert(!e.contains((a, b)))
      assert(sc > 0.0 && sc <= 1.0)
    }
  }

  test("rich club: density among deg>k nodes matches brute force across " +
    "all thresholds; phi within [0, 1]") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val brute = Seq(2, 4, 8, 16, 32).map { k =>
      val rich = deg.filter(_._2 > k).keySet
      val nk = rich.size.toLong
      val ek = e.count { case (a, b) => rich(a) && rich(b) }.toLong
      (k.toLong, nk, ek,
        if (nk >= 2) r6(ek * 2.0 / (nk * (nk - 1))) else 0.0)
    }
    val got = Graph.richClub(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq === brute)
    got.foreach { case (_, _, _, phi) => assert(phi >= 0.0 && phi <= 1.0) }
  }

  test("coreness round: value-grouped h-index equals the per-row " +
    "definition on tie-heavy neighbor multisets") {
    // Focused pin for the r17 round rework (value-grouped counts in
    // place of a per-row rank window): a synthetic graph whose degree
    // multisets are adversarial for value grouping — a 6-clique (all
    // neighbor values tied), a 20-leaf star (one huge value among
    // many 1s, h capped by the count side), a chain (h capped by the
    // value side), and bridges mixing them. Brute force computes
    // h(multiset) = max h s.t. |{v >= h}| >= h directly per round.
    val clique = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val star = (8L to 27L).map(l => (7L, l))
    val chain = Seq((28L, 29L), (29L, 30L))
    val bridges = Seq((6L, 7L), (27L, 28L), (1L, 30L))
    val e = (clique ++ star ++ chain ++ bridges).toSeq
    val df = spark.createDataFrame(e).toDF("a", "b")
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    def hIndex(vals: Seq[Long]): Long = {
      val sorted = vals.sorted(Ordering[Long].reverse)
      sorted.zipWithIndex.map { case (v, i) => math.min(v, i + 1L) }
        .foldLeft(0L)(math.max)
    }
    var ref: Map[Long, Long] = adjOf.map { case (n, ns) => n -> ns.size.toLong }
    for (r <- 1 to 3) {
      ref = adjOf.map { case (n, ns) => n -> hIndex(ns.map(ref)) }
      val got = Graph.corenessFrom(df.localCheckpoint(true), r).collect()
        .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("coreness")).toMap
      assert(got === ref, s"round $r")
    }
  }

  test("coreness: iterated h-index equals brute-force sequential peel; " +
    "registered rounds are a fixpoint; consistent with the k-core") {
    val e = edgeSet()
    // brute-force core numbers: repeatedly peel the minimum-degree node
    val adjOf = collection.mutable.Map[Long, collection.mutable.Set[Long]]()
    for ((a, b) <- e) {
      adjOf.getOrElseUpdate(a, collection.mutable.Set()) += b
      adjOf.getOrElseUpdate(b, collection.mutable.Set()) += a
    }
    val core = collection.mutable.Map[Long, Long]()
    var k = 0L
    while (adjOf.nonEmpty) {
      val (v, nbrs) = adjOf.minBy { case (n, ns) => (ns.size, n) }
      k = math.max(k, nbrs.size.toLong)
      core(v) = k
      nbrs.foreach(u => adjOf.get(u).foreach(_ -= v))
      adjOf -= v
    }
    val got = Graph.coreness(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("coreness")))).toMap
    assert(got.keySet === core.keySet)
    got.foreach { case (v, (deg, c)) =>
      assert(c === core(v), s"node $v: engine coreness $c vs peel ${core(v)}")
      assert(c >= 1L && c <= deg)
    }
    // the registered 8 rounds are a fixpoint on this graph: one more
    // round moves nothing
    val extra = Graph.coreness(spark, Sf, rounds = 9).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("coreness")).toMap
    assert(extra === got.map { case (v, (_, c)) => v -> c })
    // decomposition vs membership: coreness >= 3 is exactly the 3-core
    val inKCore = Graph.kCore(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got.filter(_._2._2 >= 3L).keySet === inKCore)
  }

  test("personalized pagerank matches brute-force restart iteration; " +
    "orbit bounded by hop distance from seeds") {
    def refHash60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def round8(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()
    val e = edgeSet()
    val und = (e ++ e.map { case (a, b) => (b, a) }).toSeq
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size }
    val seeds = deg.keySet.filter(n => refHash60(n.toString) % 16 == 0)
    assert(seeds.nonEmpty, "fixture graph must contain seed nodes")
    val ns = seeds.size
    var pr: Map[Long, Double] = deg.map { case (k, _) =>
      k -> (if (seeds(k)) round8(1.0 / ns) else 0.0)
    }
    for (_ <- 1 to 3) {
      val in = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          java.math.BigDecimal.valueOf(pr(src) / deg(src))
            .setScale(10, java.math.RoundingMode.HALF_UP)
        }.reduce(_ add _)
      }
      pr = deg.map { case (k, _) =>
        k -> round8((if (seeds(k)) 0.15 / ns else 0.0) +
          0.85 * in.get(k).map(_.doubleValue()).getOrElse(0.0))
      }
    }
    val expected = pr.filter(_._2 > 0.0)
    val got = Graph.personalizedPageRank(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_seed"),
        r.getAs[Double]("pr")))
    assert(got.length === expected.size,
      s"orbit size ${got.length} vs brute-force ${expected.size}")
    got.foreach { case (id, isSeed, p) =>
      assert(isSeed === seeds(id))
      assert(math.abs(p - expected(id)) < 1e-9,
        s"node $id: engine $p vs ref ${expected(id)}")
    }
    // every orbit member is within 3 hops of a seed (BFS bound)
    val adjm = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var frontier = seeds; var reach = seeds
    for (_ <- 1 to 3) {
      frontier = frontier.flatMap(adjm(_)) -- reach
      reach = reach ++ frontier
    }
    got.foreach { case (id, _, _) =>
      assert(reach(id), s"node $id has mass but is > 3 hops from any seed")
    }
  }

  test("random walks replay a brute-force hash-argmin trace; shape bounds hold") {
    def refHash60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val e = edgeSet()
    val adj = (e ++ e.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSeq.sorted }
    val steps = 3
    // brute-force trace: argmin over neighbors of the seeded hash, tie by id
    val expected = adj.keys.flatMap { start =>
      var cur = start
      (0 to steps).map { t =>
        if (t > 0)
          cur = adj(cur).minBy(d => (refHash60(s"$start#w$t#$d"), d))
        (start, t, cur)
      }
    }.toSet
    val got = Graph.randomWalks(spark, Sf, steps).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expected, "engine walks diverge from the brute-force trace")
    // shape: exactly steps+1 positions per start; every transition is an edge
    assert(got.size === adj.size * (steps + 1))
    val byStart = got.groupBy(_._1)
    byStart.values.foreach(w => assert(w.size === steps + 1))
    byStart.foreach { case (_, pos) =>
      val path = pos.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach {
        case Seq(u, v) => assert(adj(u).contains(v), s"non-edge $u -> $v")
        case _ => ()
      }
    }
  }
  test("random walks: the keyed-adjacency posture (above-bar fallback) " +
    "traces the identical walk set as the broadcast-frontier default") {
    // both postures (keyed-adjacency SMJ = the default at the fixture
    // and the 100x path, broadcast frontier) must trace bit-identical
    // walks (join-strategy policy, never a result change). minEdges = 0
    // makes the fixture "big"; maxNodes then picks broadcast vs keyed.
    val steps = 3
    def rows(maxNodes: Long, minEdges: Long) =
      Graph.randomWalks(spark, Sf, steps, maxNodes, minEdges).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val small = rows(Long.MaxValue, Long.MaxValue)
    assert(rows(Long.MaxValue, 0L) === small,
      "broadcast-posture walks diverge from the small-graph SMJ walks")
    assert(rows(0L, 0L) === small,
      "keyed-posture walks diverge from the small-graph SMJ walks")
  }

  test("local clustering: matches brute-force per-node triangle counts " +
    "and coefficients; triangle-free nodes present with cc 0") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val deg = adjOf.map { case (n, ns) => n -> ns.size.toLong }
    // brute-force per-node triangle count: closed neighbor pairs
    val triOf = adjOf.map { case (n, ns) =>
      val s = ns.toSeq.sorted
      n -> s.combinations(2).count {
        case Seq(x, y) => adjOf(x).contains(y)
        case _ => false
      }.toLong
    }
    val got = Graph.localClustering(spark, Sf).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Double]("local_cc")))
    }.toMap
    assert(got.keySet === deg.keySet, "every graph node must appear")
    got.foreach { case (n, (d, t, cc)) =>
      assert(d === deg(n))
      assert(t === triOf(n), s"node $n triangle count")
      val expCc = if (d >= 2) BigDecimal(2.0 * t / (d * (d - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      assert(math.abs(cc - expCc) < 1e-9, s"node $n cc $cc vs $expCc")
      assert(cc >= 0.0 && cc <= 1.0)
    }
    // consistency with the census: per-node counts triple-count triangles
    val census = Graph.triangleCensus(spark, Sf).collect().head
    assert(got.values.map(_._2).sum === 3L * census.getAs[Long]("n_triangles"))
  }

  test("approximate local clustering: matches brute force on the coin-kept " +
    "subgraph scaled by keepMod^3, normalized by TRUE degree; deterministic; " +
    "error-audit bands partition the node set with consistent moments") {
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val degFull = und.groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).toSet.size.toLong }
    // brute-force triangles of the deterministically sparsified subgraph
    val kept = e.filter { case (a, b) => h60(s"$a|$b") % 2 == 0 }
    val kund = kept ++ kept.map { case (a, b) => (b, a) }
    val kadj = kund.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val triOf = kadj.map { case (n, ns) =>
      n -> ns.toSeq.sorted.combinations(2).count {
        case Seq(x, y) => kadj(x).contains(y)
        case _ => false
      }.toLong
    }
    def run() = Graph.clusteringApprox(spark, Sf).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("est_triangles"),
          r.getAs[Double]("est_cc")))
    }.toMap
    val got = run()
    assert(got.keySet === degFull.keySet, "every FULL-graph node must appear")
    got.foreach { case (n, (d, est, cc)) =>
      assert(d === degFull(n), s"node $n must carry its TRUE degree")
      val t = triOf.getOrElse(n, 0L)
      assert(est === t * 8L, s"node $n estimate must be kept-count * 8")
      val expCc = if (d >= 2) BigDecimal(2.0 * t * 8.0 / (d * (d - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      assert(math.abs(cc - expCc) < 1e-9, s"node $n est_cc $cc vs $expCc")
    }
    assert(run() === got, "hash-keyed sparsification must be deterministic")
    // aggregate unbiasedness signal: total estimate lands near the exact
    // 3x triangle mass (the DOULION concentration bound on this
    // triangle-rich fixture; 30% is the honest envelope)
    val exact3T = 3L * Graph.triangleCensus(spark, Sf).collect()
      .head.getAs[Long]("n_triangles")
    val estTot = got.values.map(_._2).sum
    assert(math.abs(estTot - exact3T.toDouble) <= 0.3 * exact3T,
      s"total estimate $estTot too far from exact $exact3T")
    // error audit: bands partition the node set, moments are consistent
    val err = Graph.clusteringApproxError(spark, Sf).collect()
    assert(err.map(_.getAs[Long]("deg_band")).distinct.length === err.length)
    assert(err.map(_.getAs[Long]("n_nodes")).sum === degFull.size.toLong)
    err.foreach { r =>
      assert(r.getAs[Double]("mae") >= math.abs(r.getAs[Double]("bias")) - 1e-9)
      assert(r.getAs[Double]("max_abs_err") >= r.getAs[Double]("mae") - 1e-9)
    }
  }

  test("eigenvector centrality: matches brute-force power iteration; " +
    "mass normalized; concentrates above uniform on the densest family") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSeq }
    val nodes = adjOf.keySet.toSeq.sorted
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    var x = nodes.map(_ -> r8(1.0 / nodes.size)).toMap
    for (_ <- 1 to 3) {
      val sums = nodes.map { n =>
        // DECIMAL(27,10) partial sums: exact on 8-dp inputs at this scale
        n -> adjOf(n).map(u => BigDecimal(x(u)).setScale(10)).sum
      }.toMap
      val tot = sums.values.sum
      x = nodes.map(n => n -> r8((sums(n) / tot).toDouble)).toMap
    }
    val got = Graph.eigenCentrality(spark, Sf).collect().map { r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("centrality")
    }.toMap
    assert(got.keySet === adjOf.keySet)
    got.foreach { case (n, c) =>
      assert(math.abs(c - x(n)) < 1e-9, s"node $n centrality $c vs ${x(n)}")
    }
    // normalized: totals 1 up to per-node rounding
    val tot = got.values.sum
    assert(math.abs(tot - 1.0) < 1e-4, s"mass $tot")
    // structure signal: non-uniform — the top node strictly beats the
    // uniform start (only a regular graph would stay flat)
    assert(got.values.max > 1.0 / nodes.size)
    assert(got.values.max > got.values.min)
  }

  test("local clustering: sequential pass decomposition is result-invisible " +
    "(forced multi-pass equals the one-shot plan row for row)") {
    val e = Dedup.minhashLshPairs(spark, Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    val oneShot = Graph.localClusteringFrom(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // bar of 100 edges forces many hash-disjoint passes on the fixture
    val multi = Graph.localClusteringFrom(e, passEdges = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(multi === oneShot)
    assert(oneShot.nonEmpty)
  }

  test("local clustering: the above-bar SMJ+keyed-adjacency posture " +
    "(broadcast bar forced to 0, multi-pass) equals the broadcast plan " +
    "row for row") {
    val e = Dedup.minhashLshPairs(spark, Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    def rows(bcastBar: Long, passBar: Long) =
      Graph.localClusteringFrom(e, passEdges = passBar,
          bcastMaxEdges = bcastBar).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    // bcast bar 0 = the 100x posture: adjacency stored keyed on node,
    // pass joins SMJ against it; combined with a forced multi-pass
    // split so the keyed side is probed repeatedly
    val keyed = rows(0L, 100L)
    assert(keyed === rows(Long.MaxValue, Long.MaxValue),
      "keyed-adjacency posture must not move any local_cc row")
    assert(keyed.nonEmpty)
  }

  test("local clustering: an above-bar result built before a call on " +
    "another graph still reads its own graph when collected") {
    // a returned plan must not read state a later call replaces: build
    // both results first (bar 0 = the SMJ posture), THEN collect
    val e1 = Dedup.minhashLshPairs(spark, Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    val e2 = e1.filter(col("a") % 3 =!= 0).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val alone1 = rows(Graph.localClusteringFrom(e1, bcastMaxEdges = 0L))
    val alone2 = rows(Graph.localClusteringFrom(e2, bcastMaxEdges = 0L))
    assert(alone1 !== alone2, "the two graphs must differ")
    val first = Graph.localClusteringFrom(e1, bcastMaxEdges = 0L)
    val second = Graph.localClusteringFrom(e2, bcastMaxEdges = 0L)
    assert(rows(first) === alone1,
      "the first result changed after a later call on another graph")
    assert(rows(second) === alone2)
  }

  test("above-bar walks, local clustering and chunked lsh tuning leave " +
    "no tables, session conf or warehouse directories behind") {
    val orderingConf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    def whDirs =
      if (!fs.exists(wh)) Set.empty[String]
      else fs.listStatus(wh).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
    val tables0 = tables
    val dirs0 = whDirs
    Graph.randomWalks(spark, Sf, 3, 0L, 0L).collect()
    Graph.localClusteringFrom(Dedup.minhashLshPairs(spark, Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true), bcastMaxEdges = 0L).collect()
    Dedup.lshTuningCurve(spark, Sf, verifyPairsPerPass = 40000L).collect()
    assert(tables === tables0, "an operator registered a table")
    assert(!spark.conf.getAll.contains(orderingConf),
      s"an operator set $orderingConf on the session")
    assert(whDirs === dirs0, "an operator left a warehouse directory")
  }

  test("census and k-truss pass decomposition is result-invisible " +
    "(forced multi-pass equals the one-shot plans row for row)") {
    val e = Dedup.minhashLshPairs(spark, Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true)
    val c1 = Graph.censusOf(e).collect().head
    val cN = Graph.censusOf(e, passEdges = 100L).collect().head
    assert(cN.toSeq === c1.toSeq, "census must not depend on the pass split")
    val t1 = Graph.kTrussFrom(e, 4, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val tN = Graph.kTrussFrom(e, 4, 2, passEdges = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tN === t1, "k-truss must not depend on the pass split")
    assert(t1.nonEmpty)
  }

  test("hits: matches brute-force hub/authority iteration on the oriented " +
    "pair list; scores normalized; edgeless sides exactly zero") {
    val e = edgeSet() // already oriented doc_a < doc_b
    val outOf = e.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSeq }
    val inOf = e.groupBy(_._2).map { case (n, es) => n -> es.map(_._1).toSeq }
    val nodes = (outOf.keySet ++ inOf.keySet).toSeq.sorted
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to 3) {
      val sa = inOf.map { case (n, srcs) =>
        n -> srcs.map(u => BigDecimal(hub.getOrElse(u, 0.0)).setScale(10)).sum
      }
      val ta = sa.values.sum
      auth = sa.map { case (n, v) => n -> r8((v / ta).toDouble) }
      val sh = outOf.map { case (n, dsts) =>
        n -> dsts.map(v => BigDecimal(auth.getOrElse(v, 0.0)).setScale(10)).sum
      }
      val th = sh.values.sum
      hub = sh.map { case (n, v) => n -> r8((v / th).toDouble) }
    }
    val got = Graph.hits(spark, Sf).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
          r.getAs[Double]("hub"), r.getAs[Double]("authority")))
    }.toMap
    assert(got.keySet === nodes.toSet)
    nodes.foreach { n =>
      val (od, id, h, a) = got(n)
      assert(od === outOf.getOrElse(n, Seq.empty).size.toLong)
      assert(id === inOf.getOrElse(n, Seq.empty).size.toLong)
      assert(math.abs(h - hub.getOrElse(n, 0.0)) < 1e-9, s"node $n hub $h")
      assert(math.abs(a - auth.getOrElse(n, 0.0)) < 1e-9, s"node $n auth $a")
      // a node that never points (or is never pointed at) scores EXACTLY 0
      if (od === 0L) assert(h === 0.0)
      if (id === 0L) assert(a === 0.0)
    }
    // both score vectors are L1-normalized up to per-node rounding
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-4)
    // the direction carries signal: hub and authority rankings differ
    // somewhere (the oriented dedup graph is not perfectly symmetric)
    val topHub = got.maxBy(_._2._3)._1
    val topAuth = got.maxBy(_._2._4)._1
    assert(topHub != topAuth || got(topHub)._3 != got(topHub)._4)
  }

  test("modularity: per-community contributions match a brute-force mirror " +
    "over the spec-trusted LPA labels; Q bounded") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val m = e.size.toDouble
    val labels = Graph.labelPropagation(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byC = labels.groupBy(_._2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = byC.map { case (c, members) =>
      val nodes = members.keySet
      val degSum = nodes.toSeq.map(deg).sum
      val intra = e.count { case (a, b) => nodes(a) && nodes(b) }
      c -> ((nodes.size.toLong, degSum, intra.toLong,
        r6(intra / m - (degSum / (2 * m)) * (degSum / (2 * m)))))
    }
    val got = Graph.modularity(spark, Sf).collect().map { r =>
      r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("deg_sum"),
          r.getAs[Long]("intra_edges"), r.getAs[Double]("contribution")))
    }.toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (c, (nn, ds, ie, q)) =>
      val (gn, gd, gi, gq) = got(c)
      assert(gn === nn); assert(gd === ds); assert(gi === ie)
      assert(math.abs(gq - q) < 1e-9, s"community $c contribution $gq vs $q")
    }
    // Q = sum of contributions is a modularity: within [-1, 1], and on a
    // clique-structured dedup graph decisively positive
    val q = got.values.map(_._4).sum
    assert(q > 0.0 && q <= 1.0, s"Q=$q")
  }

  test("assortativity equals the brute-force degree Pearson; within [-1, 1]") {
    val e = edgeSet()
    val und = (e ++ e.map { case (a, b) => (b, a) }).toSeq
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val pairs = und.map { case (a, b) => (deg(a).toDouble, deg(b).toDouble) }
    val n = pairs.size.toDouble
    val mj = pairs.map(_._1).sum / n
    val mk = pairs.map(_._2).sum / n
    val num = pairs.map(p => p._1 * p._2).sum / n - mj * mk
    val den = math.sqrt(pairs.map(p => p._1 * p._1).sum / n - mj * mj) *
      math.sqrt(pairs.map(p => p._2 * p._2).sum / n - mk * mk)
    val want = num / den
    val row = Graph.assortativity(spark, Sf).collect().head
    assert(row.getAs[Long]("n_directed_edges") === und.size.toLong)
    val got = row.getAs[Double]("assortativity")
    assert(math.abs(got - want) < 1e-6, s"assortativity $got vs $want")
    assert(got >= -1.0 && got <= 1.0)
  }

  test("betweenness matches a brute-force hop-bounded Brandes sweep from " +
    "the 8 smallest doc ids; unreached nodes exactly zero") {
    val H = 3
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val allNodes = adjOf.keySet
    val seeds = graft.sources.Tables.documents(spark, Sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.take(8)
    def r(x: Double, sc: Int): Double =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bAcc = scala.collection.mutable.Map.empty[Long, BigDecimal]
    for (s0 <- seeds) {
      // forward layers with exact sigma
      var layers = Vector(Map(s0 -> 1L))
      var visited = Set(s0)
      for (_ <- 1 to H) {
        val nxt = scala.collection.mutable.Map.empty[Long, Long]
        layers.last.foreach { case (v, sig) =>
          adjOf.getOrElse(v, Set.empty).filterNot(visited).foreach { w =>
            nxt(w) = nxt.getOrElse(w, 0L) + sig
          }
        }
        visited ++= nxt.keySet
        layers :+= nxt.toMap
      }
      // backward sweep: delta over layers H-1..1, deepest delta = 0
      var delta = layers(H).map { case (v, _) => v -> 0.0 }
      for (h <- (H - 1) to 1 by -1) {
        delta = layers(h).map { case (v, sig) =>
          val c = adjOf(v).toSeq
            .filter(w => layers(h + 1).contains(w))
            .map { w =>
              BigDecimal(r(sig.toDouble / layers(h + 1)(w)
                * (1.0 + delta(w)), 12)).setScale(12)
            }.sum
          v -> r(c.toDouble, 8)
        }
        delta.foreach { case (v, d) =>
          bAcc(v) = bAcc.getOrElse(v, BigDecimal(0)) +
            BigDecimal(d).setScale(10)
        }
      }
      // deepest layer contributes its zeros (kept for exactness parity)
      layers(H).keys.foreach(v =>
        bAcc(v) = bAcc.getOrElse(v, BigDecimal(0)))
    }
    val want = allNodes.map(v =>
      v -> r(bAcc.getOrElse(v, BigDecimal(0)).toDouble, 6)).toMap
    val got = Graph.betweenness(spark, Sf).collect()
      .map(r0 => r0.getAs[Long]("doc_id") -> r0.getAs[Double]("betweenness"))
      .toMap
    assert(got.keySet === allNodes)
    want.foreach { case (v, b) =>
      assert(math.abs(got(v) - b) < 1e-9, s"node $v betweenness ${got(v)} vs $b")
    }
    // brokerage exists on the fixture: someone is strictly positive
    assert(got.values.max > 0.0)
  }

  test("bfs distance equals brute-force BFS from the 8 smallest doc ids") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val seeds = graft.sources.Tables.documents(spark, Sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.take(8).toSet
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (h <- 1 to 3) {
      val next = frontier.flatMap(n => adjOf.getOrElse(n, Set.empty[Long])) -- dist.keySet
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    val got = Graph.bfsDistance(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hops")).toMap
    assert(got === dist)
    // seeds always present at hops 0; at least one node beyond the seed set
    seeds.foreach(sd => assert(got(sd) === 0L))
    assert(got.size > seeds.size, "no near-dup reachability found at all")
  }

  test("harmonic centrality: equals a per-seed BFS mirror with the " +
    "engine's rounding; unreachable nodes report zero") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val nodes = adjOf.keySet
    val seeds = graft.sources.Tables.documents(spark, Sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.take(8)
    // per-seed BFS distances (hop-bounded 3) over the graph
    val distFrom = seeds.map { s =>
      var dist = Map(s -> 0L); var frontier = Set(s)
      for (h <- 1 to 3) {
        val next = frontier.flatMap(n => adjOf.getOrElse(n, Set.empty[Long])) --
          dist.keySet
        dist ++= next.map(_ -> h.toLong); frontier = next
      }
      dist
    }
    def r12(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    val want = nodes.map { v =>
      val terms = distFrom.flatMap(_.get(v)).filter(_ > 0)
      v -> ((terms.size.toLong,
        terms.map(h => r12(1.0 / h)).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
    }.toMap
    val got = Graph.harmonicCentrality(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_sources_reached"), r.getAs[Double]("harmonic"))))
      .toMap
    assert(got.keySet === nodes)
    want.foreach { case (v, w) =>
      assert(got(v) === w, s"node $v: engine ${got(v)} vs mirror $w")
    }
    // a seed inside the graph reaches itself at distance 0 — never
    // counted; someone must be reachable or the fixture graph is broken
    assert(got.values.map(_._1).max > 0L)
  }

  test("closeness sketch: per-node estimates track the exact telescoped " +
    "harmonic; corpus mass tight; totality over graph nodes") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val nodes = adjOf.keySet
    // exact hop-bounded balls and the telescoped harmonic per node
    val exact = nodes.map { v =>
      var ball = Set(v); var frontier = Set(v)
      val sizes = Seq(1) ++ (1 to 4).map { _ =>
        val next = frontier.flatMap(adjOf(_)) -- ball
        ball ++= next; frontier = next
        ball.size
      }
      val harm = (1 to 4).map(h => (sizes(h) - sizes(h - 1)).toDouble / h).sum
      v -> ((sizes(4).toDouble, harm))
    }.toMap
    val got = Graph.closenessSketch(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("est_ball"), r.getAs[Double]("est_harmonic"))))
      .toMap
    assert(got.keySet === nodes)
    // per-node: the 64-register sketch's ball and telescoped-delta
    // noise envelopes (generous — exact cross-engine value parity is
    // the DuckDB twin's job, accuracy-vs-truth is this one's)
    var sumEst = 0.0; var sumExact = 0.0
    got.foreach { case (v, (ball, harm)) =>
      val (exBall, exHarm) = exact(v)
      assert(math.abs(ball - exBall) / exBall <= 0.30,
        s"node $v: ball $ball vs exact $exBall")
      assert(math.abs(harm - exHarm) <= math.max(0.75, 0.35 * exHarm),
        s"node $v: harmonic $harm vs exact $exHarm")
      assert(harm >= 0.0)
      sumEst += harm; sumExact += exHarm
    }
    // corpus-level mass: per-node noise largely averages out
    assert(math.abs(sumEst - sumExact) / sumExact <= 0.15,
      s"corpus harmonic mass: est $sumEst vs exact $sumExact")
    // isolated-in-sketch sanity: a node with no neighbors would not be
    // in the pair graph at all, so every row should carry SOME mass
    assert(got.values.count(_._2 > 0.0) === nodes.size)
  }

  test("hyperball: estimated neighborhood function tracks the exact " +
    "BFS ball sums; curve shape and effective-diameter flag are sound") {
    val e = edgeSet()
    val und = e ++ e.map { case (a, b) => (b, a) }
    val adjOf = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val nodes = adjOf.keySet
    // exact N(h) = Σ_v |B(v, h)| by per-node BFS (fixture-sized graphs only)
    val maxHops = 4
    val exact = (0 to maxHops).map { h =>
      h -> nodes.toSeq.map { v =>
        var ball = Set(v); var frontier = Set(v)
        for (_ <- 1 to h) {
          val next = frontier.flatMap(adjOf(_)) -- ball
          ball ++= next; frontier = next
        }
        ball.size.toLong
      }.sum
    }.toMap
    val got = Graph.hyperBall(spark, Sf).collect()
      .map(r => r.getAs[Long]("hops") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Double]("pairs_est"),
          r.getAs[Double]("avg_ball"), r.getAs[Double]("reached_frac"),
          r.getAs[Boolean]("is_eff_diameter")))).toMap
    assert(got.keySet === (0 to maxHops).map(_.toLong).toSet)
    // node count is exact at every hop; the estimate stays within the
    // 64-register error envelope of the true ball mass. Tolerance note:
    // ±1.04/√64 ≈ 13% is the PER-SKETCH std error, and within one
    // near-dup component every saturated ball shares the same register
    // content, so component errors are perfectly correlated and do NOT
    // cancel in the corpus sum — 25% is the honest fixture bound (the
    // measured fixture error is ~14% at hop 1); exact cross-engine
    // value parity is pinned by the DuckDB twin, not this envelope.
    (0 to maxHops).foreach { h =>
      val (n, est, avg, _, _) = got(h.toLong)
      assert(n === nodes.size.toLong)
      val rel = math.abs(est - exact(h)) / exact(h).toDouble
      assert(rel <= 0.25, s"hop $h: est $est vs exact ${exact(h)} (rel $rel)")
      assert(math.abs(avg - est / n) < 1e-3)
    }
    // hop 0 sits in the deep linear-counting regime (1 element in a
    // 64-register sketch): per-node estimate 64·ln(64/63) ≈ 1.0079
    assert(math.abs(got(0L)._2 - exact(0)) / exact(0).toDouble <= 0.02,
      s"hop 0 drifted: ${got(0L)._2} vs ${exact(0)}")
    // curve: nondecreasing (registers only grow) up to rounding slack,
    // supremum fraction reaches exactly 1.0
    val ests = (0 to maxHops).map(h => got(h.toLong)._2)
    ests.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a * 0.98, s"ball mass shrank: $a -> $b")
    }
    assert(got.values.map(_._4).max === 1.0)
    // exactly one effective-diameter row: the FIRST hop reaching 90%
    val effRows = got.filter(_._2._5).keys.toSeq
    assert(effRows.size === 1)
    val eff = effRows.head
    got.foreach { case (h, (_, _, _, frac, _)) =>
      if (h < eff) assert(frac < 0.9) else if (h == eff) assert(frac >= 0.9)
    }
  }
}
