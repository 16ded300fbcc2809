package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("extractLinkEdges: real hrefs only, duplicates kept, external " +
      "links dropped") {
    val pages = Seq(
      (1L, """<a href="doc_000002.html">x</a> <a href="doc_000002.html">y</a>
             |<a href="https://example.com/out">ext</a>""".stripMargin),
      (2L, """no links here"""),
    ).toDF("doc_id", "html")
    val edges = GraphOps.extractLinkEdges(pages, "doc_id", "html")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(edges == Seq((1L, 2L), (1L, 2L)))
  }

  test("pageRankInt: matches a hand-computed integer iteration, " +
      "deterministic across partitioning") {
    // 1 → 2, 1 → 3, 2 → 3, 3 → 1 ; n = 3, total 9e8 → r0 = 3e8 each
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r1 = GraphOps.pageRankInt(edges, iters = 1,
      totalPpb = 900000000L)
      .as[(Long, Long)].collect().toMap
    // base = (9e8 - 9e8*850/1000)/3 = 135e6/3 = 45e6
    // contribs: node1 deg2 → 15e8e... r0=3e8: c1 = 3e8 div 2 = 15e7 to
    // {2,3}; c2 = 3e8 to 3; c3 = 3e8 to 1
    // r1(1) = 45e6 + 850*3e8 div 1000 = 45e6 + 255e6 = 3e8
    // r1(2) = 45e6 + 850*15e7 div 1000 = 45e6 + 1275e5 = 172500000
    // r1(3) = 45e6 + 850*(15e7 + 3e8) div 1000 = 45e6 + 3825e5 = 427500000
    assert(r1 == Map(1L -> 300000000L, 2L -> 172500000L,
      3L -> 427500000L))
    val r3a = GraphOps.pageRankInt(edges, iters = 3,
      totalPpb = 900000000L).as[(Long, Long)].collect().toMap
    val r3b = GraphOps.pageRankInt(edges.repartition(7), iters = 3,
      totalPpb = 900000000L).as[(Long, Long)].collect().toMap
    assert(r3a == r3b)
    // rank mass stays bounded by the total (dangling-free graph loses
    // only div-truncation ppb)
    assert(r3a.values.sum <= 900000000L)
    intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(edges, iters = 0)
    }
  }

  test("hitsInt: hand-computed two iterations, duplicate edges " +
      "collapse (0/1 adjacency), deterministic across partitioning") {
    // 1 → 3, 2 → 3, 3 → 1 (plus a duplicate 1 → 3 that must NOT
    // double node 3's endorsement); n = 3, total 9e8 → h0 = 3e8 each.
    // iter1: a' = (1:3e8, 2:0, 3:6e8), Σ=9e8 → a unchanged;
    //        h' = (1:6e8, 2:6e8, 3:3e8), Σ=15e8 →
    //        h = (3.6e8, 3.6e8, 1.8e8)
    // iter2: a' = (1:1.8e8, 2:0, 3:7.2e8), Σ=9e8 → a unchanged;
    //        h' = (7.2e8, 7.2e8, 1.8e8), Σ=16.2e8 → (4e8, 4e8, 1e8)
    val edges = Seq((1L, 3L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val out = GraphOps.hitsInt(edges, iters = 2, totalPpb = 900000000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 180000000L, 400000000L),
      (2L, 0L, 400000000L),
      (3L, 720000000L, 100000000L)))
    val again = GraphOps
      .hitsInt(edges.repartition(7), iters = 2, totalPpb = 900000000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == out)
    intercept[IllegalArgumentException] {
      GraphOps.hitsInt(edges, iters = 0)
    }
  }

  test("triangleCounts: K4 plus a pendant — per-node counts, zeros " +
      "included, duplicates/reversals/self-loops ignored") {
    // K4 on {1,2,3,4} has 4 triangles, each node in exactly 3;
    // node 5 hangs off node 1 (degree 1, 0 triangles); noise rows:
    // a reversed duplicate, an exact duplicate, and a self-loop.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L),
      (3L, 2L),  // reversed duplicate of (2,3)
      (1L, 2L),  // exact duplicate
      (4L, 4L),  // self-loop
    ).toDF("src", "dst")
    val out = GraphOps.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
    // total triangles = Σ per-node / 3
    assert(out.values.sum / 3 == 4L)
    // deterministic under partitioning
    val again = GraphOps.triangleCounts(edges.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("labelPropagation: two bridged triangles settle into two " +
      "min-label communities; a lone edge oscillates and reports it") {
    // triangles {1,2,3} and {4,5,6} bridged by 3–4: hand-replayed
    // synchronous rounds converge by round 4 to labels 1 and 3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, rounds = 4)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.view.mapValues(_._1).toMap == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(out.values.forall(_._2), "round 4 == round 3 here")
    // synchronous LPA on a single edge swaps labels forever — the
    // converged flag must say so instead of pretending
    val osc = GraphOps.labelPropagation(
      Seq((7L, 8L)).toDF("src", "dst"), rounds = 3)
      .as[(Long, Long, Boolean)].collect()
    assert(osc.forall(!_._3))
    // deterministic under partitioning
    val again = GraphOps.labelPropagation(edges.repartition(7), 4)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == out)
  }

  test("kCorePeel: pendant chain cascades off a triangle, converged " +
      "flag reports the fixpoint, bounded rounds report not-converged") {
    // triangle {1,2,3} (each deg 2) + chain 3-4-5: deg(4)=2 but both
    // neighbors peel-dependent — at k=2: round 1 drops 5 (deg 1),
    // round 2 drops 4 (its surviving deg fell to 1), triangle stays.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = GraphOps.kCorePeel(edges, k = 2, rounds = 4)
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.view.mapValues(_._1).toMap == Map(
      1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
    assert(out.values.forall(_._2), "4 rounds reach the fixpoint")
    // a 1-round peel is NOT converged (round 2 still drops node 4)
    val bounded = GraphOps.kCorePeel(edges, k = 2, rounds = 1)
      .as[(Long, Boolean, Boolean)].collect()
    assert(bounded.forall(!_._3), "round 1 must report not-converged")
    assert(bounded.filter(_._1 == 4L).head._2, "4 survives round 1")
    // k above the max degree empties the graph and converges
    val empty = GraphOps.kCorePeel(edges, k = 10, rounds = 3)
      .as[(Long, Boolean, Boolean)].collect()
    assert(empty.forall(r => !r._2 && r._3))
  }

  test("kCorePeel: driver-local short-circuit equals the forced " +
      "distributed path (driverCap = -1) — hand case, bounded case, " +
      "random graph, rounds executed") {
    import java.util.concurrent.atomic.AtomicInteger
    def run(edges: org.apache.spark.sql.DataFrame, k: Int, rounds: Int,
        cap: Long): (Map[Long, (Boolean, Boolean)], Int) = {
      val c = new AtomicInteger(-1)
      val m = GraphOps.kCorePeel(edges, k, rounds, Some(c), driverCap = cap)
        .as[(Long, Boolean, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      (m, c.get())
    }
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    for ((k, rounds) <- Seq((2, 4), (2, 1), (10, 3))) {
      val (dm, dr) = run(hand, k, rounds, cap = GraphOps.DriverKCoreCap)
      val (xm, xr) = run(hand, k, rounds, cap = -1L)
      assert(dm == xm, s"k=$k rounds=$rounds")
      assert(dr == xr, s"rounds executed diverged at k=$k rounds=$rounds")
    }
    // pseudo-random multigraph with duplicate + reversed + self edges
    // (the canonicalization is upstream of the gate — both paths must
    // see the same simple graph)
    val rnd = (1 to 400).map { i =>
      val a = (i * 7919L) % 37; val b = (i * 104729L) % 37
      (a, b)
    }
    val rndDf = (rnd ++ rnd.map(_.swap)).toDF("src", "dst")
    val (dm, dr) = run(rndDf, k = 4, rounds = 6,
      cap = GraphOps.DriverKCoreCap)
    val (xm, xr) = run(rndDf, k = 4, rounds = 6, cap = -1L)
    assert(dm == xm)
    assert(dr == xr)
    assert(dm.nonEmpty)
  }

  test("pageRankInt / personalizedPageRankInt / labelPropagation: " +
      "driver-local gates are BIT-identical to the forced-distributed " +
      "loops (driverCap = -1) — integer arithmetic, random multigraph") {
    val rnd = (1 to 500).map { i =>
      ((i * 7919L) % 41, (i * 104729L) % 41)
    }.filter { case (a, b) => a != b }
    val edges = (rnd ++ rnd.take(90)).toDF("src", "dst") // dup edges kept
    def prMap(cap: Long) = GraphOps.pageRankInt(edges, iters = 3,
        driverCap = cap)
      .as[(Long, Long)].collect().toMap
    assert(prMap(graft.ops.DriverGate.EdgeCap) == prMap(-1L))
    val seeds = Seq(1L, 5L, 9L, 400L).toDF("node") // 400 off-graph
    def pprMap(cap: Long) = GraphOps.personalizedPageRankInt(edges,
        seeds, iters = 2, driverCap = cap)
      .as[(Long, Long)].collect().toMap
    assert(pprMap(graft.ops.DriverGate.EdgeCap) == pprMap(-1L))
    import java.util.concurrent.atomic.AtomicInteger
    def lpa(cap: Long) = {
      val c = new AtomicInteger(-1)
      val m = GraphOps.labelPropagation(edges, rounds = 4, Some(c),
          driverCap = cap)
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      (m, c.get())
    }
    assert(lpa(graft.ops.DriverGate.EdgeCap) == lpa(-1L))
    assert(prMap(-1L).nonEmpty && lpa(-1L)._1.nonEmpty)
  }

  test("personalizedPageRankInt: restart lands ONLY on seeds, matches " +
      "a hand-computed iteration, rejects disjoint seeds") {
    // path 1 → 2 → 3, seed {1}; T = 1e9, d = 850‰, base = 15e7
    // r0 = (1e9, 0, 0)
    // iter1: inflow 2 ← 1e9, 3 ← 0
    //   r1(1) = 15e7, r1(2) = 0 + 850*1e9/1000 = 85e7, r1(3) = 0
    // iter2: inflow 2 ← 15e7, 3 ← 85e7
    //   r2(1) = 15e7, r2(2) = 850*15e7 div 1000 = 1275e5,
    //   r2(3) = 850*85e7 div 1000 = 7225e5
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphOps.personalizedPageRankInt(edges, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 150000000L, 2L -> 127500000L,
      3L -> 722500000L))
    // a non-seed sink node never receives restart mass: node 3 rank
    // is pure inflow (asserted above); disjoint seeds throw
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRankInt(edges,
        Seq(99L).toDF("node"), iters = 2)
    }
    // deterministic under partitioning
    val again = GraphOps.personalizedPageRankInt(
      edges.repartition(5), seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("early exit: converged graphs stop paying rounds, output is " +
      "round-count invariant for kCorePeel / labelPropagation / " +
      "shortestPathsBounded") {
    import java.util.concurrent.atomic.AtomicInteger
    def rounds(f: AtomicInteger => org.apache.spark.sql.DataFrame)
        : (Set[Row], Int) = {
      val c = new AtomicInteger(-1)
      (f(c).collect().toSet, c.get())
    }
    // triangle + pendant chain: peel depth 2 for k=2, then fixpoint
    val peelEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val (core10, r10) = rounds(c =>
      GraphOps.kCorePeel(peelEdges, k = 2, rounds = 10, Some(c)))
    val (core3, r3) = rounds(c =>
      GraphOps.kCorePeel(peelEdges, k = 2, rounds = 3, Some(c)))
    assert(core10 == core3)           // round-count invariance
    assert(r10 == r3 && r10 <= 4)     // early exit, not 10 rounds
    assert(core10.forall(_.getBoolean(2))) // still reports converged
    // two bridged triangles: LPA settles fast; 50 rounds must not run 50
    val lpaEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val (lab50, lr50) = rounds(c =>
      GraphOps.labelPropagation(lpaEdges, rounds = 50, Some(c)))
    val (lab5, lr5) = rounds(c =>
      GraphOps.labelPropagation(lpaEdges, rounds = 5, Some(c)))
    assert(lab50 == lab5)
    assert(lr50 == lr5 && lr50 < 50)
    // path graph: distances stabilize after 3 hops; 50 must early-exit
    val spEdges = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val (d50, s50) = rounds(c =>
      GraphOps.shortestPathsBounded(spEdges, seeds, maxHops = 50, Some(c)))
    val (d4, s4) = rounds(c =>
      GraphOps.shortestPathsBounded(spEdges, seeds, maxHops = 4, Some(c)))
    assert(d50 == d4)
    assert(s50 == s4 && s50 <= 4)
    // under-bounded runs are NOT early-exited into wrong answers: 2 hops
    // must still miss node 4
    val d2 = GraphOps.shortestPathsBounded(spEdges, seeds, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(!d2.contains(4L) && d2(3L) == 10L)
  }

  test("wlLabels: symmetry classes on a path, id-invariant isomorphic " +
      "multisets, star center distinct, and the classic 1-WL blind spot") {
    def labels(es: Seq[(Long, Long)], r: Int): Map[Long, String] =
      GraphOps.wlLabels(es.toDF("src", "dst"), r)
        .as[(Long, String)].collect().toMap
    // P4: ends {1,4} one class, middles {2,3} another, after any rounds
    val p4 = labels(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 2)
    assert(p4(1L) == p4(4L) && p4(2L) == p4(3L) && p4(1L) != p4(2L))
    // isomorphic triangles with disjoint id spaces → identical labels
    val t1 = labels(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 2)
    val t2 = labels(Seq((10L, 20L), (20L, 30L), (30L, 10L)), 2)
    assert(t1.values.toSeq.sorted == t2.values.toSeq.sorted)
    // star: center separates from leaves at round 1 already
    val s4 = labels(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)), 1)
    assert(s4(1L) == s4(4L) && s4(0L) != s4(1L))
    // the classic blind spot: C6 and two C3s are both 2-regular and
    // 1-WL gives EVERY node the same label in both — documented limit,
    // not a bug (distinguishing them needs k-WL or cycle counts, which
    // triangleCounts provides)
    val c6 = labels(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 1L)), 3)
    val cc3 = labels(Seq((11L, 12L), (12L, 13L), (13L, 11L),
      (21L, 22L), (22L, 23L), (23L, 21L)), 3)
    assert((c6.values.toSet ++ cc3.values.toSet).size == 1)
  }

  test("wlGraphSignature: isomorphic graphs share a signature even " +
      "with colliding node ids, a chord breaks it, C6 vs 2xC3 collide " +
      "(the documented blind spot)") {
    val edges = Seq(
      // g=1: C5 on 1..5; g=2: the SAME cycle on ids 10..50 — and g=3
      // REUSES g=1's ids with an extra 1-3 chord, so per-graph scoping
      // is actually exercised
      (1L, 1L, 2L), (1L, 2L, 3L), (1L, 3L, 4L), (1L, 4L, 5L),
      (1L, 5L, 1L),
      (2L, 10L, 20L), (2L, 20L, 30L), (2L, 30L, 40L), (2L, 40L, 50L),
      (2L, 50L, 10L),
      (3L, 1L, 2L), (3L, 2L, 3L), (3L, 3L, 4L), (3L, 4L, 5L),
      (3L, 5L, 1L), (3L, 1L, 3L),
      // g=4: C6; g=5: 2×C3 — both 2-regular, 1-WL cannot separate
      (4L, 1L, 2L), (4L, 2L, 3L), (4L, 3L, 4L), (4L, 4L, 5L),
      (4L, 5L, 6L), (4L, 6L, 1L),
      (5L, 1L, 2L), (5L, 2L, 3L), (5L, 3L, 1L), (5L, 4L, 5L),
      (5L, 5L, 6L), (5L, 6L, 4L),
    ).toDF("graph_id", "src", "dst")
    val sig = GraphOps.wlGraphSignature(edges, "graph_id", "src",
        "dst", rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2)))).toMap
    assert(sig("1") == sig("2")) // isomorphic, id-invariant
    assert(sig("1")._2 != sig("3")._2) // the chord near-miss separates
    assert(sig("4") == sig("5")) // 1-WL blind spot — equal BY DESIGN
    assert(sig("4")._2 != sig("1")._2)
    assert(sig.size == 5)
  }

  test("triangleCounts: a square (4-cycle) has none; a hub star has " +
      "none — the degree orientation doesn't invent wedges") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    assert(GraphOps.triangleCounts(square)
      .as[(Long, Long)].collect().forall(_._2 == 0L))
    val star = (2L to 20L).map(i => (1L, i)).toDF("src", "dst")
    assert(GraphOps.triangleCounts(star)
      .as[(Long, Long)].collect().forall(_._2 == 0L))
  }

  test("DriverGate probe: type guard skips the count, cap -1 forces " +
      "distributed, and an eligible frame collects the exact pairs") {
    val longEdges = Seq((1L, 2L), (2L, 3L), (5L, 5L))
      .toDF("src", "dst")
    // engaged: all three rows back, order preserved
    val p = DriverGate.edges(longEdges, "src", "dst")
    assert(p.count.contains(3L))
    assert(p.edges.map(_.toSeq).contains(
      Seq((1L, 2L), (2L, 3L), (5L, 5L))))
    // forced distributed: count still taken (callers reuse it), no
    // collect
    val forced = DriverGate.edges(longEdges, "src", "dst", cap = -1L)
    assert(forced.count.contains(3L) && forced.edges.isEmpty)
    // type guard: string ids never engage AND never pay a count job
    val stringEdges = Seq(("a", "b")).toDF("src", "dst")
    assert(DriverGate.edges(stringEdges, "src", "dst") ==
      DriverGate.Probe(None, None))
    // over-cap: counted but not collected
    val overCap = DriverGate.edges(longEdges, "src", "dst", cap = 2L)
    assert(overCap.count.contains(3L) && overCap.edges.isEmpty)
  }

  test("wlGraphSignature: invariant under random node relabeling and " +
      "graph-id renaming (isomorphism never changes the signature)") {
    val rnd = new scala.util.Random(103)
    // a random 14-node graph, then the SAME graph under a random
    // permutation of node ids — signatures must match at every depth
    val edges = (1 to 25).map(_ =>
      (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter { case (a, b) => a != b }.distinct
    val perm = rnd.shuffle((0L to 13L).toVector)
    val relabeled = edges.map { case (a, b) =>
      (perm(a.toInt), perm(b.toInt)) }
    val df = (edges.map { case (a, b) => (1L, a, b) } ++
      relabeled.map { case (a, b) => (2L, a, b) })
      .toDF("graph_id", "src", "dst")
    for (r <- Seq(0, 1, 3)) {
      val sig = GraphOps.wlGraphSignature(df, "graph_id", "src", "dst",
          rounds = r)
        .collect().map(x => x.getString(0) ->
          ((x.getLong(1), x.getString(2)))).toMap
      assert(sig("1") == sig("2"), s"rounds=$r")
    }
  }

  test("wlGraphSignatureOrderFree: invariant under random relabeling, " +
      "and groups graphs exactly like the sorted-md5 form") {
    val rnd = new scala.util.Random(111)
    // family: a random 12-node graph G, an isomorphic copy under a
    // random permutation, and a NON-isomorphic variant (one extra
    // edge) — order-free signatures must merge the first two and
    // separate the third, at every depth, exactly as the sorted form
    val edges = (1 to 22).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }.distinct
    val perm = rnd.shuffle((0L to 11L).toVector)
    val iso = edges.map { case (a, b) => (perm(a.toInt), perm(b.toInt)) }
    // graph 3 = graph 1 plus one GUARANTEED-new undirected edge (the
    // first enumerated pair absent from the normalized edge set), so
    // its degree multiset — and hence every signature depth — differs
    val norm = edges.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val newEdge = (for { a <- 0L to 11L; b <- (a + 1) to 11L
      if !norm((a, b)) } yield (a, b)).head
    val extra = edges :+ newEdge
    val df = (edges.map { case (a, b) => (1L, a, b) } ++
      iso.map { case (a, b) => (2L, a, b) } ++
      extra.map { case (a, b) => (3L, a, b) })
      .toDF("graph_id", "src", "dst")
    for (r <- Seq(0, 1, 3)) {
      val free = GraphOps.wlGraphSignatureOrderFree(
          df, "graph_id", "src", "dst", rounds = r).collect()
        .map(x => x.getString(0) ->
          ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      assert(free("1") == free("2"), s"rounds=$r: iso copies diverged")
      // the extra-edge variant must SEPARATE: its degree multiset
      // differs, so the label multiset differs at every depth
      assert((free("3")._2, free("3")._3) !=
        (free("1")._2, free("1")._3), s"rounds=$r: extra edge merged")
      val sorted = GraphOps.wlGraphSignature(
          df, "graph_id", "src", "dst", rounds = r).collect()
        .map(x => x.getString(0) -> x.getString(2)).toMap
      // grouping agreement: the two forms induce the SAME partition of
      // the family (recall is construction-identical; this family has
      // no engineered sum collision)
      def groups(sig: Map[String, Any]): Set[Set[String]] =
        sig.groupBy(_._2).values.map(_.keySet).toSet
      assert(groups(free) == groups(sorted), s"rounds=$r")
      // residues sit in their moduli
      free.values.foreach { case (_, p1, p2) =>
        assert(p1 >= 0 && p1 < 1000000007L)
        assert(p2 >= 0 && p2 < 998244353L)
      }
    }
  }

  test("wlGraphSignature family rejects ':' in graph ids loudly " +
      "(silent truncation would mis-group labels)") {
    val bad = Seq(("a:b", 1L, 2L), ("a:b", 2L, 3L))
      .toDF("graph_id", "src", "dst")
    val e = intercept[Exception] {
      GraphOps.wlGraphSignature(bad, "graph_id", "src", "dst", 1)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("scoping separator")), e.toString)
    // the order-free form shares the guard
    val e2 = intercept[Exception] {
      GraphOps.wlGraphSignatureOrderFree(bad, "graph_id", "src",
        "dst", 1).collect()
    }
    assert(msgs(e2).exists(_.contains("scoping separator")), e2.toString)
  }
}
