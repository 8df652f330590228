package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed 3-iteration ranks on a 4-node graph") {
    // S1→{C1,C2}, S2→C1; C1/C2 dangling. Worked by hand with the exact
    // integer recurrence r' = 150000 + (85·(contrib + dang div n)) div 100:
    //   iter1: S=575000, C1=1850000, C2=1000000
    //   iter2: S=755625, C1=1488750, C2=1000000
    //   iter3: S=678858, C1=1642280, C2=999999  (truncation dust appears)
    val edges = Seq(("S1", "C1"), ("S1", "C2"), ("S2", "C1")).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "S1" -> 678858L, "S2" -> 678858L, "C1" -> 1642280L, "C2" -> 999999L))
  }

  test("katzCentrality: hand-computed 3-round truncated series") {
    // 1→2, 3→2, 2→4; unit 1e6, alpha 20/100, beta 800000. No degree
    // split, no dangling recycling:
    //   r1: {1:800000, 3:800000, 2:1200000, 4:1000000}
    //   r2: {2: 800000+(20·1600000)//100 = 1120000, 4: 800000+240000}
    //   r3: {2: 1120000, 4: 800000+(20·1120000)//100 = 1024000}
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.katzCentrality(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    graft.plans.ReleaseRegistry.drain()
    assert(got === Map(
      1L -> 800000L, 2L -> 1120000L, 3L -> 800000L, 4L -> 1024000L))
  }

  test("clusteringCoefficient: hand-computed lcc on a square with a diagonal") {
    // 1-2-3-4-1 plus 1-3: triangles (1,2,3) and (1,3,4). deg 1=3, 2=2,
    // 3=3, 4=2; lcc(1)=2*2e6//(3*2)=666666, lcc(2)=2e6//2*... = 1000000
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.plans.ReleaseRegistry.drain()
    assert(got === Map(
      1L -> ((3L, 2L, 666666L)), 2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 2L, 666666L)), 4L -> ((2L, 1L, 1000000L))))
  }

  test("linkPredictionRA: inverse-degree evidence, edges excluded, cap honored") {
    // square 1-2-3-4: the two diagonals are the only non-adjacent pairs,
    // each with both opposite corners (deg 2) as common neighbors
    val sq = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L)).toDF("src", "dst")
    val got = Graph.linkPredictionRA(sq)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.plans.ReleaseRegistry.drain()
    assert(got === Seq((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // add a hub 5 adjacent to all: cap 3 keeps the corners (deg 3) as
    // wedge centers (333333 each) and drops the hub (deg 4) — its
    // evidence for the diagonals is truncated by design; every pair
    // INVOLVING 5 is an edge and is anti-joined out
    val hub = sq.union(Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)).toDF("src", "dst"))
    val got2 = Graph.linkPredictionRA(hub, maxHubDegree = 3L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.plans.ReleaseRegistry.drain()
    assert(got2 === Seq((1L, 3L, 2L, 666666L), (2L, 4L, 2L, 666666L)))
    // cap 2 excludes every center: no candidates survive
    val got3 = Graph.linkPredictionRA(hub, maxHubDegree = 2L).count()
    graft.plans.ReleaseRegistry.drain()
    assert(got3 === 0L)
  }

  test("id-packing guard: ids outside [0, 2^31) route through the dense re-id fallback") {
    // the packed BIGINT keys (deg·2³²+id in triangles, u·2³²+v in RA)
    // silently collide above 2³¹ — the runtime guard must detour such
    // graphs through the monotone dense re-id and hand back ORIGINAL ids
    // with identical counts/scores. Same square-with-diagonal as the lcc
    // case, shifted far past the bound:
    val OFF = 3L * 4294967296L // 3·2^32 ≫ 2^31
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .map { case (a, b) => (a + OFF, b + OFF) }.toDF("src", "dst")
    val tri = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    graft.plans.ReleaseRegistry.drain()
    assert(tri === Map(1L + OFF -> 2L, 2L + OFF -> 1L,
      3L + OFF -> 2L, 4L + OFF -> 1L))
    // RA over the plain square, one corner NEGATIVE (the other contract
    // violation): both diagonals score 2 common deg-2 neighbors; original
    // ids come back and the (ra desc, u, v) order holds
    val sq = Seq((-5L, 2L), (2L, 3L), (-5L, 4L), (4L, 3L)).toDF("src", "dst")
    val ra = Graph.linkPredictionRA(sq)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.plans.ReleaseRegistry.drain()
    assert(ra === Seq((-5L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
  }

  test("linkPredictionCore: RA on the k-core backbone drops periphery candidates") {
    // dense core: K5 minus edge (1,3); sparse periphery: 6 hangs off 1,
    // 7 hangs off 6. k=3 peels {6,7}; the core's only non-adjacent pair
    // is (1,3) with common neighbors 2/4/5 (subgraph degree 4 each).
    val core = Seq((1L, 2L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L))
    val g = (core ++ Seq((1L, 6L), (6L, 7L))).toDF("src", "dst")
    val got = Graph.linkPredictionCore(g, k = 3, rounds = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.plans.ReleaseRegistry.drain()
    assert(got === Seq((1L, 3L, 3L, 750000L)))
    // the raw variant on the same graph also surfaces periphery pairs
    // (e.g. (2,6) through center 1) — the composition must exclude them
    val raw = Graph.linkPredictionRA(g)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.plans.ReleaseRegistry.drain()
    assert(raw.exists(r => r._1 == 2L && r._2 == 6L))
    assert(raw.contains((1L, 3L, 3L, 750000L)),
      "core degrees equal raw degrees here, so the shared pair scores the same")
  }

  test("hits: hand-computed one-round hubs/authorities with integer rescale") {
    // 1→10, 2→10, 2→11, 3→11 (bipartite). a1 raw: {10:2e6, 11:2e6},
    // Σ=4e6, na=2 → scale 2 → both 1e6. h1 raw: {1:1e6, 2:2e6, 3:1e6},
    // Σ=4e6, nh=3 → scale max(1, 4e6//3e6)=1 → unchanged.
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)).toDF("src", "dst")
    val got = Graph.hits(edges, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    graft.plans.ReleaseRegistry.drain()
    assert(got === Map(
      1L -> ((1000000L, 0L)), 2L -> ((2000000L, 0L)), 3L -> ((1000000L, 0L)),
      10L -> ((0L, 1000000L)), 11L -> ((0L, 1000000L))))
  }

  test("pageRank: duplicate edges collapse; rank mass is conserved minus dust") {
    val edges = Seq(("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src", "dst")
    val dup = Graph.pageRank(edges, iters = 2).as[(String, Long)].collect().toMap
    val once = Graph.pageRank(edges.distinct(), iters = 2)
      .as[(String, Long)].collect().toMap
    assert(dup === once)
    // no dangling nodes here: total mass stays within integer-truncation
    // dust of n·10⁶ and every rank is positive
    val total = dup.values.sum
    assert(total <= 3000000L && total > 2999000L)
    assert(dup.values.forall(_ > 0))
  }

  test("pageRankReleasable: release hook drops every pinned RDD; ranks unchanged") {
    val edges = Seq(("S1", "C1"), ("S1", "C2"), ("S2", "C1")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = Graph.pageRankReleasable(edges, iters = 3)
    val got = res.ranks.as[(String, Long)].collect().toMap
    assert(got === Map(
      "S1" -> 678858L, "S2" -> 678858L, "C1" -> 1642280L, "C2" -> 999999L))
    assert(res.itersRun === 3)
    res.release()
    // release() keeps exactly the live lineage-truncation checkpoint (its
    // blocks ARE the data); releaseAll() frees that too
    val afterRelease = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRelease.size <= 1,
      s"release() may keep only the live checkpoint: $afterRelease")
    res.releaseAll()
    graft.plans.ReleaseRegistry.drain() // the queued invalidating tier
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"releaseAll() left RDDs pinned: $leaked")
  }

  test("pageRankUntil stops early on a converged graph and matches pageRank") {
    // directed 3-cycle, out-degree 1 everywhere: uniform rank is the exact
    // integer fixpoint, so iteration 1 moves nothing and the loop stops
    val ring = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("src", "dst")
    val res = Graph.pageRankUntil(ring, epsMicro = 0L, maxIters = 10)
    assert(res.itersRun === 1, s"expected early stop, ran ${res.itersRun}")
    val got = res.ranks.as[(String, Long)].collect().toMap
    assert(got === Map("A" -> 1000000L, "B" -> 1000000L, "C" -> 1000000L))
    res.release()
    // on a non-trivial graph a run stopped at iteration k is bit-exact
    // pageRank(k) — same integer recurrence, same truncation dust
    val edges = Seq(("S1", "C1"), ("S1", "C2"), ("S2", "C1")).toDF("src", "dst")
    val conv = Graph.pageRankUntil(edges, epsMicro = 0L, maxIters = 6)
    val fixed = Graph.pageRank(edges, iters = conv.itersRun)
      .as[(String, Long)].collect().toMap
    assert(conv.ranks.as[(String, Long)].collect().toMap === fixed)
    conv.release()
  }

  test("pageRankWeighted: rank flows along weights; hand-checked one iteration") {
    // S1 sends 75% of its mass to C1, 25% to C2 (w 3:1); customers dangle.
    // wn: C1=750000, C2=250000. iter1 by hand (dang=2e6, n=3, d//n=666666):
    //   S1 = 150000 + (85·666666)//100            = 716666
    //   C1 = 150000 + (85·(750000+666666))//100   = 1354166
    //   C2 = 150000 + (85·(250000+666666))//100   = 929166
    val edges = Seq(("S1", "C1", 3L), ("S1", "C2", 1L)).toDF("src", "dst", "w")
    val res = Graph.pageRankWeighted(edges, iters = 1)
    val got = res.ranks.as[(String, Long)].collect().toMap
    assert(got === Map("S1" -> 716666L, "C1" -> 1354166L, "C2" -> 929166L))
    res.release()
    // duplicate edges collapse by summing weight before normalizing
    val dup = Seq(("S1", "C1", 2L), ("S1", "C1", 1L), ("S1", "C2", 1L))
      .toDF("src", "dst", "w")
    val res2 = Graph.pageRankWeighted(dup, iters = 1)
    assert(res2.ranks.as[(String, Long)].collect().toMap === got)
    res2.release()
  }

  test("labelPropagateReleasable: release hook drops every pinned RDD") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.plans.ReleaseRegistry.drain()
    // gate 0 forces the distributed loop, whose pinned state is under test
    val (labels, release) = Graph.labelPropagateCore(edges, iters = 2,
      localMaxRows = 0L)
    assert(labels.count() === 5)
    release.get.apply()
    // release() keeps only the intermediate lineage-truncation checkpoint
    // (queued with the registry's invalidating tier); drain clears it
    val afterRelease = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRelease.size <= 1,
      s"release() may keep only the live checkpoint: $afterRelease")
    graft.plans.ReleaseRegistry.drain()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"drain left RDDs pinned: $leaked")
  }

  test("labelPropagate: k rounds reach min-within-k-hops; enough rounds = components") {
    // path 1-2-3-4 plus isolated pair 10-11; labels are hop-bounded minima
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val one = Graph.labelPropagate(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
    val full = Graph.labelPropagate(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(full === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // direction/duplication of the input edges is irrelevant (undirected)
    val messy = Seq((2L, 1L), (2L, 3L), (3L, 2L), (4L, 3L), (11L, 10L), (10L, 11L))
      .toDF("src", "dst")
    assert(Graph.labelPropagate(messy, iters = 3)
      .as[(Long, Long)].collect().toMap === full)
  }

  test("triangleCounts: K4 has four triangles, three per node") {
    // complete graph on 4 nodes: C(4,3) = 4 triangles, each node in 3
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: bipartite graphs are triangle-free; dup/reversed edges collapse") {
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    assert(Graph.triangleCounts(bip).count() === 0)
    // one triangle written with duplicates, reversals, and a self-loop
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (3L, 1L), (1L, 1L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(messy).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: hub plus pendant — orientation never counts open wedges") {
    // star K1,3 (no triangle) plus one closing edge → exactly one triangle
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("pageRank on the trade graph: suppliers share one rank tier, heavy customers rise") {
    val pr = Graph.pageRank(Graph.tradeEdges(spark, sfDir), iters = 3)
    // even = supplier, odd = customer (the parity encoding)
    val byKind = pr.withColumn("kind", $"node" % 2)
    val kinds = byKind.groupBy("kind").count().as[(Long, Long)].collect().toMap
    assert(kinds.keySet === Set(0L, 1L))
    // deterministic under input repartitioning
    val again = Graph.pageRank(Graph.tradeEdges(spark, sfDir).repartition(5), iters = 3)
    assert(pr.except(again).count() === 0 && again.except(pr).count() === 0)
  }

  test("communities: rollup matches label components; label cache released eagerly") {
    graft.plans.ReleaseRegistry.drain()
    // path 1-2-3-4 (community 1, 4 members) + pair 10-11 (community 10)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    // gate 0 forces the distributed propagation and its checkpoint
    val got = Graph.communitiesCore(edges, iters = 3, localMaxRows = 0L)
      .select("community", "n_members", "min_node", "max_node")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 4L, 1L, 4L), (10L, 2L, 10L, 11L)))
    // the corpus-scale label cache was released INSIDE communities();
    // only the community-sized rollup and the propagation's intermediate
    // lineage checkpoint (registry-queued) remain until drain
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 2,
      "communities should pin at most its rollup + the live checkpoint")
    graft.plans.ReleaseRegistry.drain()
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("modularity: clean cliques score Q=0.5; a merged blob scores ~0") {
    graft.plans.ReleaseRegistry.drain()
    // two DISCONNECTED triangles: label prop finds {1,2,3} and {4,5,6}
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    val got = Graph.modularity(clean, iters = 3)
      .select("community", "n_members", "in_edges", "deg_sum", "q_contrib")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (c, n, e, d, q) => c -> ((n, e, d, q)) }.toMap
    // m=6; each triangle: in=3, deg_sum=6 -> 3/6 - (6/12)^2 = 0.25
    assert(got(1L) === ((3L, 3L, 6L, 0.25)))
    assert(got(4L) === ((3L, 3L, 6L, 0.25)))
    assert(math.abs(got.values.map(_._4).sum - 0.5) < 1e-9)
    // bridge the triangles: min-label floods one community and the metric
    // correctly reports no structure (all edges in, q = 1 - 1 = 0)
    val bridged = clean.union(Seq((3L, 4L)).toDF("src", "dst"))
    val blob = Graph.modularity(bridged, iters = 3)
      .select("community", "q_contrib").as[(Long, Double)].collect()
    assert(blob.length === 1 && math.abs(blob.head._2) < 1e-9)
    graft.plans.ReleaseRegistry.drain()
  }

  test("kCore: peels the tail, keeps the clique, cascades removals") {
    // K4 clique (deg 3 inside) + a path tail 4-5-6 hanging off node 4:
    // round 1 removes leaf 6 (deg 1) and 5 (deg 2 < 3)... cascade:
    // node 5 has deg 2 -> gone round 1; after that nothing else drops —
    // 4's degree inside the survivors is 3 (the clique)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    graft.plans.ReleaseRegistry.drain()

    // cascade test: a long path peels one layer per round under k=2 —
    // with bounded rounds the approximation is a documented SUPERSET
    val path = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("src", "dst")
    val r1 = Graph.kCore(path, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    // one round: endpoints 1 and 6 drop, 2-3-4-5 remain as a path
    assert(r1.keySet === Set(2L, 3L, 4L, 5L))
    val r4 = Graph.kCore(path, k = 2, rounds = 4)
      .as[(Long, Long)].collect()
    // enough rounds: the whole path dies (no 2-core in a tree)
    assert(r4.isEmpty)
    graft.plans.ReleaseRegistry.drain()
  }

  test("kCore peel join: broadcast hint only under the survivor bound") {
    // the scale guard: a forced broadcast() hint bypasses Spark's size
    // checks, so above the survivor bound kCore must withhold it and let
    // Catalyst plan a shuffled semi join. Pin both shapes on the INITIAL
    // plan with auto-broadcast off, so the only possible broadcast source
    // is the hint itself.
    val alive = (1L to 50L).map(i => (i, i % 7)).toDF("x", "y")
    val keep = (1L to 20L).toDF("x")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = Graph.peelJoin(alive, keep, useBroadcast = true)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        s"hinted peel round must broadcast:\n$hinted")
      val fallback = Graph.peelJoin(alive, keep, useBroadcast = false)
        .queryExecution.executedPlan.toString
      assert(!fallback.contains("Broadcast"),
        s"unhinted peel round must not force a broadcast:\n$fallback")
      assert(fallback.contains("LeftSemi"),
        s"fallback must stay a semi join:\n$fallback")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("kCore: fallback (unhinted) path returns the same core") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    // broadcastMaxRows = 0 forces every round onto the shuffled-semi path
    val got = Graph.kCore(edges, k = 3, rounds = 3, broadcastMaxRows = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    graft.plans.ReleaseRegistry.drain()
  }

  test("degreeQuantile: derives a data-driven core order") {
    // star: hub degree 5, five leaves degree 1
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.degreeQuantile(star, 0.5) === 1)
    assert(Graph.degreeQuantile(star, 1.0) === 5)
  }

  test("assortativity: star is perfectly disassortative, regular graph undefined") {
    // hub 0 to 5 leaves: every edge pairs deg 5 with deg 1 -> r = -1
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val s = Graph.assortativity(star)
      .as[(Long, Option[Double])].collect().head
    assert(s._1 === 10L) // 5 edges x both orientations
    assert(s._2.exists(r => math.abs(r - (-1.0)) < 1e-9), s"star r = ${s._2}")

    // a triangle is 2-regular: zero degree variance -> r undefined (null)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = Graph.assortativity(tri)
      .as[(Long, Option[Double])].collect().head
    assert(t._1 === 6L && t._2.isEmpty)

    // assortative pairing: two cliques of different sizes joined nowhere —
    // same-degree endpoints everywhere -> every edge pairs equal degrees,
    // but ACROSS the graph degrees vary, so r = +1
    val cliques = Seq((1L, 2L), (2L, 3L), (1L, 3L), // K3 (deg 2)
      (4L, 5L)) // K2 (deg 1)
      .toDF("src", "dst")
    val c = Graph.assortativity(cliques)
      .as[(Long, Option[Double])].collect().head
    assert(c._2.exists(r => math.abs(r - 1.0) < 1e-9), s"cliques r = ${c._2}")
  }

  test("bfsLevels: hand-computed distances on a path graph") {
    // path 1-2-3-4-5, seeds = 2 smallest ids {1, 2}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.bfsLevels(edges, nSources = 2, maxDepth = 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3), (1L, 5L, 4),
      (2L, 2L, 0), (2L, 1L, 1), (2L, 3L, 1), (2L, 4L, 2), (2L, 5L, 3)))
  }

  test("bfsLevels: maxDepth bounds the frontier; direction is ignored") {
    // all edges point AT node 1 — undirected BFS still reaches everything
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("src", "dst")
    val got = Graph.bfsLevels(edges, nSources = 1, maxDepth = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 2)))
  }

  test("bfsLevels: disconnected component stays unreached; early exit on exhaustion") {
    // {1,2} and {10,11} disconnected; seed = node 1 only. maxDepth 6 >>
    // eccentricity 1, so the loop must early-exit on the empty frontier
    val edges = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    val got = Graph.bfsLevels(edges, nSources = 1, maxDepth = 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 1L, 0), (1L, 2L, 1)))
    // self-loops are dropped before symmetrization
    val loops = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    val g2 = Graph.bfsLevels(loops, nSources = 1, maxDepth = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(g2 === Set((1L, 1L, 0), (1L, 2L, 1)))
  }

  test("harmonicCentrality: truncating micro-unit sums over the seed sample") {
    // path 1-2-3-4, seeds {1, 2}:
    //   node 1: from 2 at d1            -> h = 1000000, reached 1
    //   node 2: from 1 at d1            -> h = 1000000, reached 1
    //   node 3: from 1 at d2, 2 at d1   -> h = 500000 + 1000000, reached 2
    //   node 4: from 1 at d3, 2 at d2   -> h = 333333 + 500000,  reached 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.harmonicCentrality(edges, nSources = 2, maxDepth = 6)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((1L, 1000000L)), 2L -> ((1L, 1000000L)),
      3L -> ((2L, 1500000L)), 4L -> ((2L, 833333L))))
  }

  test("shortestPathsWeighted: relaxation beats the direct edge; dup weights sum") {
    // 1-2 (w5), 2-3 (w1), 1-3 (w10): from seed 1 the best route to 3 is
    // 1→2→3 = 6, found only on relaxation round 2; seed 2 reaches both
    // neighbors directly. The duplicate (1,2) rows must sum to w=5 first.
    val edges = Seq((1L, 2L, 2L), (1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("src", "dst", "w")
    val got = Graph.shortestPathsWeighted(edges, nSources = 2, rounds = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0L), (1L, 2L, 5L), (1L, 3L, 6L),
      (2L, 2L, 0L), (2L, 1L, 5L), (2L, 3L, 1L)))
  }

  test("shortestPathsWeighted: bounded rounds cap the hop count; early exit is exact") {
    // path 1-2-3-4-5 (unit weights): rounds=2 reaches only 2 hops out;
    // rounds=10 converges early (after round 4 nothing changes) and the
    // result equals the true shortest paths
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val capped = Graph.shortestPathsWeighted(edges, nSources = 1, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
    val full = Graph.shortestPathsWeighted(edges, nSources = 1, rounds = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(full === Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L),
      (1L, 4L, 3L), (1L, 5L, 4L)))
  }

  test("personalizedPageRank: hand-computed seed-teleport ranks") {
    // A→B, B→A, B→C; seed {A} (smallest id); C dangling. Worked by hand
    // with T = ((15·3·10⁶) div 100) div 1 = 450000 and the recurrence
    // r'(v) = [v∈S]·(T + (85·(dang div s)) div 100) + (85·c(v)) div 100:
    //   r1: A=1725000  B= 850000  C=425000
    //   r2: A=1172500  B=1466250  C=361250
    //   r3: A=1380218  B= 996625  C=623156   (mass 2999999 — dust 1)
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C")).toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, nSeeds = 1, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(got === Map("A" -> 1380218L, "B" -> 996625L, "C" -> 623156L))
  }

  test("personalizedPageRank: all-dangling seeds absorb the full mass") {
    // bipartite S→C with dangling seeds {C1, C2}: after one round the
    // suppliers hold nothing and teleport+dangling recycle keeps the
    // whole n·10⁶ mass on the seeds — a fixpoint by round 2
    val edges = Seq(("S1", "C1"), ("S1", "C2"), ("S2", "C1")).toDF("src", "dst")
    val got = Graph.personalizedPageRank(edges, nSeeds = 2, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "C1" -> 2000000L, "C2" -> 2000000L, "S1" -> 0L, "S2" -> 0L))
    assert(got.values.sum === 4L * 1000000L)
  }

  test("shortestPathsWeighted and personalizedPageRank release their loop state") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    assert(Graph.shortestPathsWeighted(edges, nSources = 1).count() === 3L)
    assert(Graph.personalizedPageRank(
      edges.select($"src", $"dst"), nSeeds = 1).count() === 3L)
    graft.plans.ReleaseRegistry.drain()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"loop state left pinned: $leaked")
  }

  test("coOccurrenceEdges: in-array pair expansion matches the self-join reference") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    val got = Graph.coOccurrenceEdges(spark, sfDir)
    // every row canonical by construction
    assert(got.where(col("src") >= col("dst")).count() === 0L)
    // collapsed edge set identical to the reference distinct → self-join form
    val op = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val ref = op.as("x").join(op.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst")).distinct()
    val dedup = got.distinct()
    assert(dedup.except(ref).count() === 0L && ref.except(dedup).count() === 0L)
    // multiplicity contract: total pair rows = Σ per order C(distinct parts, 2)
    val expectedRows = op.groupBy("ok").agg(countDistinct("pk").as("n"))
      .select(expr("n * (n - 1) div 2")).as[Long].collect().sum
    assert(got.count() === expectedRows)
  }

  test("bfsLevels: releases its loop state (adjacency + checkpoint generations)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val out = Graph.bfsLevels(edges, nSources = 2, maxDepth = 6)
    assert(out.count() === 10L)
    graft.plans.ReleaseRegistry.drain()
    // unpersists are async (blocking = false) — poll to the baseline
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"bfsLevels left RDDs pinned: $leaked")
  }

  // ---- driver-local rounds vs distributed rounds ----

  /** A generated edge list: `(src, dst, w)` rows over ≤ 30 node ids. */
  private type Edges = Seq[(Long, Long, Long)]

  /** Random integral graphs: ids from four bands (small, negative, just
    * above 2³¹, near 3·2³²), duplicate edges and self-loops mixed in, and
    * in half the draws a bipartite shape whose dst side never has an
    * out-edge (all-dangling, like the trade graph). One draw in eight is
    * the empty graph.
    */
  private val genEdges: org.scalacheck.Gen[Edges] = {
    import org.scalacheck.Gen
    val id = Gen.oneOf(Gen.choose(0L, 40L), Gen.choose(-40L, -1L),
      Gen.choose(1L << 31, (1L << 31) + 40L),
      Gen.choose(3L << 32, (3L << 32) + 40L))
    val nonEmpty = for {
      k <- Gen.choose(1, 30)
      nodes <- Gen.listOfN(k, id).map(_.distinct)
      bipartite <- Gen.oneOf(true, false)
      (srcs, dsts) = if (bipartite && nodes.size > 1) nodes.splitAt(nodes.size / 2)
        else (nodes, nodes)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        s <- Gen.oneOf(srcs); d <- Gen.oneOf(dsts); w <- Gen.choose(1L, 9L)
      } yield (s, d, w))
      dups <- Gen.someOf(edges)
      loops <- if (bipartite) Gen.const(Nil)
        else Gen.someOf(nodes.take(3)).map(_.map(v => (v, v, 1L)))
    } yield edges ++ dups ++ loops
    Gen.frequency(1 -> Gen.const(Nil), 7 -> nonEmpty)
  }

  /** Which of the shapes the property must cover a graph has. Min-label
    * tie: a node with two neighbors that carry the same label after one
    * round, so round two compares equal minima.
    */
  private def shapes(g: Edges): Set[String] = {
    val und = g.collect { case (s, d, _) if s != d => (s min d, s max d) }.distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val label1 = nbrs.map { case (v, ns) => v -> (v +: ns).min }
    val ids = g.flatMap(e => Seq(e._1, e._2))
    Set(
      "empty" -> g.isEmpty,
      "self-loop" -> g.exists(e => e._1 == e._2),
      "duplicate" -> (g.map(e => (e._1, e._2)).distinct.size < g.size),
      "all-dangling side" -> (g.nonEmpty &&
        g.map(_._1).toSet.intersect(g.map(_._2).toSet).isEmpty),
      "negative id" -> ids.exists(_ < 0L),
      "id above 2^31" -> ids.exists(_ > (1L << 31)),
      "min-label tie" -> nbrs.values.exists(ns =>
        ns.map(label1).groupBy(identity).values.exists(_.size > 1))
    ).collect { case (name, true) => name }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
  private def typesOf(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  /** A `src` that [[edgeFrame]] turns into a null. */
  private val NullSrc = Long.MinValue

  /** A fixed graph with null-`src` edges, one of them the only edge into
    * node 5. The uniform and weighted preps' out-degree joins drop such
    * rows while the gate counts the pairs before that join, so the gate
    * must send the graph down the distributed path whole.
    */
  private val NullSrcGraph: Edges =
    Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (NullSrc, 3L, 4L), (NullSrc, 5L, 1L))

  /** `g` as a `(src, dst, w)` frame, with [[NullSrc]] as a null `src`. */
  private def edgeFrame(g: Edges) = {
    import org.apache.spark.sql.functions.{lit, when}
    g.toDF("src", "dst", "w")
      .withColumn("src", when($"src" =!= NullSrc, $"src").otherwise(lit(null)))
  }

  /** [[NullSrcGraph]] plus `cases` generated graphs (fixed seed, no
    * shrinking; together they must show every shape [[shapes]] names):
    * the loop run with the gate forced open (`Long.MaxValue`, driver-local
    * rounds) and shut (0, distributed rounds) must return bit-identical
    * frames — same column names and types, same rows — and the same
    * rounds-run count. `run(edges, gate)` returns (frame, rounds run,
    * release-all hook).
    */
  private def bothPathsAgree(cases: Int)(
      run: (Edges, Long) => (org.apache.spark.sql.DataFrame, Int, () => Unit)): Unit = {
    import org.scalacheck.{Prop, Test => Check}
    import org.scalacheck.rng.Seed
    def agree(g: Edges): (Boolean, String) = {
      val (lf, li, lrel) = run(g, Long.MaxValue)
      val (df, di, drel) = run(g, 0L)
      val (lRows, dRows) = (rowsOf(lf), rowsOf(df))
      val ok = li == di && typesOf(lf) == typesOf(df) && lRows == dRows
      lrel(); drel()
      graft.plans.ReleaseRegistry.drain()
      (ok, s"edges=$g\nlocal ($li rounds, ${typesOf(lf)}): $lRows\n" +
        s"distributed ($di rounds, ${typesOf(df)}): $dRows")
    }
    val (nullOk, nullMsg) = agree(NullSrcGraph)
    assert(nullOk, nullMsg)
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(genEdges) { g =>
      seen ++= shapes(g)
      val (ok, msg) = agree(g)
      Prop(ok) :| msg
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261018L)).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.toSet === Set("empty", "self-loop", "duplicate",
      "all-dangling side", "negative id", "id above 2^31", "min-label tie"),
      "generated graphs missed a required shape")
  }

  private def plainEdges(g: Edges) = edgeFrame(g).select($"src", $"dst")

  private def rank(r: Graph.RankResult) = (r.ranks, r.itersRun, r.releaseAll)

  // each case runs both paths (~1.2 s of small Spark jobs), so four cases
  // hold the six properties near 30 s; truncating integer division can
  // absorb a small error in a single case (a katz contribution off by one
  // passed the first three cases at this seed and failed the fourth)
  private val PropertyCases = 4

  test("local vs distributed: pageRank is bit-identical on random graphs") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      rank(Graph.pageRankCore(plainEdges(g), 3, 85L, 100L, -1L, gate))
    }
  }

  test("local vs distributed: pageRankUntil(epsMicro = 0) is bit-identical") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      rank(Graph.pageRankCore(plainEdges(g), 4, 85L, 100L, 0L, gate))
    }
  }

  test("local vs distributed: pageRankUntil(epsMicro > 0) stops at the same round") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      rank(Graph.pageRankCore(plainEdges(g), 6, 85L, 100L, 20000L, gate))
    }
  }

  test("local vs distributed: pageRankWeighted is bit-identical") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      rank(Graph.pageRankWeightedCore(edgeFrame(g), 3, 85L, 100L, gate))
    }
  }

  test("local vs distributed: katzCentrality is bit-identical") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      rank(Graph.katzCore(plainEdges(g), 3, 20L, 100L, gate))
    }
  }

  test("local vs distributed: labelPropagate is bit-identical") {
    bothPathsAgree(PropertyCases) { (g, gate) =>
      val (labels, release) = Graph.labelPropagateCore(plainEdges(g), 3, gate)
      (labels, 3, release.getOrElse(() => ()))
    }
  }

  /** Drains the registry and returns a check that every RDD persisted
    * since is gone again (waiting out `blocking = false` unpersists), and
    * that the cache manager holds no more entries than before: a frame
    * persisted but never materialized (its barrier failed) shows there
    * and not among the persisted RDDs.
    */
  private def persistedBaseline(): String => Unit = {
    graft.plans.ReleaseRegistry.drain()
    def cached = org.apache.spark.sql.graft.CacheEntries(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cachedBefore = cached
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    what => {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(leaked.isEmpty, s"$what left RDDs pinned: $leaked")
      assert(cached <= cachedBefore,
        s"$what left ${cached - cachedBefore} cache-manager entries")
    }
  }

  test("local loops pin nothing: persisted RDDs and the registry stay at baseline") {
    import graft.plans.ReleaseRegistry
    val awaitBaseline = persistedBaseline()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val wedges = edges.withColumn("w", $"src" + 1L)
    // the loops and their conveniences, built and materialized: nothing
    // pinned, nothing queued
    val results = Seq(
      Graph.pageRankCore(edges, 3, 85L, 100L, -1L),
      Graph.pageRankCore(edges, 5, 85L, 100L, 0L),
      Graph.pageRankWeightedCore(wedges, 3, 85L, 100L),
      Graph.katzCore(edges, 3, 20L, 100L))
    results.foreach(r => assert(r.ranks.count() === 6L))
    val (labels, _) = Graph.labelPropagateCore(edges, 3)
    assert(labels.count() === 6L)
    assert(Graph.pageRank(edges).count() === 6L)
    assert(Graph.pageRankWeightedRanks(wedges).count() === 6L)
    assert(Graph.katzCentrality(edges).count() === 6L)
    assert(Graph.labelPropagate(edges).count() === 6L)
    // the rollup over driver-local labels has no label cache to drop
    // before it, so it skips its own persist + count barrier
    assert(Graph.communitiesCore(edges, 3).count() === 2L)
    assert(Graph.communities(edges).count() === 2L)
    awaitBaseline("the local loops")
    assert(ReleaseRegistry.pending === 0)
    // modularity pins its own small result until a drain
    assert(Graph.modularity(edges).count() === 2L)
    ReleaseRegistry.drain()
    awaitBaseline("modularity after drain")
    assert(ReleaseRegistry.pending === 0)
  }

  /** `run` must fail with an [[ArithmeticException]] in its cause chain,
    * queue no release hook, and — a failed loop frees what it pinned: no
    * caller ever gets a hook for it — leave the persisted RDDs at their
    * baseline after a drain.
    */
  private def failsLoudlyAndFreesPins(what: String)(run: => Unit): Unit = {
    import graft.plans.ReleaseRegistry
    val awaitBaseline = persistedBaseline()
    val err = intercept[Exception](run)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ArithmeticException]),
      s"$what: expected an arithmetic overflow, got $err")
    assert(ReleaseRegistry.pending === 0, s"$what: the failure queued a hook")
    ReleaseRegistry.drain()
    awaitBaseline(s"$what: the failed loop")
  }

  test("rank loops: an overflowing recurrence fails loudly on both paths") {
    // base = 10⁶·1 div (10¹³+1) = 0, but 10¹³ · (10⁶ contribution) > 2⁶³:
    // the local kernel's Math.multiplyExact and Spark's ANSI multiply must
    // both throw instead of wrapping
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    for (gate <- Seq(Long.MaxValue, 0L)) failsLoudlyAndFreesPins(s"gate $gate") {
      Graph.pageRankCore(edges, 3, 10000000000000L, 10000000000001L, -1L,
        gate).ranks.collect()
    }
    // no driver-local path; its rounds overflow the same way
    failsLoudlyAndFreesPins("personalizedPageRank") {
      Graph.personalizedPageRank(edges, 1, 3, 10000000000000L, 10000000000001L)
        .collect()
    }
  }

  test("shortestPathsWeighted: an overflow in a round or in the prep frees its pins") {
    // round 2 relaxes 1 → 3 at 2⁶² + 2⁶²: the checkpoint job of that round
    // throws with the adjacency and round 1's checkpoint pinned
    val rounds = Seq((1L, 2L, 1L << 62), (2L, 3L, 1L << 62), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    failsLoudlyAndFreesPins("shortestPathsWeighted, round 2") {
      Graph.shortestPathsWeighted(rounds, nSources = 1).collect()
    }
    // both directions canonicalize to (1, 2): the per-pair sum overflows
    // at the adjacency's count barrier, before anything is materialized
    val prep = Seq((1L, 2L, 1L << 62), (2L, 1L, 1L << 62)).toDF("src", "dst", "w")
    failsLoudlyAndFreesPins("shortestPathsWeighted, prep") {
      Graph.shortestPathsWeighted(prep, nSources = 1).collect()
    }
  }

  test("personalizedPageRank: an overflowing teleport term fails loudly") {
    // T = ((10¹³ − 1)·3·10⁶ div 10¹³) div 1: the product passes 2⁶³, and
    // unchecked it wrapped into a rank of −689348 for every node
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    failsLoudlyAndFreesPins("personalizedPageRank teleport") {
      Graph.personalizedPageRank(edges, nSeeds = 1, iters = 1, dampNum = 1L,
        dampDen = 10000000000000L).collect()
    }
  }

  // ---- the local-loop gate's gather ----

  /** A `(x, y = 2x)` frame whose partition `p` holds `sizes(p)` rows, the
    * values 0, 1, 2, … in partition order.
    */
  private def partitioned(sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val starts = sizes.scanLeft(0)(_ + _)
    spark.sparkContext
      .parallelize(sizes.indices.map(p => (starts(p), starts(p + 1))), sizes.size)
      .flatMap { case (from, until) => (from until until).map(_.toLong) }
      .toDF("x").select($"x", ($"x" * 2).as("y"))
  }

  /** `(gathered columns as Seqs, jobs the gather started)`. */
  private def gathered(df: org.apache.spark.sql.DataFrame, maxRows: Long) = {
    var out: Option[Array[Array[Long]]] = None
    val jobs = jobsStartedBy { out = Graph.gatherIntegral(df, maxRows) }
    (out.map(_.map(_.toSeq).toSeq), jobs.size)
  }

  test("gatherIntegral: ships within the cap in one job, or a second for skew") {
    val all = (0L until 100L).toSeq
    val expect = Some(Seq(all, all.map(_ * 2)))
    // balanced, under the cap: every partition ships its share at once
    assert(gathered(partitioned(Seq(25, 25, 25, 25)), 100L) === ((expect, 1)))
    // one partition over its share (100 / 4), total within the cap: it
    // withholds its rows, and a second job over it alone ships them
    assert(gathered(partitioned(Seq(70, 10, 10, 10)), 100L) === ((expect, 2)))
    // every partition within the cap, the total one over it: no rows
    assert(gathered(partitioned(Seq(25, 25, 25, 25)), 99L) === ((None, 1)))
    // a null anywhere keeps the frame off the driver-local path
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("x")
    assert(gathered(withNull, 100L)._1 === None)
    // non-integral columns are refused without a job
    assert(gathered(Seq(("a", 1L)).toDF("s", "n"), 100L) === ((None, 0)))
    // empty, with partitions and without
    assert(gathered(partitioned(Seq(0, 0, 0)), 100L) === ((Some(Seq(Nil, Nil)), 1)))
    assert(gathered(Seq.empty[(Long, Long)].toDF("a", "b"), 0L)._1 ===
      Some(Seq(Nil, Nil)))
  }

  test("driver-local loops start no persisting job: gather only, jobs pinned") {
    import org.apache.spark.storage.StorageLevel
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    def persisting(js: org.apache.spark.scheduler.SparkListenerJobStart) =
      js.stageInfos.exists(_.rddInfos.exists(_.storageLevel != StorageLevel.NONE))
    def jobsOf(gate: Long)(run: Long => Unit) = {
      val awaitBaseline = persistedBaseline()
      val jobs = jobsStartedBy(run(gate))
      graft.plans.ReleaseRegistry.drain()
      awaitBaseline(s"gate $gate")
      (jobs.size, jobs.count(persisting))
    }
    val loops = Seq[(String, Long => Unit)](
      "pageRankCore" -> (gate =>
        Graph.pageRankCore(edges, 3, 85L, 100L, -1L, gate).releaseAll()),
      "labelPropagateCore" -> (gate =>
        Graph.labelPropagateCore(edges, 3, gate)._2.foreach(_())))
    for ((name, run) <- loops) {
      // the gather over the raw edges and nothing else: the dedup runs on
      // the driver, so no shuffle stage runs ahead of it
      assert(jobsOf(Long.MaxValue)(run) === ((1, 0)), name)
      // the shut gate builds the persisted layout (the listener sees it)
      assert(jobsOf(0L)(run)._2 > 0, s"$name, gate shut")
    }
  }

  // ---- the driver-local dedup ----

  /** Raw `(src, dst, w)` rows with duplicates in both orientations,
    * self-loops, ids at 2³¹ − 1, 2³¹ and 2³¹ + 1, negative ids and ids at
    * ±3·2³² (their low 32 bits are 0, so packing original ids instead of
    * dense ones would collide them with 0).
    */
  private val DedupRows: Edges = {
    val (lo, mid, hi, far) = ((1L << 31) - 1, 1L << 31, (1L << 31) + 1, 3L << 32)
    Seq((1L, mid, 3L), (mid, 1L, 4L), (1L, mid, 5L), (-5L, -5L, 2L),
      (far, lo, 7L), (hi, -5L, 1L), (far, lo, 1L), (-far, far, 2L),
      (far, -far, 6L), (lo, lo, 9L), (0L, hi, 1L), (hi, -5L, 8L))
  }

  test("localGraph: the driver dedup matches distinct and the per-pair weight sums") {
    def pairs(g: Graph.LocalGraph) =
      g.src.indices.map(k => (g.ids(g.src(k)), g.ids(g.dst(k))))
    val (src, dst, w) = DedupRows.unzip3
    val sums = DedupRows.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((a, b), rs) => (a, b, rs.map(_._3).sum) }.sorted
    val weighted = Graph.localGraph(src.toArray, dst.toArray, Some(w.toArray))
    assert(weighted.ids.toSeq === (src ++ dst).distinct.sorted)
    // in (src, dst) order: the dense ids are monotone in the original ones
    assert(pairs(weighted).zip(weighted.w).map { case ((a, b), s) => (a, b, s) } === sums)
    val plain = Graph.localGraph(src.toArray, dst.toArray)
    assert(pairs(plain) === sums.map(r => (r._1, r._2)) && plain.w.isEmpty)
    val empty = Graph.localGraph(Array.empty, Array.empty, Some(Array.empty))
    assert(Seq(empty.ids.length, empty.src.length, empty.dst.length,
      empty.w.length) === Seq(0, 0, 0, 0))
    // every loop returns the same frame with the dedup on either path
    val loops = Seq[(String, (Edges, Long) => (org.apache.spark.sql.DataFrame, () => Unit))](
      "pageRank" -> ((g, gate) =>
        hooked(Graph.pageRankCore(plainEdges(g), 3, 85L, 100L, -1L, gate))),
      "pageRankWeighted" -> ((g, gate) =>
        hooked(Graph.pageRankWeightedCore(edgeFrame(g), 3, 85L, 100L, gate))),
      "katz" -> ((g, gate) => hooked(Graph.katzCore(plainEdges(g), 3, 20L, 100L, gate))),
      "labelPropagate" -> ((g, gate) => {
        val (labels, release) = Graph.labelPropagateCore(plainEdges(g), 3, gate)
        (labels, release.getOrElse(() => ()))
      }))
    for ((name, run) <- loops; g <- Seq(DedupRows, Seq.empty)) {
      val ((local, lrel), (dist, drel)) = (run(g, Long.MaxValue), run(g, 0L))
      assert(typesOf(local) === typesOf(dist) && rowsOf(local) === rowsOf(dist),
        s"$name on ${g.size} rows")
      lrel(); drel()
      graft.plans.ReleaseRegistry.drain()
    }
  }

  private def hooked(r: Graph.RankResult) = (r.ranks, r.releaseAll)

  test("localGraph: a per-pair weight sum that overflows throws on both paths") {
    // each weight fits, their per-pair sum 2⁶² + 2⁶² does not
    val over = Seq((1L, 2L, 1L << 62), (3L, 2L, 1L), (1L, 2L, 1L << 62))
    val (src, dst, w) = over.unzip3
    intercept[ArithmeticException](
      Graph.localGraph(src.toArray, dst.toArray, Some(w.toArray)))
    for (gate <- Seq(Long.MaxValue, 0L)) failsLoudlyAndFreesPins(s"gate $gate") {
      Graph.pageRankWeightedCore(edgeFrame(over), 3, 85L, 100L, gate).ranks.collect()
    }
  }
}
