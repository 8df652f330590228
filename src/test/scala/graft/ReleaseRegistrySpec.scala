package graft

import graft.operators.{CorpusPipeline, Dedup, Graph}
import graft.plans.ReleaseRegistry

/** The session-lifecycle contract: operators queue release hooks for the
  * state they pin; a host that drains after materializing never accumulates
  * pinned frames across invocations (r7's measured failure mode:
  * dedup_resolve run times grew 12.5 → 31 → 48 s within one bench JVM
  * because nothing ever invoked the hooks the operators built).
  */
class ReleaseRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size

  /** Release hooks unpersist with `blocking = false`, and neighbor suites'
    * async cleanups (ContextCleaner, streaming stop) can be in flight on
    * the shared session — so "back to baseline" is an EVENTUALLY
    * assertion: poll while the count sits above baseline, fail only if it
    * stays there past the timeout. A count BELOW baseline is ambient
    * cleanup of pre-existing RDDs, not a leak.
    */
  private def assertBaselineEventually(baseline: Int, what: => String,
      timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime + timeoutMs * 1000000L
    while (pinnedCount > baseline && System.nanoTime < deadline)
      Thread.sleep(100)
    val cur = pinnedCount
    assert(cur <= baseline,
      s"$what leaked ${cur - baseline} pinned RDDs: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
  }

  test("drain runs hooks once, in order, and clears the queue") {
    ReleaseRegistry.drain() // isolate from hooks queued by earlier suites
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    ReleaseRegistry.register("a")(() => ran += "a")
    ReleaseRegistry.register("b")(() => ran += "b")
    assert(ReleaseRegistry.pending === 2)
    assert(ReleaseRegistry.pendingLabels === Seq("a", "b"))
    assert(ReleaseRegistry.drain() === 2)
    assert(ran.toSeq === Seq("a", "b"))
    assert(ReleaseRegistry.pending === 0)
    assert(ReleaseRegistry.drain() === 0) // second drain finds nothing
    assert(ran.toSeq === Seq("a", "b"))
  }

  test("drain(full = false) defers the invalidating tier, keeps its order") {
    ReleaseRegistry.drain()
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    ReleaseRegistry.register("safe1")(() => ran += "safe1")
    ReleaseRegistry.registerInvalidating("ckpt1")(() => ran += "ckpt1")
    ReleaseRegistry.registerInvalidating("ckpt2")(() => ran += "ckpt2")
    ReleaseRegistry.register("safe2")(() => ran += "safe2")
    assert(ReleaseRegistry.drain(full = false) === 2)
    assert(ran.toSeq === Seq("safe1", "safe2"))
    assert(ReleaseRegistry.pendingLabels === Seq("ckpt1", "ckpt2"))
    assert(ReleaseRegistry.drain() === 2)
    assert(ran.toSeq === Seq("safe1", "safe2", "ckpt1", "ckpt2"))
  }

  test("a throwing hook does not poison the drain of the rest") {
    ReleaseRegistry.drain()
    var ok = false
    ReleaseRegistry.register("boom")(() => throw new RuntimeException("x"))
    ReleaseRegistry.register("fine")(() => ok = true)
    assert(ReleaseRegistry.drain() === 2)
    assert(ok)
  }

  test("soak 20x: graph + resolve invocations return the RDD registry to baseline") {
    // tiny inline inputs so 20 rounds stay cheap; what's under test is the
    // lifecycle, not the plan. Every round: build (pins state via the
    // plain-DataFrame wrappers), materialize, drain, assert baseline.
    ReleaseRegistry.drain()
    val edges = Seq(("S1", "C1"), ("S1", "C2"), ("S2", "C1")).toDF("src", "dst")
    val wedges = Seq(("S1", "C1", 3L), ("S1", "C2", 1L), ("S2", "C1", 2L))
      .toDF("src", "dst", "w")
    // integral ids: the conveniences take the driver-local loops
    val idEdges = Seq((1L, 11L), (1L, 12L), (2L, 11L)).toDF("src", "dst")
    val docs = (1L to 30L).toDF("doc_id")
    val pairs = (1L to 10L).map(i => (i, i + 10L)).toDF("a", "b")
    val baseline = pinnedCount
    (1 to 20).foreach { round =>
      // string ids: the distributed loops
      Graph.pageRank(edges, iters = 3).count()
      Graph.pageRankWeightedRanks(wedges, iters = 3).count()
      Graph.labelPropagate(edges, iters = 2).count()
      Graph.communities(edges).count()
      // integral ids: the driver-local loops, which pin nothing, in every
      // fourth round (each call pays its ~0.8 s edge prep)
      if (round % 4 == 1) {
        Graph.pageRank(idEdges, iters = 3).count()
        Graph.labelPropagate(idEdges, iters = 2).count()
      }
      Dedup.resolveClusters(docs, pairs).count()
      assert(ReleaseRegistry.pending > 0, "wrappers queued no hooks")
      val queued = ReleaseRegistry.pendingLabels.toSet
      assert(Set("graph.pagerank", "graph.pagerank_weighted",
        "graph.label_prop", "graph.communities").subsetOf(queued),
        s"distributed wrappers queued only $queued")
      ReleaseRegistry.drain()
      assertBaselineEventually(baseline, s"round $round")
      assert(ReleaseRegistry.pending === 0)
    }
  }

  test("soak: persist-heavy SparkEntry queries drain back to baseline each round") {
    // the real bench surface at sf0.001 — the 10 queries r7 flagged as
    // accumulation-exposed, invoked 3x each (a leak shows round over
    // round; 3 rounds is enough to catch any monotone growth)
    ReleaseRegistry.drain()
    val heavy = Seq("dedup_resolve", "emb_dedup_resolve", "leakage_split",
      "pagerank", "pagerank_weighted", "label_prop", "semdedup",
      "kmeans_assign", "hll_overlap", "rolling_distinct", "corpus_curate")
    val baseline = pinnedCount
    (1 to 3).foreach { round =>
      heavy.foreach { name =>
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ReleaseRegistry.drain()
        assertBaselineEventually(baseline, s"$name round $round")
      }
    }
  }

  test("soak: repeated curateIncremental does not re-pin superseded snapshot state") {
    ReleaseRegistry.drain()
    val tmp = java.nio.file.Files.createTempDirectory("graft-soak-inc").toString
    val docsDir = s"$tmp/docs"
    val cacheDir = s"$tmp/cache"
    Tables.documents(spark, sfDir).limit(200)
      .write.mode("overwrite").parquet(docsDir)
    // first call computes and seeds the cache; every later call is a pure
    // snapshot read — neither may leave pinned frames after the drain
    val baseline = pinnedCount
    (1 to 5).foreach { round =>
      val out = CorpusPipeline.curateIncremental(spark, docsDir, cacheDir)
      assert(out.count() > 0)
      ReleaseRegistry.drain()
      assertBaselineEventually(baseline, s"curateIncremental round $round")
    }
  }

  test("GraftSession.release is the drain") {
    ReleaseRegistry.drain()
    var ran = false
    ReleaseRegistry.register("via-session")(() => ran = true)
    assert(GraftSession.release() === 1)
    assert(ran)
  }
}
