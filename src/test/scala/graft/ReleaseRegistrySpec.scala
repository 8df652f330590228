package graft

import graft.operators.{CorpusPipeline, Dedup, Graph}
import graft.plans.{Pins, ReleaseRegistry}
import org.apache.spark.sql.graft.CacheEntries

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
    ReleaseRegistry.register("boom")(() => throw new IllegalStateException("x"))
    ReleaseRegistry.register("fine")(() => ok = true)
    val err = new java.io.ByteArrayOutputStream()
    val ran = Console.withErr(new java.io.PrintStream(err, true))(ReleaseRegistry.drain())
    assert(ran === 2)
    assert(ok)
    // the failure is reported, with the hook's label and the exception
    assert(err.toString.contains(
      "release hook 'boom' failed: java.lang.IllegalStateException: x"), err.toString)
    assert(!err.toString.contains("fine"))
  }

  /** The RDD ids persisted now, and the cache manager's entry count. */
  private def pinState = (spark.sparkContext.getPersistentRDDs.keySet,
    CacheEntries(spark))

  /** Waits until no RDD persisted since `before` remains pinned (the
    * releases unpersist with `blocking = false`) and the cache manager
    * holds no more entries than it did.
    */
  private def awaitReleased(before: (collection.Set[Int], Int), what: String): Unit = {
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before._1
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"$what left RDDs pinned: $leaked")
    assert(CacheEntries(spark) <= before._2,
      s"$what left a cache-manager entry")
  }

  test("Pins: a barrier pin queues one safe hook; a failing one queues none") {
    ReleaseRegistry.drain()
    val before = pinState
    val df = spark.range(0, 100, 1, 2).toDF("x")
    val (pinned, n) = Pins.materialize("pin.ok", df.where($"x" % 2 === 0))
    assert(n === 50L)
    assert(ReleaseRegistry.pendingLabels === Seq("pin.ok"))
    assert(spark.sparkContext.getPersistentRDDs.size > before._1.size)
    assert(ReleaseRegistry.drain(full = false) === 1) // the safe tier
    awaitReleased(before, "a drained pin")
    assert(pinned.count() === 50L) // lineage intact: recomputes
    // the barrier materializes the frame, then throws: nothing queued,
    // nothing left pinned, the barrier's own exception propagates
    val err = intercept[IllegalStateException] {
      Pins.materializeWith("pin.fail", df.where($"x" > 10)) { p =>
        p.count(); throw new IllegalStateException("barrier")
      }
    }
    assert(err.getMessage === "barrier")
    assert(ReleaseRegistry.pending === 0)
    awaitReleased(before, "a failed barrier")
  }

  test("Pins: a scope whose body throws frees its checkpoint and its persisted frame") {
    ReleaseRegistry.drain()
    val before = pinState
    val df = spark.range(0, 100, 1, 2).toDF("x")
    intercept[ArithmeticException] {
      Pins.scope { s =>
        val cp = s.truncate(df.select(($"x" * 3).as("y")))
        val (p, n) = s.materialize(cp.where($"y" > 30))
        assert(n === 89L && p.count() === 89L)
        assert(spark.sparkContext.getPersistentRDDs.size >= before._1.size + 2)
        throw new ArithmeticException("round failed")
      }
    }
    assert(ReleaseRegistry.pending === 0)
    awaitReleased(before, "a failed scope")
    // normal exit frees what was neither released nor handed off
    val n = Pins.scope(s => s.materialize(df)._2 + s.truncate(df).count())
    assert(n === 200L)
    assert(ReleaseRegistry.pending === 0)
    awaitReleased(before, "a finished scope")
  }

  test("Pins: a handed-off checkpoint lands in the invalidating tier") {
    ReleaseRegistry.drain()
    val before = pinState
    val df = spark.range(0, 10, 1, 2).toDF("x")
    val (kept, (release, releaseAll)) = Pins.scope { s =>
      val k = s.truncate(df)
      s.keep("cp.kept", k)
      val persisted = s.materialize(df.where($"x" > 4))._1
      (k, s.handOff("cp.hooked", s.truncate(df.where($"x" < 4)), persisted))
    }
    assert(ReleaseRegistry.pendingLabels === Seq("cp.kept", "cp.hooked"))
    // the safe-tier drain leaves both checkpoints queued and readable
    assert(ReleaseRegistry.drain(full = false) === 0)
    assert(ReleaseRegistry.pending === 2)
    release() // the persisted frame only
    assert(kept.count() === 10L)
    releaseAll()
    assert(ReleaseRegistry.drain() === 2)
    assert(ReleaseRegistry.pending === 0)
    awaitReleased(before, "released checkpoints")
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
