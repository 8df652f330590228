package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Pins

/** Graph analytics over relational edge lists — PageRank as the flagship
  * iterative-propagation primitive (the same shape serves label
  * propagation, HITS, Katz centrality). North-star scope: the reference
  * has no graph model, but an analytics engine curating web-scale training
  * corpora needs link-graph signals (PageRank-weighted sampling is a
  * standard corpus-quality prior).
  *
  * All rank arithmetic is INTEGER (micro-units): per-edge contribution is
  * `rank div out_degree` (or `(rank · wn) div 10⁶` in the weighted
  * variant), damping is `(85 · mass) div 100`, dangling mass
  * redistributes as `dang div n` — truncating integer division at every
  * step, so per-group sums are order-independent and any engine replays
  * the iteration bit-exactly (no FP accumulation-order hazard).
  *
  * Scale shape: each iteration is (1) a join of the rank table to edges on
  * `src` — edges pre-partitioned once on `src` and persisted, so every
  * iteration's join reuses that layout while only the (much smaller) rank
  * table moves — and (2) one map-side-combined integer-sum shuffle on
  * `dst`. Dangling mass is a single scalar aggregate broadcast back.
  * Uniform and weighted PageRank and Katz share ONE loop
  * ([[iterateDistributed]]) differing only in the contribution
  * expression: every round is one eager checkpoint job with
  * constant-depth lineage, and all variants get the same convergence
  * stop. Label propagation ([[labelPropagateReleasable]]) has the same
  * round shape.
  *
  * Small graphs skip the dedup, the edge layout and the per-round jobs:
  * each loop first gathers its RAW edge stream in one job
  * ([[gatherIntegral]]; no shuffle of its own), and when that stream has
  * at most [[LocalLoopMaxRows]] rows of integral, non-null ids, the
  * driver dedups the pairs ([[localGraph]]: one sort of the endpoint ids,
  * one of the packed dense pairs) and runs every round over primitive
  * arrays with the same integer recurrence, so the two paths return
  * bit-identical frames (see [[iterateLocal]]). Only above the gate are
  * the dedup and the `src`-partitioned, persisted layout built.
  *
  * Lifecycle: every pin goes through [[graft.plans.Pins]]. A loop runs in
  * one [[graft.plans.Pins.Scope]]: each round frees its superseded
  * generation through the scope, a loop that throws frees everything it
  * pinned, and at the end the scope hands the state the returned plan
  * reads either to the caller as hooks (a [[RankResult]], the
  * `*Releasable` pairs) or to the registry; the plain-`DataFrame`
  * conveniences queue those hooks with the registry. So a long-lived
  * session's host can drain pinned state after materializing results
  * instead of stranding one edge layout + rank cache per call.
  */
object Graph {

  /** One PageRank unit in micro-units. */
  val Unit_ : Long = 1000000L

  /** Row cap on the gathered edge stream for the driver-local rounds;
    * above it the rounds run as distributed jobs. It counts RAW rows, before
    * any dedup: the `(src, dst)` (or `(src, dst, w)`) rows of the rank
    * loops, duplicates and null ids included, and for label propagation
    * the canonical `(least, greatest)` rows without self-loops, DOUBLED
    * (the distributed rounds read each pair once per direction: that loop
    * gathers against half the cap). The gather never ships more than this
    * many rows to the driver. At sf0.1 the trade graph has 600,000 raw
    * rows (586,871 distinct pairs) and the co-purchase graph 1,199,575
    * canonical rows (1,196,000 distinct), 4% under the half cap of
    * 1,250,000, so both stay local. Set just above the largest graph
    * measured on both paths: at sf0.1 (4 local cores, 7 GB heap) the local
    * rounds were 1.3–2.2× faster in two back-to-back pairs of runs (median
    * warm pagerank 4.7 / 3.7 s vs 9.6 / 6.2 s, label propagation 6.0 /
    * 5.7 s vs 13.0 / 7.5 s), the JVM's peak heap was in the same range on
    * both paths (the edge build dominates it), and the result held on the
    * driver was about 1 MB. The collected columns are transient: 8 bytes
    * per row and column, plus the dense-id and packed-pair arrays.
    */
  private[graft] val LocalLoopMaxRows: Long = 2500000L

  /** A rank computation's result: the rank frame, how many iterations
    * actually ran (== the requested count for [[pageRank]]; possibly fewer
    * for [[pageRankUntil]]), and release hooks for the state the returned
    * plan pins (edge layout, node set, final rank cache).
    *
    * `release()` — call AFTER materializing the ranks: plain persisted
    * frames unpersist (their lineage stays intact, so a later recompute is
    * slow but correct); a live localCheckpoint backing the final frame
    * stays pinned, because its blocks ARE the data (same contract as
    * `Dedup.resolveClustersReleasable`).
    *
    * `releaseAll()` — `release()` PLUS freeing any live checkpoint. After
    * it, `ranks` is permanently invalid (checkpoint lineage is truncated;
    * re-invoke the builder instead of re-reading the frame). Use when the
    * result is already materialized elsewhere and the session must not
    * carry the checkpoint blocks. The builder also queues the checkpoint
    * release with [[graft.plans.ReleaseRegistry]] (invalidating tier), so
    * hosts that drain at materialization boundaries never leak it even if
    * they only ever call `release()`.
    *
    * `pinned` — false for a result of the driver-local rounds, which pins
    * nothing: both hooks are no-ops, and the conveniences queue nothing
    * for it.
    */
  final case class RankResult(ranks: DataFrame, itersRun: Int,
      release: () => Unit, releaseAll: () => Unit = () => (),
      pinned: Boolean = true)

  /** PageRank over a directed edge list `(src, dst)` (strings; duplicate
    * edges are collapsed). Damping 0.85 as `dampNum/dampDen` integers.
    * Returns every node with its rank in micro-units (`rank_micro`) —
    * initial rank is 1.0 per node, so ranks sum to ~n·10⁶ (minus
    * truncation dust).
    *
    * When the rounds ran distributed, the returned plan reads pinned
    * frames (edge layout + final ranks); their release hook is queued with
    * [[graft.plans.ReleaseRegistry]] — the session host drains it after
    * materializing. Callers wanting manual control use
    * [[pageRankReleasable]].
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val res = pageRankReleasable(edges, iters, dampNum, dampDen)
    if (res.pinned) Pins.queue("graph.pagerank")(res.release)
    res.ranks
  }

  /** [[pageRank]] plus the release hooks (see [[RankResult]]); nothing is
    * queued with the registry except the checkpoint tier the shared loop
    * always queues.
    */
  def pageRankReleasable(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L): RankResult =
    pageRankCore(edges, iters, dampNum, dampDen, stopDeltaMicro = -1L)

  /** Convergence-stopped PageRank: iterate until the total absolute rank
    * movement (Σ|r_i − r_{i-1}| in micro-units, an integer aggregate over
    * the already-materialized step frame — no extra join, the step carries
    * its parent rank) drops to `epsMicro` or below, capped at `maxIters`.
    * Same bit-exact integer arithmetic as [[pageRank]]: a run that stops
    * at iteration k returns exactly `pageRank(edges, k)`.
    */
  def pageRankUntil(edges: DataFrame, epsMicro: Long = 1000L,
      maxIters: Int = 20, dampNum: Long = 85L, dampDen: Long = 100L): RankResult =
    pageRankCore(edges, maxIters, dampNum, dampDen, stopDeltaMicro = epsMicro)

  /** Uniform PageRank with the local-loop gate exposed (specs force
    * either path with `localMaxRows` = `Long.MaxValue` / 0).
    */
  private[graft] def pageRankCore(edges: DataFrame, iters: Int,
      dampNum: Long, dampDen: Long, stopDeltaMicro: Long,
      localMaxRows: Long = LocalLoopMaxRows): RankResult = {
    val raw = edges.select(col("src"), col("dst"))
    gatherIntegral(raw, localMaxRows) match {
      case Some(Array(src, dst)) =>
        iterateLocal(raw, localGraph(src, dst), outDegrees,
          (r, od) => r / od, iters, dampNum, dampDen, stopDeltaMicro)
      case _ => Pins.scope { s =>
        val e = prepareUniform(s, edges)
        iterateDistributed(s, e, uniformContrib(e), iters, dampNum, dampDen,
          stopDeltaMicro)
      }
    }
  }

  /** Weighted PageRank: edge weights steer the rank flow — node `v`
    * passes `r(v) · w(v→u) / Σw(v→·)` to each out-neighbor, the model for
    * value-weighted influence graphs (trade volume, click counts) where
    * uniform splitting misrepresents hub importance.
    *
    * Integer discipline: per-edge weights normalize ONCE, outside the
    * loop, to parts-per-million of their source's out-weight
    * (`wn = (w·10⁶) div Σw`, truncating), and each iteration's
    * contribution is `(r · wn) div 10⁶` — so products stay below
    * `max(r)·10⁶` (no overflow for graphs up to ~10⁹ nodes of unit seed
    * mass), every division truncates, and per-node sums are
    * order-independent: any engine replays the cascade bit-exactly.
    * Dangling mass (no out-edges) redistributes exactly as [[pageRank]].
    *
    * Runs through the SAME loops as uniform PageRank (only the
    * contribution expression differs), so it inherits the one-job round
    * with per-round lineage truncation, the convergence support and the
    * driver-local path for small graphs: the gate gathers the raw
    * `(src, dst, w)` rows, and the driver sums `w` per pair, then derives
    * `Σw` and `wn`, with the same overflow-checked integer math (a per-pair
    * sum that overflows throws on both paths). Returns a [[RankResult]]
    * with release hooks.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L): RankResult =
    pageRankWeightedCore(edges, iters, dampNum, dampDen)

  /** [[pageRankWeighted]] with the local-loop gate exposed. */
  private[graft] def pageRankWeightedCore(edges: DataFrame, iters: Int,
      dampNum: Long, dampDen: Long,
      localMaxRows: Long = LocalLoopMaxRows): RankResult = {
    val raw = edges.select(col("src"), col("dst"), col("w"))
    gatherIntegral(raw, localMaxRows) match {
      case Some(Array(src, dst, w)) =>
        iterateLocal(raw, localGraph(src, dst, Some(w)), normalizedWeights,
          (r, wn) => Math.multiplyExact(r, wn) / 1000000L,
          iters, dampNum, dampDen, stopDeltaMicro = -1L)
      case _ => Pins.scope { s =>
        val e = prepareWeighted(s, weightedPairs(edges))
        iterateDistributed(s, e,
          r => e.join(r, e("src") === r("node"))
            .select(col("dst").as("node"), expr("(r * wn) div 1000000L").as("c"))
            .groupBy("node").agg(sum("c").as("c")),
          iters, dampNum, dampDen, stopDeltaMicro = -1L)
      }
    }
  }

  /** `(src, dst, w)` with the weights of duplicate pairs summed (the
    * driver-local path sums them in [[localGraph]]).
    */
  private def weightedPairs(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))

  /** Weighted edge prep for the distributed rounds: `(src, dst, wn)` laid
    * out on `src`, pinned in `s` and counted. Same exchange discipline as
    * [[prepareUniform]]: the per-pair sum stays FIRST (map-side combined
    * over the raw stream), the `src` layout sits directly on its output,
    * and the out-weight aggregate + join then plan exchange-free on that
    * layout — 2 edge-scale exchanges instead of the first-draft 4.
    */
  private def prepareWeighted(s: Pins.Scope, pairs: DataFrame): DataFrame = {
    val agg = pairs.repartition(col("src"))
    val outW = agg.groupBy("src").agg(sum("w").as("sw"))
    // count barrier: materialize before the iteration chain re-reads
    s.materialize(agg.join(outW, "src")
      .select(col("src"), col("dst"), expr("(w * 1000000L) div sw").as("wn")))._1
  }

  /** [[pageRankWeighted]] as a plain frame, release hook queued with the
    * registry (the convenience [[graft.SparkEntry]] routes through so the
    * hook is never discarded at the call site).
    */
  def pageRankWeightedRanks(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val res = pageRankWeighted(edges, iters, dampNum, dampDen)
    if (res.pinned) Pins.queue("graph.pagerank_weighted")(res.release)
    res.ranks
  }

  /** Uniform-split edge prep for the distributed rounds: dedup, pre-join
    * each edge's out-degree (loop-invariant — joining it INSIDE the loop
    * would re-pay an aggregate + join every iteration), lay out on `src`
    * once, persist. Only the distributed rounds read this layout; the
    * driver-local path dedups the gathered rows and derives `od` from
    * them instead ([[localGraph]], [[outDegrees]]).
    *
    * Exchange order matters (guide §2.4 — share one exchange): the
    * repartition on `src` sits directly ON the deduped set, so the
    * degree aggregate (`groupBy(src)` — hash(src) satisfies its
    * clustering) and the out-degree join (both sides hash(src)) plan
    * with NO further exchange, and the two references to the deduped
    * subtree reuse one shuffle. The first-draft shape — distinct →
    * degree-exchange → join-probe-exchange → trailing repartition —
    * paid 4 edge-scale exchanges for the same frame; this pays 2. The
    * distinct stays FIRST (map-side combined) so the raw-edge pass
    * still shrinks before any shuffle — at 100 TB the raw pair stream
    * is orders of magnitude bigger than the deduped set.
    *
    * Returns the frame pinned in `s`, counted: the count is the barrier
    * that materializes the layout before the rounds re-read it.
    */
  private def prepareUniform(s: Pins.Scope, edges: DataFrame): DataFrame = {
    val dedup = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")) // iteration joins reuse this layout
    s.materialize(dedup
      .join(dedup.groupBy("src").agg(count(lit(1)).as("od")), "src")
      .select(col("src"), col("dst"), col("od")))._1
  }

  /** Uniform contribution: each node splits its rank equally over its
    * out-edges — `r div od`, truncating (the replayable integer form).
    * One join + one map-side-combined sum per iteration; `od` rides on
    * the cached edge layout.
    */
  private def uniformContrib(e: DataFrame): DataFrame => DataFrame =
    r => e.join(r, e("src") === r("node"))
      .select(col("dst").as("node"), expr("r div od").as("c"))
      .groupBy("node").agg(sum("c").as("c"))

  /** `Unit_·(den−num) div den`, the rank update's constant term (shared by
    * both paths; overflow-checked like the rest of the recurrence).
    */
  private def rankBase(dampNum: Long, dampDen: Long): Long =
    Math.multiplyExact(Unit_, Math.subtractExact(dampDen, dampNum)) / dampDen

  /** One partition's answer to a [[gatherIntegral]] job: its row count
    * (capped), whether it saw a null, and its rows as one primitive array
    * per column — `null` when it withheld them for holding too many.
    */
  private final case class Gathered(rows: Long, hasNull: Boolean,
      cols: Array[Array[Long]])

  /** `df` as one primitive array per column, gathered to the driver in
    * one job — or `None` when it has more than `maxRows` rows, a
    * non-integral column or a null, the inputs the distributed loops keep.
    * This is the local-loop gate: the row count it decides on comes out
    * of the same job that ships the rows, so the gate costs no count
    * barrier and `df` is never persisted.
    *
    * What reaches the driver stays within `maxRows` rows in every case:
    * each task ships its rows only while its partition holds at most
    * `maxRows / numPartitions` of them; a bigger partition ships only its
    * count, and counts no further than `maxRows + 1`. When the total is
    * within the cap but some partitions withheld their rows (skew), a
    * second job reads just those partitions of the same RDD, so a shuffle
    * `df` ends in is read again, not recomputed. Rows come back in
    * partition order.
    */
  private[graft] def gatherIntegral(df: DataFrame,
      maxRows: Long): Option[Array[Array[Long]]] = {
    val integral = df.schema.forall(_.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    if (!integral) return None
    val w = df.schema.length
    val rdd = df.select(df.columns.map(c => col(c).cast(LongType)).toSeq: _*)
      .queryExecution.toRdd
    val countCap = if (maxRows == Long.MaxValue) maxRows else maxRows + 1
    // no job for no partitions (the scheduler would still post one)
    def gather(parts: Seq[Int], shipMax: Long): Array[Gathered] =
      if (parts.isEmpty) Array.empty
      else df.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => gatherPartition(it, w, shipMax, countCap),
        parts)
    val nParts = rdd.getNumPartitions
    val first = gather(0 until nParts, maxRows / math.max(nParts, 1))
    // each count is at most `countCap`: saturate rather than wrap
    val total = first.foldLeft(0L)((t, g) =>
      if (t > Long.MaxValue - g.rows) Long.MaxValue else t + g.rows)
    if (first.exists(_.hasNull) || total > maxRows) return None
    val withheld = first.indices.filter(first(_).cols == null)
    // the first job already read every row of these partitions, nulls
    // included: this one only ships them
    withheld.zip(gather(withheld, Long.MaxValue)).foreach { case (p, g) => first(p) = g }
    Some(Array.tabulate(w)(j => Array.concat(first.map(_.cols(j)).toSeq: _*)))
  }

  /** A [[gatherIntegral]] task over one partition: stops at the first null
    * or after `countCap` rows, and drops its buffers once past `shipMax`.
    */
  private def gatherPartition(it: Iterator[InternalRow], w: Int,
      shipMax: Long, countCap: Long): Gathered = {
    var out = Array.fill(w)(new scala.collection.mutable.ArrayBuilder.ofLong)
    var n = 0L
    while (n < countCap && it.hasNext) {
      val row = it.next()
      var j = 0
      while (j < w) {
        if (row.isNullAt(j)) return Gathered(n, hasNull = true, null)
        j += 1
      }
      n += 1
      if (n > shipMax) out = null
      if (out != null) {
        j = 0
        while (j < w) { out(j) += row.getLong(j); j += 1 }
      }
    }
    Gathered(n, hasNull = false, if (out == null) null else out.map(_.result()))
  }

  /** Each pair's out-degree `od` (as [[prepareUniform]] joins it in). */
  private def outDegrees(g: LocalGraph): Array[Long] = {
    val od = new Array[Long](g.ids.length)
    var k = 0
    while (k < g.src.length) { od(g.src(k)) += 1; k += 1 }
    val out = new Array[Long](g.src.length)
    k = 0
    while (k < out.length) { out(k) = od(g.src(k)); k += 1 }
    out
  }

  /** Each pair's `wn = (w·10⁶) div Σw` (as [[prepareWeighted]] derives
    * it, `Σw` over the source's out-edges), overflow-checked like Spark's
    * ANSI arithmetic on the distributed path.
    */
  private def normalizedWeights(g: LocalGraph): Array[Long] = {
    val (src, w) = (g.src, g.w)
    val sw = new Array[Long](g.ids.length)
    var k = 0
    while (k < src.length) { sw(src(k)) = Math.addExact(sw(src(k)), w(k)); k += 1 }
    val out = new Array[Long](src.length)
    k = 0
    while (k < out.length) {
      out(k) = Math.multiplyExact(w(k), Unit_) / sw(src(k))
      k += 1
    }
    out
  }

  /** Sorted distinct ids of `a ++ b`, and each endpoint's index among them.
    * The dense ids are monotone in the original ids, so a minimum over
    * dense ids is the minimum over the original ones.
    */
  private def denseIds(a: Array[Long],
      b: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    val ids = java.util.Arrays.copyOf(all, uniqueSorted(all))
    def index(x: Array[Long]): Array[Int] = {
      val out = new Array[Int](x.length)
      var k = 0
      while (k < x.length) { out(k) = java.util.Arrays.binarySearch(ids, x(k)); k += 1 }
      out
    }
    (ids, index(a), index(b))
  }

  /** Moves the distinct values of the sorted `xs` to its front, in order,
    * and returns how many there are.
    */
  private def uniqueSorted(xs: Array[Long]): Int = {
    var n = 0
    var k = 0
    while (k < xs.length) {
      if (n == 0 || xs(n - 1) != xs(k)) { xs(n) = xs(k); n += 1 }
      k += 1
    }
    n
  }

  /** A graph on the driver: `ids(v)` is dense node `v`'s original id, and
    * `(src(k), dst(k))` the distinct pairs over dense ids in `(src, dst)`
    * order, with `w(k)` their summed weights (empty when unweighted).
    */
  private[graft] final case class LocalGraph(ids: Array[Long],
      src: Array[Int], dst: Array[Int], w: Array[Long])

  /** The rank loops' driver-side dedup of a gathered raw edge stream: what
    * `distinct()` (or, given weights, [[weightedPairs]]) computes on the
    * distributed path. The endpoint ids are sorted once into dense ids
    * ([[denseIds]]); each pair then packs into one long
    * `srcDense << 32 | dstDense` (dense ids are non-negative ints, so the
    * packing orders by `(src, dst)` and never collides, whatever the
    * original ids), and the packed pairs are sorted and kept unique. With
    * weights, each raw row adds its `w` to its pair's sum with
    * `Math.addExact`, so a per-pair sum that overflows throws as Spark's
    * ANSI `sum` does.
    */
  private[graft] def localGraph(srcIds: Array[Long], dstIds: Array[Long],
      weights: Option[Array[Long]] = None): LocalGraph = {
    val (ids, src, dst) = denseIds(srcIds, dstIds)
    def pack(k: Int): Long = (src(k).toLong << 32) | dst(k).toLong
    val keys = new Array[Long](src.length)
    var k = 0
    while (k < keys.length) { keys(k) = pack(k); k += 1 }
    java.util.Arrays.sort(keys)
    val m = uniqueSorted(keys)
    val (ps, pd) = (new Array[Int](m), new Array[Int](m))
    k = 0
    while (k < m) { ps(k) = (keys(k) >>> 32).toInt; pd(k) = keys(k).toInt; k += 1 }
    val w = weights match {
      case None => Array.emptyLongArray
      case Some(raw) =>
        val sums = new Array[Long](m)
        k = 0
        while (k < raw.length) {
          val p = java.util.Arrays.binarySearch(keys, 0, m, pack(k))
          sums(p) = Math.addExact(sums(p), raw(k))
          k += 1
        }
        sums
    }
    LocalGraph(ids, ps, pd, w)
  }

  /** A driver-local loop's result as a one-partition frame: row `v` is
    * `(a(v), b(v))`, each value in its schema column's integral type. The
    * partition holds the two primitive arrays, not boxed rows (16 bytes a
    * node on the driver and in each task), and rows are built in the task.
    */
  private def oneTaskFrame(spark: SparkSession, schema: StructType,
      a: Array[Long], b: Array[Long]): DataFrame = {
    val (ta, tb) = (schema(0).dataType, schema(1).dataType)
    val rows = spark.sparkContext.parallelize(Seq((a, b)), 1).flatMap {
      case (a, b) =>
        a.indices.iterator.map(v => Row(idValue(ta, a(v)), idValue(tb, b(v))))
    }
    spark.createDataFrame(rows, schema)
  }

  /** An id held as Long, back in its column's integral type. */
  private def idValue(t: DataType, v: Long): Any = t match {
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case _ => v
  }

  /** The rank loops' driver-local rounds, run when [[gatherIntegral]]
    * shipped the raw rows of `raw` (an integral, null-free frame within
    * the gate) and [[localGraph]] deduplicated them into `g`.
    * `aux(g)` derives each pair's third operand on the
    * driver (`od`, `wn` or nothing — what the distributed prep joins in),
    * and every round runs over primitive arrays with the same integer
    * recurrence as [[iterateDistributed]]: `contrib(r, aux)` per edge
    * (`r div od`, `(r·wn) div 10⁶` or plain `r`), the update
    * `Unit_·(den−num) div den + (num·(c+share)) div den`, the dangling
    * share `Σr[dng] div nNodes` (skipped when `redistributeDangling` is
    * false), and the stop `Σ|r−r_old| ≤ stopDeltaMicro` with the same
    * `itersRun`. Arithmetic is overflow-checked (`Math.*Exact`), so an
    * overflowing input throws as Spark's ANSI arithmetic does on the
    * distributed path instead of wrapping. The ranks come back as a
    * one-partition frame with the same column names and types; the
    * release hooks are no-ops and nothing is registered with
    * [[graft.plans.ReleaseRegistry]] (`pinned` is false).
    */
  private def iterateLocal(raw: DataFrame, g: LocalGraph,
      aux: LocalGraph => Array[Long],
      contrib: (Long, Long) => Long, iters: Int, dampNum: Long,
      dampDen: Long, stopDeltaMicro: Long,
      redistributeDangling: Boolean = true): RankResult = {
    // node column exactly as the distributed rank table types it
    // (analysis only, no job)
    val nodeField = raw.select(col("src").as("node"))
      .union(raw.select(col("dst").as("node"))).schema.head
    val (ids, src, dst) = (g.ids, g.src, g.dst)
    val auxOf = aux(g)
    val n = ids.length
    val dng = new Array[Boolean](n)
    java.util.Arrays.fill(dng, true)
    var k = 0
    while (k < src.length) { dng(src(k)) = false; k += 1 }
    def dangMass(r: Array[Long]): Long = {
      var m = 0L
      var v = 0
      while (v < n) { if (dng(v)) m = Math.addExact(m, r(v)); v += 1 }
      m
    }
    val base = rankBase(dampNum, dampDen)
    var r = new Array[Long](n)
    java.util.Arrays.fill(r, Unit_)
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      i += 1
      val share = if (!redistributeDangling || n == 0) 0L else dangMass(r) / n
      val c = new Array[Long](n)
      k = 0
      while (k < src.length) {
        c(dst(k)) = Math.addExact(c(dst(k)), contrib(r(src(k)), auxOf(k)))
        k += 1
      }
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        next(v) = Math.addExact(base,
          Math.multiplyExact(dampNum, Math.addExact(c(v), share)) / dampDen)
        v += 1
      }
      if (stopDeltaMicro >= 0L) {
        var delta = 0L
        v = 0
        while (v < n) {
          delta = Math.addExact(delta,
            Math.absExact(Math.subtractExact(next(v), r(v))))
          v += 1
        }
        converged = delta <= stopDeltaMicro
      }
      r = next
    }
    val ranks = oneTaskFrame(raw.sparkSession,
      StructType(Seq(nodeField, StructField("rank_micro", LongType))), ids, r)
    RankResult(ranks, i, () => (), pinned = false)
  }

  /** The rank loops' distributed rounds, run when the gathered pairs are
    * above the gate ([[gatherIntegral]]). Each iteration
    * reads the previous rank table up to three times (edge join, dangling
    * scan, node-preserving left join) — composed lazily that triples the
    * lineage per step (27x the base subtree at 3 iterations). Materialize
    * each rank frame eagerly with truncated lineage and release the
    * parent: the plan stays one-iteration deep and the rank table
    * (|nodes| rows) is the only moving state.
    *
    * Round shape (r17): ONE materialization per round — the eager
    * truncate ([[graft.plans.Checkpoints.truncate]]) computes the round
    * directly into constant-depth checkpoint blocks. The earlier
    * persist → count-barrier → truncate-copy → unpersist shape paid an
    * extra block-copy job per intermediate round and briefly held two
    * copies of the rank table; at sf0.1 the loop family is
    * scheduling-bound (taskCpu/32 ≪ wall in every profile), so the extra
    * per-round job was pure wall. In convergence mode one probe over the
    * materialized blocks does double duty: the convergence delta AND the
    * NEXT round's dangling mass, so later rounds pay no separate
    * dangling scan.
    *
    * `e` arrives pinned in `s` and counted; `contrib(r)` must return
    * the aggregated `(node, c)` contribution table for rank table `r` —
    * the ONLY piece that differs between uniform and weighted PageRank.
    * `stopDeltaMicro < 0` disables the convergence check (fixed-iteration
    * mode pays no delta aggregate).
    *
    * Lifecycle: every generation is pinned in `s`, which frees the
    * superseded one each round (the persisted seed or a checkpoint) and,
    * if a round throws, everything the loop pinned. The edge layout, the
    * node set and the final frame come back as the [[RankResult]] hooks.
    */
  private def iterateDistributed(s: Pins.Scope, e: DataFrame,
      contrib: DataFrame => DataFrame, iters: Int, dampNum: Long,
      dampDen: Long, stopDeltaMicro: Long,
      redistributeDangling: Boolean = true): RankResult = {
    // whether a node dangles (no out-edges) never changes — resolve it
    // ONCE as a flag carried on the rank table, so each iteration's
    // dangling mass is a scan of the cached ranks instead of a per-round
    // anti-join. The node count is likewise loop-invariant: take both as
    // driver scalars and inline them as literals — two fewer broadcast
    // exchanges in every iteration's plan.
    val srcs = e.select(col("src")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // count barrier + the loop-invariant scalar
    val (nodesF, nNodes) = s.materialize(nodes.as("n")
      .join(srcs.as("s"), col("n.node") === col("s.src"), "left")
      .select(col("n.node").as("node"), col("s.src").isNull.as("dng")))
    var current = s.persist(nodesF.withColumn("r", lit(Unit_)))
    // dangling mass carried from the previous round's combined probe
    // (convergence mode only) — the round then pays no dangling scan
    var dangCarried: Option[Long] = None
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      i += 1
      val r = current
      val ct = contrib(r)
      // one tiny job over the materialized rank table (or the carried
      // value from the previous round's probe); both operands of the
      // share are non-negative, so Scala's / == SQL's truncating div and
      // the integer replay contract is untouched
      // Katz-style recurrences keep β fixed instead of recycling dangling
      // mass — skipping the probe saves one job per round there. Empty
      // graph: no rows exist, but the scalar division must still not throw
      val share =
        if (!redistributeDangling || nNodes == 0) 0L
        else dangCarried.getOrElse(r.where(col("dng"))
          .agg(coalesce(sum(col("r")), lit(0L))).head().getLong(0)) / nNodes
      val stepped = r.select(col("node"), col("dng"), col("r").as("r_old"))
        .join(ct, Seq("node"), "left")
        .select(col("node"), col("dng"), col("r_old"),
          (lit(rankBase(dampNum, dampDen)) +
            expr(s"($dampNum * (coalesce(c, 0L) + $share)) div $dampDen"))
            .as("r"))
      // ONE job materializes the round into constant-depth checkpoint
      // blocks. Composed lazily instead, round i's plan nests every prior
      // round's subtree and the DRIVER re-analyzes the growing tree for
      // each of the round's actions: profiled on pagerank_until as wall
      // 52 s vs task-wall 36 s vs CPU 21 s — the executors idle while
      // Catalyst chews lineage. (Set `graft.checkpoint.dir` to trade the
      // local copy for a RELIABLE checkpoint on a real cluster —
      // [[graft.plans.Checkpoints]].) Fixed-iteration mode never reads
      // r_old — drop it before materializing so the rank table stays lean.
      current = s.truncate(
        if (stopDeltaMicro >= 0L) stepped else stepped.drop("r_old"))
      // the superseded parent: round 1's persisted seed or a checkpoint
      s.release(r)
      if (stopDeltaMicro >= 0L) {
        // combined probe over the materialized blocks: convergence delta
        // (no extra join — the step carried its parent rank in r_old)
        // plus the next round's dangling mass
        val row = current.agg(
          coalesce(sum(abs(col("r") - col("r_old"))), lit(0L)),
          coalesce(sum(when(col("dng"), col("r"))), lit(0L))).head()
        converged = row.getLong(0) <= stopDeltaMicro
        dangCarried = Some(row.getLong(1))
      }
    }
    // `release` frees the edge layout, the node set and a persisted final
    // frame; the final checkpoint (when a round ran) is also queued on
    // the registry's invalidating tier, since no caller's release() frees it
    val (release, releaseAll) = s.handOff("graph.rank_checkpoint", e, nodesF, current)
    RankResult(current.select(col("node"), col("r").as("rank_micro")), i,
      release, releaseAll)
  }

  /** Edge prep without the out-degree column (Katz's contribution is an
    * UNNORMALIZED in-neighbor sum — pre-joining a degree nobody reads
    * would pay an aggregate + join at prep for nothing): dedup, lay out
    * on `src` once, pin it in `s`, and count as the barrier that
    * materializes the layout before the rounds re-read it. Read by Katz's distributed
    * rounds and by [[hits]]; Katz's driver-local path gathers the raw
    * pairs and dedups them on the driver instead.
    */
  private def preparePlain(s: Pins.Scope, edges: DataFrame): DataFrame =
    s.materialize(edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")))._1

  /** Unnormalized contribution: each in-neighbor donates its full score
    * (`Σ_{j→i} r_j` — the Katz recurrence's matrix term). One join + one
    * map-side-combined sum per iteration on the cached edge layout.
    */
  private def plainContrib(e: DataFrame): DataFrame => DataFrame =
    r => e.join(r, e("src") === r("node"))
      .select(col("dst").as("node"), col("r").as("c"))
      .groupBy("node").agg(sum("c").as("c"))

  /** Bounded-round Katz centrality `x ← β + α·Aᵀx` in integer
    * micro-units, with the attenuation `α = alphaNum/alphaDen` and
    * `β = (1−α)·unit` (the scaling that keeps scores commensurate with
    * the other rank variants' micro-units and every step exactly
    * integer: `β_micro = unit·(alphaDen−alphaNum) div alphaDen`).
    * Unlike PageRank, a node's donation is NOT split across its
    * out-edges and dangling mass is NOT recycled — Katz counts
    * attenuated walk arrivals, so high-out-degree hubs radiate full
    * strength to every neighbor. Fixed `iters` rounds = the k-truncated
    * Katz series, replayable exactly by unrolled CTEs.
    *
    * Scale shape: identical to [[pageRank]] — the shared rank
    * loops (edges partitioned+persisted once, rank table the only moving
    * state, one eager-checkpoint job per round; driver-local rounds over
    * the gathered raw pairs for small graphs), minus the one dangling-mass job per round the
    * `redistributeDangling=false` switch removes.
    */
  def katzCentrality(edges: DataFrame, iters: Int = 3,
      alphaNum: Long = 20L, alphaDen: Long = 100L): DataFrame = {
    val res = katzCore(edges, iters, alphaNum, alphaDen)
    if (res.pinned) Pins.queue("graph.katz")(res.release)
    res.ranks.select(col("node"), col("rank_micro").as("katz_micro"))
  }

  /** [[katzCentrality]]'s loop with the local-loop gate exposed; the
    * scores are in `rank_micro`.
    */
  private[graft] def katzCore(edges: DataFrame, iters: Int, alphaNum: Long,
      alphaDen: Long, localMaxRows: Long = LocalLoopMaxRows): RankResult = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"katz: need 0 < alpha < 1, got $alphaNum/$alphaDen")
    val raw = edges.select(col("src"), col("dst"))
    gatherIntegral(raw, localMaxRows) match {
      case Some(Array(src, dst)) =>
        iterateLocal(raw, localGraph(src, dst), g => new Array[Long](g.src.length),
          (r, _) => r, iters, alphaNum, alphaDen, stopDeltaMicro = -1L,
          redistributeDangling = false)
      case _ => Pins.scope { s =>
        val e = preparePlain(s, edges)
        iterateDistributed(s, e, plainContrib(e), iters, alphaNum, alphaDen,
          stopDeltaMicro = -1L, redistributeDangling = false)
      }
    }
  }

  /** Bounded-round HITS (hubs & authorities) in integer micro-units:
    * `a_k = Aᵀ·h_{k-1}`, `h_k = A·a_k`, each rescaled after its step so
    * the MEAN score returns to ~unit — the integer stand-in for the
    * classic norm, and the piece that makes bounded rounds safe (raw
    * power iteration grows scores by a degree factor per half-step and
    * would overflow BIGINT by round 3 on a hubby graph). The scale is
    * `s = max(1, Σscore div (n·unit))` and every node divides by it
    * (truncating) — a pure-integer, engine-exact normalization; the Σ
    * probes are one scalar aggregate per half-step and double as the
    * materialization barriers (the rank loops' discipline). On the
    * bipartite trade graph hubs are suppliers and authorities customers —
    * the two sides never mix, which is HITS' natural reading there.
    *
    * Output `(node, hub_micro, auth_micro)` over ALL nodes (0 for the
    * missing role). Scale shape: edges partitioned+persisted once; each
    * half-step is one equi-join against that fixed layout + one
    * map-side-combined sum; both score tables are |nodes|-bounded and
    * lineage-truncate per round ([[graft.plans.Checkpoints.truncate]]).
    * The superseded score checkpoints free each half-step; the edge
    * layout and the final two checkpoints go to the registry (the layout
    * to the safe tier), and a failed round frees them all.
    */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = Pins.scope { s =>
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val e = preparePlain(s, edges)
    // loop-invariant role cardinalities (driver scalars, like nNodes in
    // the rank loops)
    val nHub = e.select("src").distinct().count()
    val nAuth = e.select("dst").distinct().count()
    var h = s.truncate(
      e.select(col("src").as("node")).distinct().withColumn("s", lit(Unit_)))
    var hCp = h // the checkpoint backing h (h itself may be a lazy rescale)
    var a: DataFrame = null
    var aCp: DataFrame = null
    // ONE materialization per half-step ([[iterateDistributed]]'s r17 round shape):
    // the UNSCALED aggregate checkpoints eagerly, the Σ probe reads its
    // blocks, and the rescale stays a LAZY projection over the checkpoint
    // (recomputed per read — one integer division, read at most twice) —
    // the old persist → probe → truncate-copy → unpersist paid an extra
    // block-copy job per half-step. Release targets the backing
    // checkpoint, not the projection (a projection is not a pin).
    def halfStep(from: DataFrame, joinKey: String, outKey: String,
        n: Long): (DataFrame, DataFrame) = {
      val raw = s.truncate(
        e.join(from, e(joinKey) === from("node"))
          .select(e(outKey).as("node"), col("s"))
          .groupBy("node").agg(sum("s").as("s_raw")))
      // Σ probe over the materialized blocks = the round's normalization
      val tot = raw.agg(coalesce(sum("s_raw"), lit(0L))).head().getLong(0)
      val scale = math.max(1L, tot / (math.max(1L, n) * Unit_))
      (raw.select(col("node"), expr(s"s_raw div $scale").as("s")), raw)
    }
    for (_ <- 1 to iters) {
      val (aNew, aCpNew) = halfStep(h, "src", "dst", nAuth)
      if (aCp != null) s.release(aCp)
      a = aNew; aCp = aCpNew
      val (hNew, hCpNew) = halfStep(a, "dst", "src", nHub)
      s.release(hCp)
      h = hNew; hCp = hCpNew
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    s.keep("graph.hits", e, hCp, aCp)
    nodes
      .join(h.select(col("node"), col("s").as("hub_micro")), Seq("node"), "left")
      .join(a.select(col("node"), col("s").as("auth_micro")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_micro"), lit(0L)).as("hub_micro"),
        coalesce(col("auth_micro"), lit(0L)).as("auth_micro"))
  }

  /** The supplier→customer trade graph: one directed edge per (supplier,
    * customer) pair that ever transacted (lineitem ⨝ orders). Node ids
    * are BIGINT with disjoint parity — `2·suppkey` (even) vs
    * `2·custkey+1` (odd) — so the two key spaces cannot collide while
    * every iteration's join/shuffle keys stay fixed-width integers
    * (string-prefixed ids measurably tax the per-iteration shuffles:
    * hash + compare on varlen UTF8 in the hottest loop of the engine).
    * Customers have no out-edges — the graph is all-dangling on one
    * side, which exercises the dangling-mass redistribution for real.
    */
  def tradeEdges(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .join(graft.Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      // cast BEFORE the multiply: if the parquet keys are int32, the
      // doubling would wrap at custkey > 2^30 instead of widening — the
      // BIGINT encoding must hold at any scale factor
      .select((col("l_suppkey").cast("long") * 2).as("src"),
        (col("o_custkey").cast("long") * 2 + 1).as("dst"))

  /** Part co-occurrence edges: an undirected edge between every pair of
    * parts appearing in the same order (the "bought together" graph — the
    * trade graph is bipartite and so triangle-free; this one is not).
    * Per-order fanout is C(items, 2), bounded by order width.
    *
    * Shape: ONE map-side-combined exchange on the order key builds each
    * order's part set, and the pairs expand per order by exploding
    * the set twice and keeping `src < dst` (the set is distinct, so that
    * is one row per pair, and per-order uniqueness holds by construction)
    * — no (ok, pk) distinct, no order-key self-join. The first-draft
    * distinct → self-join → distinct form paid 3 exchanges plus a join for
    * the identical edge multiset. Both explodes and the filter are
    * whole-stage code-generated; the earlier in-array expansion
    * (`flatten(transform(ps, (x, i) -> transform(slice(…), y ->
    * named_struct(…))))`) emitted half the rows but ran interpreted, per
    * row: lambda variables, a `slice` copy and a struct per pair, which
    * was most of label propagation's gather job in profiles
    * (`ArrayTransform.eval`, `Slice.nullSafeEval`, `CreateNamedStruct.eval`).
    *
    * Contract: rows are per-(order, pair) — a pair bought together in
    * k orders appears k times. Every graph consumer canonicalizes its
    * input (least/greatest + distinct) anyway, so the cross-order
    * collapse rides the distinct the caller already pays instead of a
    * second corpus-scale exchange here; callers that need the collapsed
    * edge set itself (fixture probes) add their own `.distinct()`.
    */
  def coOccurrenceEdges(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(col("ps"), explode(col("ps")).as("src"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .where(col("src") < col("dst"))

  /** The supplier→customer trade graph with transacted value as the edge
    * weight (cents, summed per pair) — the input [[pageRankWeighted]]
    * wants: a supplier's rank flows toward the customers that actually
    * carry its volume. Same even/odd BIGINT node encoding as
    * [[tradeEdges]].
    */
  def tradeEdgesWeighted(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir)
      .join(graft.Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey").cast("long") * 2).as("src"),
        (col("o_custkey").cast("long") * 2 + 1).as("dst"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("w"))

  /** Community labels by `iters` rounds of min-label propagation over the
    * UNDIRECTED graph: label₀(v) = v, labelᵢ₊₁(v) = min(labelᵢ(v),
    * min over neighbors labelᵢ(u)). After k rounds every node carries the
    * smallest node id within k hops — connected components once k reaches
    * the component diameter, coarse community seeds before that. A FIXED
    * iteration count (unlike `Dedup.resolveClusters`' fixpoint loop) so
    * any engine replays the rounds exactly; pair with
    * [[graft.operators.Dedup.resolveClusters]] when full components are
    * wanted.
    *
    * Scale shape: the doubled edge list is partitioned once on the probe
    * side and persisted; each round is one equi-join (labels move, edges
    * don't) plus one map-side-combined min aggregate, materialized in one
    * eager-checkpoint job as in [[pageRank]]'s loop. Label table is
    * |nodes| rows × 2 ints — the only moving state. Small graphs run the
    * rounds on the driver instead ([[labelPropagateReleasable]]). The
    * final label cache's release hook is queued with the registry.
    */
  def labelPropagate(edges: DataFrame, iters: Int = 3): DataFrame = {
    val (labels, release) = labelPropagateCore(edges, iters)
    release.foreach(Pins.queue("graph.label_prop"))
    labels
  }

  /** [[labelPropagate]] plus a release hook for the final label cache the
    * returned plan pins (the [[pageRankReleasable]] contract: call after
    * materializing; lineage stays intact, so a later recompute is slow
    * but correct).
    *
    * Same gate as the rank loops: the canonical `(least, greatest)` rows
    * without self-loops are gathered raw, before any dedup
    * ([[gatherIntegral]], one job, no shuffle of its own, no layout, no
    * persist), and when their doubled count is at most
    * [[LocalLoopMaxRows]] with integral, non-null ids, the min-label
    * rounds run on the driver over dense int ids (monotone in the
    * original ids, so the minima agree), each row read in both
    * directions. The driver does not dedup the rows: a minimum is
    * idempotent, so a duplicate pair changes no label, and skipping the
    * dedup saves the pair sort. The labels come back as a one-partition
    * frame with the distributed path's column names and types, and the
    * hook is a no-op. Above the gate the rows are deduplicated, doubled,
    * laid out on `b`, persisted and counted for the distributed rounds.
    */
  def labelPropagateReleasable(edges: DataFrame,
      iters: Int = 3): (DataFrame, () => Unit) = {
    val (labels, release) = labelPropagateCore(edges, iters)
    (labels, release.getOrElse(() => ()))
  }

  /** [[labelPropagateReleasable]] with the local-loop gate exposed; the
    * hook is `None` when the rounds ran driver-local and nothing is pinned.
    */
  private[graft] def labelPropagateCore(edges: DataFrame, iters: Int,
      localMaxRows: Long = LocalLoopMaxRows): (DataFrame, Option[() => Unit]) = {
    val rows = canonicalRows(edges)
    gatherIntegral(rows, localMaxRows / 2) match {
      case Some(Array(a, b)) =>
        val nodeField = rows.schema("a").copy(name = "node")
        val (ids, ai, bi) = denseIds(a, b)
        var label = new Array[Int](ids.length)
        var v = 0
        while (v < label.length) { label(v) = v; v += 1 }
        for (_ <- 0 until iters) {
          val next = label.clone()
          var k = 0
          while (k < ai.length) {
            if (label(bi(k)) < next(ai(k))) next(ai(k)) = label(bi(k))
            if (label(ai(k)) < next(bi(k))) next(bi(k)) = label(ai(k))
            k += 1
          }
          label = next
        }
        val labelIds = new Array[Long](ids.length)
        v = 0
        while (v < labelIds.length) { labelIds(v) = ids(label(v)); v += 1 }
        (oneTaskFrame(rows.sparkSession,
          StructType(Seq(nodeField, nodeField.copy(name = "label"))),
          ids, labelIds),
          None)
      case _ => Pins.scope { s =>
        val und = rows.distinct()
        val doubled = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
        // count barrier: materialize before the rounds re-read it; the
        // label join probes on b each round
        val (e, _) = s.materialize(doubled.repartition(col("b")))
        val (labels, release) = labelPropagateDistributed(s, e, iters)
        (labels, Some(release))
      }
    }
  }

  /** [[labelPropagateCore]]'s distributed rounds over the doubled edge
    * frame `e`, pinned in `s` and counted; `e` is freed when `s` exits.
    */
  private def labelPropagateDistributed(s: Pins.Scope, e: DataFrame,
      iters: Int): (DataFrame, () => Unit) = {
    var labels = s.materialize(e.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")))._1
    // the last intermediate checkpoint, which backs the final frame
    var backing: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val nbrMin = e.join(labels, e("b") === labels("node"))
        .groupBy(e("a").as("node")).agg(min("label").as("nl"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // INTERMEDIATE rounds materialize in ONE job straight into
      // constant-depth checkpoint blocks ([[iterateDistributed]]'s r17 round shape —
      // the old persist → count → truncate-copy paid an extra block-copy
      // job per round); the FINAL round stays a plain persisted frame so
      // the returned hook's unpersist is always safe, with its lineage
      // backed by the last intermediate checkpoint, which stays pinned
      // (handed to the registry's invalidating tier below)
      val last = i == iters - 1
      val next = if (last) s.materialize(stepped)._1 else s.truncate(stepped)
      if (last && i > 0) backing = Some(labels) else s.release(labels)
      labels = next
    }
    val (release, _) = s.handOff("graph.label_checkpoint", labels +: backing.toSeq: _*)
    (labels, release)
  }

  /** Community rollup — the materialize-then-release composition pattern
    * for operator authors, end to end: run [[labelPropagateReleasable]],
    * aggregate the label table down to one row per community (label,
    * member count), persist + count THAT small result, then immediately
    * release the corpus-scale label cache the propagation pinned. The
    * session carries only the community-sized result (its own release is
    * queued with the registry), never the intermediate state — repeated
    * invocations cannot accumulate label caches no matter how the caller
    * uses the returned frame. When the propagation ran driver-local it
    * pinned nothing, so there is no cache to drop and the rollup is
    * returned as a plain lazy frame: no persist, no count, nothing queued.
    */
  def communities(edges: DataFrame, iters: Int = 3): DataFrame =
    communitiesCore(edges, iters)

  /** [[communities]] with the local-loop gate exposed. */
  private[graft] def communitiesCore(edges: DataFrame, iters: Int,
      localMaxRows: Long = LocalLoopMaxRows): DataFrame = {
    val (labels, releaseLabels) = labelPropagateCore(edges, iters, localMaxRows)
    val rollup = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min("node").as("min_node"),
        max("node").as("max_node"))
    // materialize BEFORE dropping the label cache
    releaseLabels.fold(rollup) { release =>
      try Pins.materialize("graph.communities", rollup)._1 finally release()
    }
  }

  /** Newman modularity decomposition of a community assignment: per
    * community, `q_contrib = m_c/m − (d_c/2m)²` (within-community edge
    * fraction minus the random-graph expectation); Σ q_contrib is the
    * modularity Q ∈ [−0.5, 1] that says whether the label-propagation
    * communities are real structure (Q ≫ 0) or noise (Q ≈ 0) — the
    * accept/reject gate before community labels drive anything
    * downstream (sampling strata, per-community dedup budgets).
    *
    * Every input to the FP expression is an exact integer (`in_edges`,
    * `deg_sum`, `m`), so `e/m − d·d` with one rounded report is
    * engine-identical — no summation-order hazard.
    *
    * Scale shape: the propagation's per-round cost dominates; on top of
    * it one edge-scale join pair against the (broadcastable) label
    * table for within-community edges, one degree aggregate, and a
    * per-community rollup bounded by community count.
    */
  def modularity(edges: DataFrame, iters: Int = 3): DataFrame = Pins.scope { s =>
    val (und, m) = s.materialize(canonical(edges))
    // propagate over the PERSISTED canonical edge list: handing the raw
    // frame to the propagation would run the caller's edge generation
    // (e.g. the co-occurrence self-join) twice — once inside the
    // propagation's own canonicalization, once for the moments below.
    // Re-canonicalizing `und` inside the propagation is one cheap
    // distinct over an already-distinct cached frame. (Isolated sf0.1
    // medians 6.62 → 6.40 s — propagation dominates locally, but the
    // duplicate generation is pure waste at any scale and grows with
    // the caller's generation cost, e.g. a wide co-occurrence fanout.
    // The driver-local propagation gathers `und` as it is, with no
    // distinct at all.)
    val (labels, releaseLabels) = labelPropagateReleasable(
      und.select(col("a").as("src"), col("b").as("dst")), iters)
    // the label and edge caches drop when the scope exits, after the
    // result below is materialized
    s.defer(releaseLabels)
    val inEdges = und
      .join(labels.as("la"), col("a") === col("la.node"))
      .join(labels.as("lb"), col("b") === col("lb.node"))
      .where(col("la.label") === col("lb.label"))
      .groupBy(col("la.label").as("community"))
      .agg(count(lit(1)).as("in_edges"))
    val deg = und.select(col("a").as("dnode"))
      .unionAll(und.select(col("b").as("dnode")))
      .groupBy("dnode").agg(count(lit(1)).as("dg"))
    val perC = labels.join(deg, labels("node") === deg("dnode"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), sum("dg").as("deg_sum"))
    val ds = col("deg_sum").cast("double") / lit(2.0 * m)
    Pins.materialize("graph.modularity", perC.join(inEdges, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"), col("deg_sum"),
        round(coalesce(col("in_edges"), lit(0L)).cast("double") / lit(m.toDouble)
          - ds * ds, 6).as("q_contrib")))._1
  }

  /** Per-node triangle counts via degree-ordered edge orientation (the
    * standard compact-forward / Schank-Wagner scheme): orient every edge
    * from its lower-(degree, id) endpoint to the higher, enumerate wedges
    * on the oriented out-neighborhoods, and close each wedge against the
    * oriented edge set. Orientation bounds every out-degree by O(√E), so
    * wedge count — the dominant intermediate — is O(E^{3/2}) instead of
    * Σ deg² (which a hub node would blow up quadratically).
    *
    * The (degree, id) order is packed into one long key `deg·2^32 + id` so
    * the wedge and closure joins are single-column equi/range conditions —
    * node ids must be non-negative ints (< 2^32) and degrees < 2^31, which
    * any keyed fixture satisfies; the id recovers as `key % 2^32`.
    *
    * Scale shape: three shuffles (degree aggregate, wedge join on the
    * shared out-endpoint, closure join on the wedge's far pair) — each an
    * equi-join Catalyst plans as shuffled hash/sort-merge with AQE skew
    * splitting; nothing is driver-side and nothing is quadratic in any
    * node's raw degree.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    trianglePipeline(edges)._2

  /** Packed-key contract bound: the `deg·2³² + id` and `u·2³² + v`
    * BIGINT packings need every node id in `[0, 2³¹)` — above 2³¹ the
    * high word overflows the sign bit and div/pmod recovery breaks, so
    * the guard threshold is 2³¹, not 2³². Checked at runtime from the
    * same single job that was already the edge frame's count barrier;
    * out-of-range graphs route through [[denseIdMap]] instead of
    * silently colliding keys (TPC-H partkey cardinality is 200k×SF —
    * above SF ≈ 10,700 raw ids cross this bound).
    */
  private val PackMaxId = 2147483648L // 2^31

  /** The undirected edge set: each pair once as `(a < b)`, self-loops
    * dropped.
    */
  private def canonical(edges: DataFrame): DataFrame =
    canonicalRows(edges).distinct()

  /** [[canonical]] before its dedup: one `(a, b)` row per input edge that
    * is not a self-loop, duplicates kept (the driver-local label
    * propagation gathers these).
    */
  private def canonicalRows(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))

  /** Edge-frame stats in ONE job — the count doubles as the
    * materialization barrier the callers already paid: (nEdges, minId,
    * maxId) over a canonical `(a < b)` edge frame.
    */
  private def edgeStats(und: DataFrame): (Long, Long, Long) = {
    val r = und.agg(count(lit(1)),
      coalesce(min(col("a")), lit(0L)),
      coalesce(max(col("b")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Monotone dense re-id for graphs whose node ids violate the packing
    * contract: each id maps to its 0-based rank in ascending id order.
    * The map is strictly increasing, so least/greatest canonicalization,
    * the (deg, id) orientation order, and (u, v) tie-breaks are all
    * preserved — results are identical after mapping back. The global
    * rank is a single-partition window sort of |V| rows: acceptable
    * exactly because this is the correctness fallback, not the hot path
    * (the packed fast path handles every id under 2³¹).
    */
  private def denseIdMap(und: DataFrame, label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (m, n) = Pins.materialize(label, und.select(col("a").as("orig"))
      .union(und.select(col("b").as("orig"))).distinct()
      .select(col("orig"),
        (row_number().over(Window.orderBy("orig")).cast("long") - 1L).as("nid")))
    require(n < PackMaxId,
      s"graph id remap ($label): $n nodes exceed the 2^31 packed-key bound")
    m
  }

  /** Remapped canonical edges `(a, b)` in dense id space (monotone, so
    * `a < b` still holds), persisted behind a count barrier.
    */
  private def denseEdges(und: DataFrame, m: DataFrame, label: String): DataFrame =
    Pins.materialize(label, und
      .join(m.select(col("orig").as("a"), col("nid").as("na")), "a")
      .join(m.select(col("orig").as("b"), col("nid").as("nb")), "b")
      .select(col("na").as("a"), col("nb").as("b")))._1

  /** The shared oriented-triangle core: returns `(deg, tri)` — the
    * undirected degree table and per-node triangle counts (nodes with no
    * triangle absent from `tri`). The canonical edge list persists behind
    * a count barrier so the degree aggregate, the keying joins, AND any
    * caller reuse of `deg` (e.g. [[clusteringCoefficient]]'s final join)
    * all read one materialization of the caller's edge generation — the
    * same duplicate-generation guard [[modularity]] carries. Ids outside
    * the packed-key contract ([[PackMaxId]]) detour through the monotone
    * dense re-id and map back at the end — same counts, original ids.
    */
  private[graft] def trianglePipeline(edges: DataFrame,
      broadcastMaxRows: Long = 5000000L): (DataFrame, DataFrame) = {
    val (und, (nEdges, minId, maxId)) =
      Pins.materializeWith("graph.triangles_edges", canonical(edges))(edgeStats)
    if (minId >= 0 && maxId < PackMaxId)
      trianglesPacked(und, nEdges, broadcastMaxRows)
    else {
      val m = denseIdMap(und, "graph.triangles_idmap")
      val dense = denseEdges(und, m, "graph.triangles_dense")
      val (degD, triD) = trianglesPacked(dense, nEdges, broadcastMaxRows)
      def back(df: DataFrame, valueCol: String): DataFrame =
        df.join(m, df("node") === m("nid"))
          .select(col("orig").as("node"), col(valueCol))
      (back(degD, "dg"), back(triD, "n_tri"))
    }
  }

  /** [[trianglePipeline]]'s packed-key core — requires every id in
    * `[0, 2³¹)` (caller-guarded). `und` arrives canonical, persisted and
    * materialized.
    */
  private def trianglesPacked(und: DataFrame, nEdges: Long,
      broadcastMaxRows: Long): (DataFrame, DataFrame) = {
    val SHIFT = 4294967296L // 2^32
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val keyed = und
      .join(deg.select(col("node").as("a"), (col("dg") * SHIFT + col("a")).as("ka")), "a")
      .join(deg.select(col("node").as("b"), (col("dg") * SHIFT + col("b")).as("kb")), "b")
    // The oriented edge frame feeds the adjacency build AND the probe
    // stream. Without a materialization barrier the distinct → degree-agg
    // → double-join subtree recomputes per leg (exchange reuse only fires
    // when the exchanges end up identical, which the different downstream
    // keys do not guarantee) — measured 3× plan-time on a 1.2M-edge
    // fixture. Persist behind a count barrier; release queued with the
    // registry so hosts drain it at the materialization boundary.
    val (o, _) = Pins.materialize("graph.triangles",
      keyed.select(least(col("ka"), col("kb")).as("kx"),
        greatest(col("ka"), col("kb")).as("ky")))
    // Closure by SORTED-ADJACENCY INTERSECTION, not wedge expansion: the
    // first-draft e1⋈e2 self-join materialized every oriented wedge
    // (Σ out-deg² rows — 41M at sf0.1 for 1.2M edges) through a full
    // exchange + sort into a closure sort-merge join against the edge
    // set; a count-gated broadcast of the e2/e3 legs was A/B-profiled and
    // measured WORSE on task CPU (41M random hash probes lose to the
    // merge join's sequential scans). This form never materializes a
    // wedge row: each edge (kx, ky) carries the two nodes' sorted
    // out-neighbor arrays and the codegen'd [[graft.functions.SetFunctions
    // .sortedIntersect]] merge emits exactly the triangles (far endpoints
    // w > ky by key order, each triangle found once at its base edge).
    // Same total merge work as the wedge join's probe side (Σ out-deg²
    // ≈ 83M three-instruction loop steps at sf0.1) but zero wedge-scale
    // shuffle/sort, and the explode is 2·|E| + |triangles| rows (4.3M)
    // instead of 41M. The adjacency table is |V| rows / |E| total cells
    // (10 MB at sf0.1) — broadcast under the same driver-safe count gate
    // as [[kCore]]; above the gate both joins plan shuffled and the
    // arrays cross one exchange each, still edge-scale rows, never
    // wedge-scale.
    val adj = o.groupBy(col("kx").as("k"))
      .agg(sort_array(collect_list(col("ky"))).as("ns"))
    val hint: DataFrame => DataFrame =
      if (nEdges <= broadcastMaxRows) df => broadcast(df) else identity
    val isect = graft.functions.SetFunctions.sortedIntersect(
      col("na"), col("nb"))
    val tri = o
      .join(hint(adj.select(col("k").as("kx"), col("ns").as("na"))), Seq("kx"))
      .join(hint(adj.select(col("k").as("ky"), col("ns").as("nb"))), Seq("ky"))
      .select(col("kx"), col("ky"), isect.as("ws"))
      .where(size(col("ws")) > 0)
      .select(explode(concat(
        array(
          struct(col("kx").as("k"), size(col("ws")).cast("long").as("c")),
          struct(col("ky").as("k"), size(col("ws")).cast("long").as("c"))),
        expr("transform(ws, w -> named_struct('k', w, 'c', 1L))"))).as("t"))
      .select((col("t.k") % SHIFT).as("node"), col("t.c").as("c"))
      .groupBy("node").agg(sum("c").as("n_tri"))
    (deg, tri)
  }

  /** Per-node local clustering coefficient in integer micro-units:
    * `lcc = 2·n_tri·10⁶ div (dg·(dg−1))` — what fraction of a node's
    * neighbor pairs are themselves connected, the standard
    * community-density signal next to the global [[modularity]]. Exact
    * integer output (truncating div), replayed verbatim by extending the
    * triangles oracle CTE; degree-0/1 nodes report 0.
    *
    * Scale shape: [[trianglePipeline]]'s O(E^{3/2}) wedge bound plus one
    * |V|-row left join of the (persisted-edge-derived) degree table with
    * the triangle counts — no new corpus-scale stage.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val (deg, tri) = trianglePipeline(edges)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("dg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("dg") >= 2,
          expr("(2000000 * coalesce(n_tri, 0L)) div (dg * (dg - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Resource-allocation link prediction (Zhou–Lü–Zhang's RA index):
    * for every NON-adjacent pair (u, v) sharing at least one neighbor,
    * `ra = Σ over common neighbors z of 10⁶ div deg(z)` — each shared
    * neighbor donates inverse-degree evidence, so selective co-neighbors
    * count and promiscuous hubs barely do. The standard "which edges are
    * missing" primitive (recommendations, knowledge-graph completion)
    * over the same co-occurrence graphs the triangle family reads.
    * Returns the global top-`topK` candidates
    * `(u, v, n_common, ra_micro)`, ties broken on (u, v) — fully
    * deterministic, exact integer replay.
    *
    * Scale shape: wedges enumerate from their CENTER z, so the count is
    * `Σ_{deg(z) ≤ maxHubDegree} deg(z)²` — the `maxHubDegree` cap is the
    * declared (not silent) truncation that keeps a power-law tail from
    * going quadratic: a super-hub's wedges are each worth under
    * `10⁶/maxHubDegree` micro-units, RA's own premise that hub evidence
    * is weak. One self-join on the center key + one map-side-combined
    * sum + an anti-join against the (canonical) edge list; the top-k is
    * a TakeOrdered (per-partition heads merged on the driver), never a
    * global sort.
    */
  def linkPredictionRA(edges: DataFrame, maxHubDegree: Long = 128L,
      topK: Int = 100): DataFrame = {
    require(maxHubDegree >= 2, s"linkPredictionRA: cap must be >= 2")
    val (und, (nEdges, minId, maxId)) =
      Pins.materializeWith("graph.linkpred_edges", canonical(edges))(edgeStats)
    raGuarded(und, nEdges, minId, maxId, maxHubDegree, topK)
  }

  /** Packed-key guard in front of [[raOnCanonical]]: ids inside the
    * contract run the packed core directly; out-of-range graphs detour
    * through the monotone dense re-id (which preserves every comparison
    * the scoring relies on — canonical order, tie-breaks, top-k), then
    * map the winning pairs back to original ids and re-assert the
    * declared ordering (the back-join does not preserve row order).
    */
  private def raGuarded(und: DataFrame, nEdges: Long, minId: Long,
      maxId: Long, maxHubDegree: Long, topK: Int): DataFrame =
    if (minId >= 0 && maxId < PackMaxId)
      raOnCanonical(und, nEdges, maxHubDegree, topK)
    else {
      val m = denseIdMap(und, "graph.linkpred_idmap")
      val dense = denseEdges(und, m, "graph.linkpred_dense")
      raOnCanonical(dense, nEdges, maxHubDegree, topK)
        .join(m.select(col("orig").as("uo"), col("nid").as("u")), "u")
        .join(m.select(col("orig").as("vo"), col("nid").as("v")), "v")
        .select(col("uo").as("u"), col("vo").as("v"),
          col("n_common"), col("ra_micro"))
        .orderBy(col("ra_micro").desc, col("u"), col("v"))
    }

  /** The RA scoring pipeline over an already-canonical, already-
    * materialized edge frame `(a < b, unique)` — shared by
    * [[linkPredictionRA]] and [[linkPredictionCore]] (whose peel output
    * is canonical by construction; re-canonicalizing it cost one full
    * distinct shuffle of the core edge set for an identical frame).
    *
    * Three measured shuffle cuts vs the first-draft shape (all
    * output-identical; sf0.1 wedge volume: 73.7M wedge rows → 60M
    * distinct pairs):
    *
    *  - the candidate pair packs into ONE BIGINT key `u·2³² + v` for the
    *    score aggregate — half the grouping-key bytes through the
    *    corpus-scale exchange and a single-word hash/compare in the
    *    60M-key hash aggregate. Node ids must be non-negative and
    *    < 2³² — the SAME documented fixture contract as
    *    [[triangleCounts]]' degree-id packing; ids recover exactly as
    *    `(uv div 2³², uv % 2³²)`.
    *  - the existing-edge exclusion rides the SAME aggregate as marker
    *    rows (`c` null, `adj` true) instead of a second corpus-scale
    *    anti-join: the old shape re-shuffled and SORTED all 60M
    *    aggregated rows against the edge list; the markers add |E| rows
    *    to an exchange that already carries 74M and the exclusion
    *    becomes a post-aggregate filter. `n_common = count(c)` counts
    *    only wedge rows (markers are null), so scores are untouched.
    *  - the per-wedge contribution `10⁶ div deg(z)` is computed ONCE per
    *    (z, n) edge slot BEFORE the wedge self-join, not once per wedge
    *    — the join carries a narrow (z, n, c) row and the division
    *    drops out of the O(Σdeg²) hot loop.
    *
    * The wedge self-join's build side takes an explicit broadcast hint
    * only when the doubled edge list is driver-safe
    * (`2·|E| ≤ broadcastMaxRows`, [[kCore]]'s gate): wedges then stream
    * from the cached edge list straight into the score aggregate's
    * exchange with no pre-join shuffle at all. Above the gate the hint
    * is withheld and Catalyst/AQE plans the shuffled join — the 100 TB
    * path is unchanged.
    */
  private def raOnCanonical(und: DataFrame, nEdges: Long,
      maxHubDegree: Long, topK: Int,
      broadcastMaxRows: Long = 5000000L): DataFrame = {
    val SHIFT = 4294967296L // 2^32
    val dbl = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b").as("z"), col("a").as("n")))
    val deg = dbl.groupBy("z").agg(count(lit(1)).as("dg"))
    val zn = dbl.join(deg.where(col("dg") <= maxHubDegree), "z")
      .select(col("z"), col("n"), expr("1000000L div dg").as("c"))
    val hint: DataFrame => DataFrame =
      if (2 * nEdges <= broadcastMaxRows) df => broadcast(df) else identity
    val wedges = zn.as("p").join(hint(zn.as("q")),
        col("p.z") === col("q.z") && col("p.n") < col("q.n"))
      .select((col("p.n") * SHIFT + col("q.n")).as("uv"), col("p.c").as("c"))
    val marked = wedges
      .select(col("uv"), col("c"), lit(false).as("adj"))
      .unionAll(und.select((col("a") * SHIFT + col("b")).as("uv"),
        lit(null).cast("long").as("c"), lit(true).as("adj")))
    marked.groupBy("uv")
      .agg(count(col("c")).as("n_common"), sum("c").as("ra_micro"),
        max(col("adj")).as("adj"))
      .where(!col("adj"))
      .select(expr(s"uv div $SHIFT").as("u"), pmod(col("uv"), lit(SHIFT)).as("v"),
        col("n_common"), col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** [[linkPredictionRA]] over the [[kCore]] dense backbone — the
    * composition that makes link prediction affordable on a raw
    * power-law graph at scale: the k-core peel first discards the sparse
    * periphery (where RA evidence is weakest anyway — a pair's common
    * neighbors in the periphery have low degree counts but the pairs are
    * legion), then wedge enumeration runs only on edges with BOTH
    * endpoints in the surviving core. The candidate scores equal
    * [[linkPredictionRA]] computed on the core subgraph (degrees and
    * common neighbors are subgraph-local — the standard backbone
    * formulation), with the same declared `maxHubDegree` cap and exact
    * integer replay.
    *
    * Scale shape: kCore's bounded peel (checkpointed generations), then
    * RA's capped wedge sum directly on the peel's FINAL edge generation
    * ([[kCoreAlive]]) — the surviving subgraph the loop already
    * materialized. Re-deriving it by semi-joining the original edge
    * list against the survivor nodes (the first-draft shape) re-ran the
    * whole upstream edge construction — for the co-occurrence graph,
    * the order-key self-join that dominates the plan — plus two
    * corpus-scale semi joins, for an identical edge set. At 10× fixture
    * scale the raw-graph variant's wedge table starts spilling (~500M
    * rows, 181.7 s soaked); the core restriction is the 100 TB path
    * (GraphSoak records the pair: core/raw = 0.09 at k=94).
    */
  def linkPredictionCore(edges: DataFrame, k: Int, rounds: Int = 4,
      maxHubDegree: Long = 128L, topK: Int = 100): DataFrame = {
    // x<y picks each surviving undirected edge's canonical orientation —
    // unique by construction (the peel starts from a distinct and only
    // prunes), and already materialized as the peel's final checkpoint
    // generation, so RA runs on it DIRECTLY: the old route through the
    // public entry re-canonicalized it (least/greatest + distinct = one
    // full shuffle of the core edge set for an identical frame) and
    // re-persisted what the checkpoint already holds.
    val alive = kCoreAlive(edges, k, rounds, broadcastMaxRows = 5000000L)
    val coreEdges = alive.where(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"))
    // one cheap stats job over checkpointed blocks feeds the broadcast
    // gate AND the packed-key id guard the public entry carries
    val (nEdges, minId, maxId) = edgeStats(coreEdges)
    raGuarded(coreEdges, nEdges, minId, maxId, maxHubDegree, topK)
  }

  /** Bounded-round k-core peeling: repeatedly delete nodes whose degree
    * in the SURVIVING subgraph is below `k`. After `rounds` passes the
    * result is the standard k-core upper approximation (a superset of
    * the true k-core, equal to it once a pass deletes nothing) — the
    * dense-backbone extraction used to focus expensive graph analytics
    * (triangles, communities) on the part of the graph where they mean
    * something. Returns the surviving nodes with their subgraph degrees.
    *
    * Round count is FIXED so any engine replays the identical state —
    * the same bounded-iteration discipline as [[Similarity.kmeansAssign]]
    * — and every value is an integer count, so the replay is exact.
    *
    * Scale shape: each round is ONE map-side-combined degree aggregate
    * over the current edge generation (persisted + probed once, then
    * reused by BOTH pruning semi joins) and two semi joins pruning the
    * edge list — which never shuffles after the initial distinct. The
    * survivor probe decides the join strategy: at or under
    * `broadcastMaxRows` survivors the semi joins carry an explicit
    * `broadcast` hint (the survivor table is tiny relative to the edge
    * list — the common late-round case); above it the hint is withheld,
    * because a forced broadcast bypasses Spark's size checks and an
    * O(|nodes|) survivor frame would OOM the driver — Catalyst/AQE then
    * picks a shuffled semi join with identical semantics. Every
    * generation materializes via an eager lineage truncation
    * ([[graft.plans.Checkpoints.truncate]] — local by default, reliable
    * under `graft.checkpoint.dir`): without it the round-r plan nests
    * every earlier round's tree and driver-side re-analysis dominates
    * wall time (measured 10× the parallel compute on the 1.2M-edge
    * fixture). The loop runs in one [[graft.plans.Pins.Scope]]: the
    * parent generation's blocks free as soon as the next exists, a round
    * that throws frees every generation still pinned, and the final
    * generation goes to the registry's invalidating tier.
    *
    * `k` is deliberately caller-chosen (no default): a useful core order
    * depends on the graph's degree distribution — derive it from a
    * degree quantile (e.g. [[degreeQuantile]]) or domain knowledge.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4,
      broadcastMaxRows: Long = 5000000L): DataFrame =
    kCoreAlive(edges, k, rounds, broadcastMaxRows)
      .groupBy("x").agg(count(lit(1)).as("dg"))
      .select(col("x").as("node"), col("dg"))

  /** The [[kCore]] peel loop returning the surviving EDGE generation
    * itself — `(x, y)`, both orientations, checkpoint-backed with its
    * invalidating release queued. Consumers that need the core SUBGRAPH
    * (not just the survivor degrees) read this directly instead of
    * re-deriving it by semi-joining the original edge list against the
    * node set — for a co-occurrence graph that re-derivation re-runs
    * the order-key self-join that BUILT the edges, the single most
    * expensive stage of the composed plan.
    */
  private[operators] def kCoreAlive(edges: DataFrame, k: Int, rounds: Int,
      broadcastMaxRows: Long): DataFrame = Pins.scope { s =>
    val und = canonical(edges)
    var alive = s.truncate(
      und.select(col("a").as("x"), col("b").as("y"))
        .union(und.select(col("b").as("x"), col("a").as("y"))))
    for (_ <- 1 to rounds) {
      // the probe doubles as keep's materialization barrier, so the
      // degree aggregate runs once per round, not once per semi join
      val (keep, survivors) = s.materialize(alive.groupBy("x")
        .agg(count(lit(1)).as("dg")).where(col("dg") >= k).select("x"))
      val next = s.truncate(peelJoin(alive, keep, survivors <= broadcastMaxRows))
      s.release(keep)
      s.release(alive)
      alive = next
    }
    s.keep("graph.kcore_checkpoint", alive)
    alive
  }

  /** One [[kCore]] peel round's pruning joins, strategy chosen by the
    * caller's survivor probe: both endpoint semi joins take a `broadcast`
    * hint only when `useBroadcast` — otherwise the hint is withheld and
    * Catalyst picks the join (shuffled semi above the auto-broadcast
    * threshold). Factored out so the plan shape is testable without
    * running the materializing loop.
    */
  private[graft] def peelJoin(alive: DataFrame, keep: DataFrame,
      useBroadcast: Boolean): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (useBroadcast) df => broadcast(df) else identity
    alive.join(hint(keep), Seq("x"), "left_semi")
      .join(hint(keep.select(col("x").as("y"))), Seq("y"), "left_semi")
      .select("x", "y")
  }

  /** The `p`-quantile of the undirected degree distribution — the probe
    * that turns [[kCore]]'s order parameter from a magic number into a
    * data-derived one (`k = degreeQuantile(edges, 0.99)` ≈ "the core of
    * the top percent of connectivity"). One distinct + one map-side
    * combined degree aggregate + one sketch aggregate; no driver state
    * beyond the returned scalar.
    */
  def degreeQuantile(edges: DataFrame, p: Double): Int = {
    val und = canonical(edges)
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
      .agg(percentile_approx(col("dg"), lit(p), lit(10000)).as("q"))
      .head().getLong(0).toInt
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge list (each edge counted in
    * both orientations, the standard convention). Positive = hubs attach
    * to hubs (social-like); negative = hubs attach to leaves
    * (infrastructure-like) — one scalar that says which regime a graph's
    * mixing is in, next to [[triangleCounts]]' local clustering.
    *
    * Exactness: every correlation moment (`Σdx, Σdy, Σdx·dy, Σdx², Σdy²,
    * n`) is an INTEGER sum over edges — order-free in any engine — and
    * only the final Pearson ratio runs in doubles (same scalar expression
    * both sides, rounded to 6dp). Degrees are ≤ 2³¹ and edge counts
    * bounded by the fixture, so the long sums cannot overflow before
    * ~10¹² edge-endpoints; the oracle replays every moment exactly.
    *
    * Scale shape: one distinct + degree aggregate, two node-keyed joins
    * decorating each endpoint (the same shape [[triangleCounts]] pays),
    * and a single 1-row global aggregate with map-side partials.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    // both orientations: (a,b) and (b,a) — Pearson over ordered pairs
    val both = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    val moments = both
      .join(deg.select(col("node").as("x"), col("dg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("dg").as("dy")), "y")
      .agg(count(lit(1)).as("m"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    // each integer moment converts to double FIRST (m·sxx overflows a
    // long on big graphs); identical long→double conversions and the
    // identical scalar expression make the ratio engine-exact. A regular
    // graph has zero degree variance — r is undefined there, surfaced as
    // null rather than a 0/0 NaN.
    def d(c: String) = col(c).cast("double")
    val den = sqrt(d("m") * d("sxx") - d("sx") * d("sx")) *
      sqrt(d("m") * d("syy") - d("sy") * d("sy"))
    moments.select(col("m").as("n_edge_ends"),
      when(den === 0d, lit(null))
        .otherwise(round((d("m") * d("sxy") - d("sx") * d("sy")) / den, 6))
        .as("r"))
  }

  /** Multi-source BFS levels over the undirected graph: shortest-path
    * distance from each of the `nSources` seed nodes (the smallest node
    * ids — deterministic, so any engine replays the same frontier) to
    * every node within `maxDepth` hops. Output `(source, node, dist)`,
    * one row per (seed, reached node). This is the distance kernel the
    * sampled-centrality family builds on (Eppstein–Wang style: estimate
    * centralities from a fixed sample of exact single-source distances
    * instead of all-pairs).
    *
    * Exactness: distances are hop counts — pure integers — and the seed
    * choice is an ORDER BY on node id, so the whole output is
    * engine-exact (a recursive-CTE BFS replays it bit-for-bit).
    *
    * Scale shape: the adjacency list symmetrizes + dedupes ONCE, then
    * repartitions on the join key and persists — every round's frontier
    * expansion joins against that fixed layout, so only the (per-round,
    * usually much smaller) frontier moves. State is `nSources · |V|`
    * rows worst-case — linear in the graph for a constant sample, never
    * the all-pairs quadratic. Each round is one join + distinct + one
    * anti-join against a SINGLE cumulative visited frame, maintained as
    * its own truncated generation per round (`visited ∪ next`, then
    * truncate): the anti-join stays one-leg at ANY depth, where the
    * earlier re-union of every frontier generation grew the plan by one
    * leg per round and made deep traversals pay O(depth) plan nodes per
    * round. No broadcast hints — frontier and visited sizes are
    * data-dependent, Catalyst/AQE picks the strategy. The loop exits
    * early when a frontier comes back empty (the count doubles as the
    * materialization barrier). Per-round lineage truncation via
    * [[graft.plans.Checkpoints.truncate]] (local by default, reliable
    * under `graft.checkpoint.dir`); superseded visited/frontier
    * generations release as soon as their successor materializes, and
    * the adjacency and the last frontier when the loop ends.
    */
  def bfsLevels(edges: DataFrame, nSources: Int = 8,
      maxDepth: Int = 6): DataFrame = Pins.scope { s =>
    require(nSources > 0, s"bfsLevels: nSources must be positive, got $nSources")
    require(maxDepth >= 0, s"bfsLevels: maxDepth must be >= 0, got $maxDepth")
    val und = canonical(edges)
    val (adj, _) = s.materialize(und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
      .repartition(col("x")))
    val f0 = s.truncate(
      adj.select(col("x").as("node")).distinct()
        .orderBy(col("node")).limit(nSources)
        .select(col("node").as("source"), col("node"), lit(0).as("dist")))
    var visited = f0
    var frontier = f0
    var d = 0
    var done = f0.count() == 0L // empty graph: nothing to expand
    while (d < maxDepth && !done) {
      d += 1
      val next = s.truncate(
        frontier.join(adj, frontier("node") === adj("x"))
          .select(col("source"), col("y").as("node")).distinct()
          .join(visited, Seq("source", "node"), "left_anti")
          .withColumn("dist", lit(d)))
      if (next.count() == 0L) {
        s.release(next)
        done = true
      } else {
        val grown = s.truncate(visited.union(next))
        // superseded generations: the old frontier (the old visited
        // itself in round 1) and the old visited
        s.release(frontier)
        s.release(visited)
        frontier = next
        visited = grown
      }
    }
    // the last frontier's rows are folded into `visited`, an independent
    // truncated generation: the frontier goes with the scope
    s.keep("graph.bfs_checkpoint", visited)
    visited
  }

  /** Sampled harmonic centrality (Eppstein–Wang estimator shape): for
    * each node, `Σ over reaching seeds s≠v of 1/d(s, v)` — in integer
    * micro-units (`1000000 div dist`, truncating), summed over the
    * [[bfsLevels]] sample, plus the reach count. Harmonic (not classic
    * closeness) because it is well-defined on disconnected graphs —
    * unreachable pairs contribute zero instead of poisoning the mean
    * with infinities. Inherits [[bfsLevels]]' exact integer replay and
    * its linear `nSources · |V|` state bound; the rollup on top is one
    * map-side-combined aggregate.
    */
  def harmonicCentrality(edges: DataFrame, nSources: Int = 8,
      maxDepth: Int = 6): DataFrame =
    bfsLevels(edges, nSources, maxDepth)
      .where(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr(s"${Unit_}L div cast(dist as bigint)")).as("h_micro"))

  /** Personalized PageRank (random walk with restart): the teleport mass
    * — and the dangling mass — return to a fixed SEED set instead of
    * spreading uniformly, so ranks measure proximity to the seeds (the
    * seed-relevance prior used to expand a trusted core: given verified
    * suppliers/domains, score everything by walk-closeness to them).
    * Seeds are the `nSeeds` smallest node ids (deterministic, like
    * [[bfsLevels]]); every node starts at `Unit_` so total mass matches
    * [[pageRank]]'s `n·10⁶`.
    *
    * Integer recurrence, truncating at every division exactly like
    * [[pageRank]] (any engine replays it bit-for-bit):
    * `T = (((dampDen−dampNum)·n·Unit_) div dampDen) div s` per seed, and
    * `r'(v) = [v∈S]·(T + extra) + (dampNum·c(v)) div dampDen` where
    * `extra = (dampNum·(dang div s)) div dampDen`.
    *
    * Scale shape: identical to [[pageRank]] — the seed flag rides the
    * cached rank table (resolved once), each round is the shared
    * edge-layout join + one map-side-combined sum + a scalar dangling
    * aggregate, with per-round lineage truncation.
    */
  def personalizedPageRank(edges: DataFrame, nSeeds: Int = 4,
      iters: Int = 3, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = Pins.scope { s =>
    require(nSeeds > 0,
      s"personalizedPageRank: nSeeds must be positive, got $nSeeds")
    val e = prepareUniform(s, edges)
    val contrib = uniformContrib(e)
    val srcs = e.select(col("src")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seedSet = nodes.orderBy(col("node")).limit(nSeeds)
      .select(col("node").as("snode"))
    val (nodesF, nNodes) = s.materialize(nodes.as("n")
      .join(srcs.as("s"), col("n.node") === col("s.src"), "left")
      .join(seedSet, col("n.node") === col("snode"), "left")
      .select(col("n.node").as("node"), col("s.src").isNull.as("dng"),
        col("snode").isNotNull.as("seed")))
    val nSeedsActual = math.min(nSeeds.toLong, nNodes)
    // per-seed teleport: two truncating divisions, in this exact order
    // (the oracle replays the same parenthesization); overflow-checked
    // like [[rankBase]], so a large dampDen throws instead of wrapping
    val tele =
      if (nSeedsActual == 0) 0L
      else Math.multiplyExact(Math.multiplyExact(
        Math.subtractExact(dampDen, dampNum), nNodes), Unit_) / dampDen /
        nSeedsActual
    var current = s.persist(nodesF.withColumn("r", lit(Unit_)))
    for (_ <- 1 to iters) {
      val r = current
      val ct = contrib(r)
      val dang = r.where(col("dng"))
        .agg(coalesce(sum(col("r")), lit(0L))).head().getLong(0)
      val extra =
        if (nSeedsActual == 0) 0L
        else Math.multiplyExact(dampNum, dang / nSeedsActual) / dampDen
      // ONE materialization per round ([[iterateDistributed]]'s r17 round shape):
      // eager truncate into constant-depth checkpoint blocks replaces the
      // persist → count → truncate-copy → unpersist sequence
      current = s.truncate(
        r.select(col("node"), col("dng"), col("seed"))
          .join(ct, Seq("node"), "left")
          .select(col("node"), col("dng"), col("seed"),
            (when(col("seed"), lit(Math.addExact(tele, extra))).otherwise(lit(0L)) +
              expr(s"($dampNum * coalesce(c, 0L)) div $dampDen")).as("r")))
      s.release(r)
    }
    s.keep("graph.ppr", e, nodesF, current)
    current.select(col("node"), col("r").as("rank_micro"))
  }

  /** Multi-source WEIGHTED shortest paths: `rounds` synchronous
    * Bellman–Ford relaxations over the undirected weighted graph
    * (per-pair weights summed during canonicalization — non-negative
    * integer costs, e.g. cents), from the `nSources` smallest node ids.
    * After `rounds` passes every returned distance is the exact shortest
    * path using ≤ `rounds` edges — the bounded-hop approximation that,
    * like [[kCore]]'s fixed peeling, makes the state replayable by any
    * engine as `rounds` unrolled min-plus joins; once a pass changes
    * nothing the result IS exact and the loop exits early (detected by
    * an integer (Σd, count) probe — min-plus state is monotone, so the
    * pair is unchanged iff the pass changed nothing).
    *
    * Scale shape: mirrors [[bfsLevels]] — weighted adjacency
    * canonicalized + repartitioned + persisted once; each round shuffles
    * only the `nSources · |V|`-bounded state (one join, one
    * map-side-combined min aggregate); per-round lineage truncation via
    * [[graft.plans.Checkpoints]]. Integer sums cannot overflow below
    * ~10¹⁰ edges of 10⁹-unit weights per path.
    */
  def shortestPathsWeighted(edges: DataFrame, nSources: Int = 4,
      rounds: Int = 6): DataFrame = Pins.scope { s =>
    require(nSources > 0,
      s"shortestPathsWeighted: nSources must be positive, got $nSources")
    require(rounds >= 0,
      s"shortestPathsWeighted: rounds must be >= 0, got $rounds")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum("w").as("w"))
    val (adj, _) = s.materialize(und.select(col("a").as("x"), col("b").as("y"), col("w"))
      .union(und.select(col("b").as("x"), col("a").as("y"), col("w")))
      .repartition(col("x")))
    var state = s.truncate(
      adj.select(col("x").as("node")).distinct()
        .orderBy(col("node")).limit(nSources)
        .select(col("node").as("source"), col("node"),
          lit(0L).as("d")))
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum(col("d")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = probe(state)
    var i = 0
    var converged = false
    while (i < rounds && !converged) {
      i += 1
      val cand = state.join(adj, state("node") === adj("x"))
        .select(col("source"), col("y").as("node"),
          (col("d") + col("w")).as("d"))
      val next = s.truncate(
        state.unionByName(cand)
          .groupBy("source", "node").agg(min("d").as("d")))
      val nextSig = probe(next)
      if (nextSig == sig) {
        s.release(next)
        converged = true
      } else {
        s.release(state)
        state = next
        sig = nextSig
      }
    }
    s.keep("graph.sssp_checkpoint", state)
    state.select(col("source"), col("node"), col("d").as("dist_cost"))
  }
}
