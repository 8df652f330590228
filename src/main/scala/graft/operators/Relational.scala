package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Pins

/** Relational operator suite: joins (broadcast/semi/anti), window
  * functions, rollup, distinct aggregates, set ops, top-k.
  *
  * The reference has none of these natively (SURVEY.md §2.3 — joins,
  * windows, set ops are all "absent"; a user would hand-roll a reduce-side
  * join over its groupByKey machinery, `/root/reference/src/file_distributor/
  * ireader.hh:145-536`). Here they are declarative plans so Catalyst picks
  * physical strategies: dimension tables broadcast (no shuffle of the fact
  * table), AQE handles skew, and aggregates run partial+final.
  *
  * Scale notes (100 TB posture): every query below shuffles the fact table
  * at most once on its natural key; FIXED-cardinality dims (nation,
  * region, single-row/bounded aggregates) are broadcast explicitly, while
  * SF-scaling tables (customer, supplier, part) are left UNHINTED — the
  * planner broadcasts them from stats while they fit and degrades to a
  * shuffle join at scale, where a forced hint would OOM the driver; top-k
  * uses sort+limit (per-partition top-k then merge) instead of a
  * single-partition global window.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary. Single shuffle on the 2×2 grouping
    * key; everything else is map-side. Sums rounded for FP-stable hashes.
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shaped: top-10 unshipped-revenue orders for one segment.
    * customer is broadcast (small dim); lineitem shuffles once on
    * l_orderkey for the group-by; top-k via rounded-revenue sort + limit.
    */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-06-01").cast("timestamp")
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).where(col("o_orderdate") < cutoff)
    val li = Tables.lineitem(spark, dir).where(col("l_shipdate") > cutoff)
    val grouped = li
      .join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey").as("orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
    val top = grouped.orderBy(col("revenue").desc, col("orderkey")).limit(10)
    top.withColumn("rnk",
      row_number().over(Window.orderBy(col("revenue").desc, col("orderkey"))))
  }

  /** TPC-H Q5-shaped: revenue per nation where customer and supplier share
    * the nation, one region, one year. All dims broadcast; the only wide
    * exchange is lineitem→orders join (orders itself broadcastable at test
    * SF; at 100 TB AQE picks SMJ on l_orderkey) then agg on n_name.
    */
  def q5Region(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val dims = broadcast(nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey")))
    val supp = Tables.supplier(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    Tables.lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(dims, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Left-semi join: order counts by priority for one customer segment.
    * Semi join never materializes customer columns — minimal shuffle width.
    */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val machinery = Tables.customer(spark, dir).where(col("c_mktsegment") === "MACHINERY")
    Tables.orders(spark, dir)
      .join(machinery, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
  }

  /** Left-anti join: customers with no orders. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Window: top-3 orders per customer by price. One shuffle on o_custkey;
    * rank inside partition, no global sort.
    */
  def windowTopNPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
  }

  /** Window: running total per customer in date order. Deterministic
    * prefix-sum (rounded) — same accumulation order in any engine.
    */
  def windowRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
  }

  /** ROLLUP aggregate over (returnflag, linestatus). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))

  /** Exact distinct aggregates (expand + two-phase agg under the hood). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))

  /** Set ops: rich customers split by order activity via INTERSECT/EXCEPT. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val rich = Tables.customer(spark, dir).where(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))
    val active = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    rich.intersect(active).withColumn("tag", lit("active_rich"))
      .unionAll(rich.except(active).withColumn("tag", lit("inactive_rich")))
  }

  /** TPC-H Q6-shaped forecast-revenue: pure filter + global agg; every
    * predicate reaches the parquet scan as a pushed filter.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q10-shaped: top-20 customers by returned-item revenue in a
    * quarter. Same sort+limit top-k pattern as [[q3TopK]].
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1997-04-01").cast("timestamp")
    val grouped = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    val top = grouped.orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    top.withColumn("rnk",
      row_number().over(Window.orderBy(col("revenue").desc, col("c_custkey"))))
  }

  /** TPC-H Q14-shaped promo-revenue share: conditional aggregation over a
    * fact-dimension join, ratio of sums.
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) / sum(rev),
        4).as("promo_revenue_pct"),
        count(lit(1)).as("n"))
  }

  /** Outer join + null handling: per-customer order totals, zero-filled
    * for customers with no orders.
    */
  def custOrderTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        coalesce(round(sum("o_totalprice"), 2), lit(0.0)).as("total"),
        count(col("o_orderkey")).as("n_orders"))

  /** Pagination: rows 6-15 of the price-ranked orders. Sort+limit first
    * (distributed top-15), offset applied on the bounded result.
    */
  def pagedOrders(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(15)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rnk") > 5)
  }

  /** Exact interpolated quantiles per group (≡ `quantile_cont`), computed
    * distributed: built-in `percentile` buffers every value per group
    * (parallelism = #groups — 3 here), so instead the values are
    * range-partitioned on (group, value), globally ranked with a two-pass
    * per-partition-offset scheme (the per-partition count table is tiny),
    * and only the O(groups × quantiles) boundary ranks are interpolated.
    * Scales with partitions, not groups.
    */
  def quantiles(spark: SparkSession, dir: String,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75),
      maxCoordRows: Int = 100000): DataFrame = {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val vals = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .repartitionByRange(par, col("g"), col("v"))
      .sortWithinPartitions("g", "v")
    val typed = vals.as[(String, Double)]
    // pass 1: per-(partition, group) counts — driver-side offsets. The
    // coordinator holds one row per (partition, group) here and one per
    // (group, boundary rank) in pass 2, so it is bounded metadata at 32
    // partitions but O(groups x partitions) in general: probe with
    // take(cap + 1) and fall back to the mergeable sketch path
    // (quantilesApprox, no driver coordination) the moment the cap is
    // exceeded — the same adaptive pattern as Dedup.resolveClusters.
    val countsRdd = typed.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (g, _) => m.update(g, m.getOrElse(g, 0L) + 1L) }
        m.iterator.map { case (g, n) => (pid, g, n) }
      }
    val partCounts = countsRdd.take(maxCoordRows + 1)
    if (partCounts.length > maxCoordRows)
      return quantilesApprox(spark, dir, probs = probs) // same schema, sketch-merged
    val groupTotals = partCounts.groupBy(_._2).map { case (g, xs) => g -> xs.map(_._3).sum }
    // global rank offset of each (partition, group): counts of same group in earlier partitions
    val offsets: Map[(Int, String), Long] = partCounts
      .groupBy(_._2)
      .flatMap { case (g, xs) =>
        val sorted = xs.sortBy(_._1)
        sorted.zip(sorted.scanLeft(0L)(_ + _._3)).map { case ((pid, _, _), off) =>
          (pid, g) -> off
        }
      }
    // boundary ranks needed per group: floor/ceil of q*(n-1), 0-based
    val needed: Map[String, Set[Long]] = groupTotals.map { case (g, n) =>
      g -> probs.flatMap { case (_, q) =>
        val pos = q * (n - 1)
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }.toSet
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val bNeeded = spark.sparkContext.broadcast(needed)
    // pass 2: emit only the boundary-ranked values
    val boundary = typed.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val local = scala.collection.mutable.HashMap.empty[String, Long]
        it.flatMap { case (g, v) =>
          val rank = bOffsets.value((pid, g)) + local.getOrElse(g, 0L)
          local.update(g, local.getOrElse(g, 0L) + 1L)
          if (bNeeded.value(g).contains(rank)) Iterator.single((g, rank, v)) else Iterator.empty
        }
      }.collect()
    val byRank = boundary.map { case (g, r, v) => (g, r) -> v }.toMap
    val rows = groupTotals.toSeq.sortBy(_._1).map { case (g, n) =>
      val qs = probs.map { case (_, q) =>
        val pos = q * (n - 1)
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val vLo = byRank((g, lo))
        val vHi = byRank((g, hi))
        // HALF_UP to match SQL round() (half away from zero), not rint's banker's
        BigDecimal(vLo + (vHi - vLo) * (pos - lo))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      (g, qs, n)
    }
    // schema built from probs — NOT hardcoded to 3 entries, so any
    // probability list matches the sketch fallback's output shape (the
    // documented "same schema so callers can swap them" contract)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType) +:
        probs.map(p => org.apache.spark.sql.types.StructField(p._1,
          org.apache.spark.sql.types.DoubleType)) :+
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (g, qs, n) =>
          org.apache.spark.sql.Row.fromSeq(g +: qs :+ n)
        }.toIndexedSeq, 1),
      schema)
  }

  /** Sketch-based quantiles — the 100 TB path. [[quantiles]] is exact but
    * driver-coordinated (two bounded collects, a barrier per pass);
    * `approx_percentile` is a mergeable KLL-style sketch with proper
    * partial aggregation — one shuffle of fixed-size sketches, no driver
    * coordination, rank error ≤ n/accuracy. Same output schema as the
    * exact op so callers can swap them.
    */
  def quantilesApprox(spark: SparkSession, dir: String, accuracy: Int = 10000,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      : DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"),
          array(probs.map(p => lit(p._2)): _*), lit(accuracy)).as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag") +:
        probs.zipWithIndex.map { case ((name, _), i) =>
          round(element_at(col("ps"), i + 1), 2).as(name)
        } :+ col("n"): _*)

  /** Portable quantile sketch, hash-checkable on any engine (the
    * [[graft.operators.RelationalX.hllDistinct]] treatment applied to
    * quantiles): a deterministic bottom-k-by-hash sample per group — the
    * [[graft.functions.BottomK]] aggregate keeps the k rows whose
    * portable 60-bit md5 row-key hash is smallest, a consistent uniform
    * sample that MERGES (bottom-k of a union = bottom-k of the shards'
    * bottom-k's) and is a pure function of row identity, so re-runs,
    * engine ports and differently-sharded corpora pick the identical
    * sample — then the equi-spaced rank estimate `sample[floor(q·(k−1))]`
    * per requested quantile. Rank error is the sampling error, O(1/√k).
    * Unlike `approx_percentile` (Spark-private KLL internals, rows-only
    * checkable) every stage — hash, bottom-k selection, rank pick —
    * replays in DuckDB SQL, so the output hash-checks.
    *
    * Values ride as exact integer cents (TPC-H prices are 2-decimal), so
    * selection and ordering involve no FP at all; the only double math is
    * the final cents/100 division both engines perform on the same
    * integers.
    *
    * Scale shape: one map-side-combined aggregate — every partition trims
    * to k (key, cents) pairs before the shuffle, so shuffle width is
    * O(groups × partitions × k) regardless of corpus size, and no driver
    * coordination (the [[quantiles]] exact path's two collects) at all.
    */
  def quantilesSketch(spark: SparkSession, dir: String, k: Int = 1024,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      : DataFrame = quantilesSketchOf(Tables.lineitem(spark, dir), k, probs)

  /** [[quantilesSketch]] over a caller-supplied lineitem frame (any
    * sharding — the sample is a pure function of row identity).
    */
  def quantilesSketchOf(lineitem: DataFrame, k: Int = 1024,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      : DataFrame = {
    val rows = lineitem.select(
      col("l_returnflag"),
      Dedup.portableHash64(
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))).as("h"),
      // round BEFORE the cast: price*100 lands epsilon under the exact
      // cent about half the time, and a bare cast truncates in Spark but
      // rounds in DuckDB — the explicit round makes both engines agree
      round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val sk = rows.groupBy("l_returnflag")
      .agg(graft.functions.BottomK.bottomK(col("h"), col("cents"), k).as("smp"),
        count(lit(1)).as("n"))
      // the sample arrives sorted by (hash, cents); re-sort by value for
      // rank selection. ns = min(k, n) handles groups smaller than k.
      .select(col("l_returnflag"),
        array_sort(transform(col("smp"), s => s.getField("id"))).as("sv"),
        col("n"))
    sk.select(
      col("l_returnflag") +:
        probs.map { case (name, q) =>
          round(element_at(col("sv"),
            floor(lit(q) * (size(col("sv")) - 1)).cast("int") + 1)
            .cast("double") / 100.0, 2).as(name)
        } :+ size(col("sv")).as("n_sample") :+ col("n"): _*)
  }

  /** Robust per-group dispersion stats: median, MAD (median absolute
    * deviation) and the count of 3σ-equivalent outliers under the
    * normal-consistency scaling MAD·1.4826 — the outlier screen that,
    * unlike mean/stddev, a handful of extreme values cannot drag (each
    * median has 50% breakdown; z-scores have 0%).
    *
    * Medians and MAD round to 2 decimals BEFORE the outlier comparison so
    * both engines threshold on identical values. Exact `percentile`
    * buffers each group's values, so the op is ADAPTIVE (the
    * [[quantiles]] pattern): a 3-row size probe picks exact `percentile`
    * under `maxExactGroupRows` per group and the mergeable
    * `approx_percentile` sketch (fixed-size partials, no buffering)
    * above it — approximate medians, but a plan that cannot OOM a task.
    *
    * Scale shape: two aggregate passes (median, then MAD over deviations)
    * + one counting pass, the 3-row stat table broadcast back each time —
    * no corpus-sized shuffle beyond the three map-side-combined
    * aggregates.
    */
  def madOutliers(spark: SparkSession, dir: String, sigmas: Double = 3.0,
      maxExactGroupRows: Long = 50000000L): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val p50 = adaptiveMedian(li, "l_returnflag", maxExactGroupRows)
    val med = li.groupBy("l_returnflag")
      .agg(round(p50(col("v")), 2).as("med"))
    val dev = li.join(broadcast(med), "l_returnflag")
    val mad = dev.groupBy("l_returnflag")
      .agg(round(p50(abs(col("v") - col("med"))), 2).as("mad"),
        first("med").as("med"), count(lit(1)).as("n"))
    dev.join(broadcast(mad.select("l_returnflag", "mad")), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        first("med").as("med"),
        first("mad").as("mad"),
        sum(when(abs(col("v") - col("med")) > lit(sigmas * 1.4826) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** The quantile column expression [[madOutliers]]/[[winsorizedMeans]]
    * use: exact `percentile` while the largest group fits
    * `maxExactGroupRows`, the mergeable `approx_percentile` sketch above
    * it (the probe is one tiny count aggregate).
    */
  private def adaptiveMedian(df: DataFrame, groupCol: String,
      maxExactGroupRows: Long): (Column => Column) = {
    val q = adaptiveQuantile(df, groupCol, maxExactGroupRows)
    c => q(c, 0.5)
  }

  /** Same adaptive choice for an arbitrary probability. */
  private def adaptiveQuantile(df: DataFrame, groupCol: String,
      maxExactGroupRows: Long): ((Column, Double) => Column) = {
    val maxGroup = df.groupBy(groupCol).count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    if (maxGroup <= maxExactGroupRows) (c, p) => percentile(c, lit(p))
    else (c, p) => percentile_approx(c, lit(p), lit(10000))
  }

  /** Winsorized group means: clip values into [p05, p95] (interpolated
    * percentiles, rounded to cents before use so both engines clip at
    * identical bounds) and report raw vs clipped means plus the clip
    * counts — the tail-robust mean that keeps sample size, where
    * trimming discards and [[madOutliers]] only flags. Same adaptive
    * exact-vs-sketch percentile guard as [[madOutliers]].
    */
  def winsorizedMeans(spark: SparkSession, dir: String,
      lo: Double = 0.05, hi: Double = 0.95,
      maxExactGroupRows: Long = 50000000L): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val q = adaptiveQuantile(li, "l_returnflag", maxExactGroupRows)
    val bounds = li.groupBy("l_returnflag")
      .agg(round(q(col("v"), lo), 2).as("b_lo"),
        round(q(col("v"), hi), 2).as("b_hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        first("b_lo").as("b_lo"),
        first("b_hi").as("b_hi"),
        round(avg("v"), 2).as("mean_raw"),
        round(avg(greatest(least(col("v"), col("b_hi")), col("b_lo"))), 2)
          .as("mean_wins"),
        sum(when(col("v") < col("b_lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("b_hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        count(lit(1)).as("n"))
  }

  /** CUBE over (returnflag, linestatus): all 2^2 grouping sets. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))

  /** GROUPING SETS (distinct shapes from rollup/cube): per-returnflag and
    * per-linestatus marginals only. Built with the typed `groupingSets`
    * API — no temp view, so concurrent builders on a shared session can't
    * race each other's catalog registrations.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))

  /** Bag-semantics set ops: intersectAll/exceptAll keep multiplicities. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    val big = Tables.orders(spark, dir).where(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("k"))
    all.intersectAll(big).groupBy("k").agg(count(lit(1)).as("n_big"))
      .unionAll(all.exceptAll(big).groupBy("k").agg(count(lit(1)).as("n_big"))
        .withColumn("n_big", -col("n_big")))
      .groupBy("k").agg(sum("n_big").as("balance"))
  }

  /** unionByName with missing columns null-filled — schema-evolution-safe
    * append of heterogeneous sources.
    */
  def unionByNameDemo(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val b = Tables.supplier(spark, dir).select(col("s_suppkey").as("id"),
      col("s_acctbal").as("acctbal"), col("s_name").as("name"),
      col("s_nationkey").as("nationkey"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy(col("nationkey").isNull.as("from_customer"))
      .agg(count(lit(1)).as("n"), round(sum("acctbal"), 2).as("sum_bal"))
  }

  /** GROUP BY + HAVING on the aggregate. */
  def havingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(round(avg("c_acctbal"), 2).as("avg_bal"), count(lit(1)).as("n"))
      .where(col("n") > 20)

  /** Scalar string/math function showcase (all codegen'd built-ins). */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 8).as("name_pfx"),
      length(col("p_type")).as("type_len"),
      round(col("p_retailprice") * 1.1, 2).as("price_adj"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))

  /** Date-part extraction + aggregation. */
  def dateAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))

  /** Scalable global row-number over lineitem in (l_orderkey,
    * l_linenumber) order — the distributed replacement for
    * `row_number() OVER (ORDER BY …)`, which moves EVERY row to one
    * partition. Classic two-pass offset scheme, fully declarative:
    *
    *  1. range-partition on the sort key (each partition owns a
    *     contiguous key range);
    *  2. count rows per partition — a #partitions-row table — and
    *     exclusive-prefix-sum it into per-partition start offsets (the
    *     only single-partition window runs over those 32 rows);
    *  3. broadcast the offsets back and add the within-partition rank.
    *
    * No driver-side collect anywhere; parallelism = #partitions at every
    * step. The ranged frame is persisted and counted BEFORE the offset
    * pass: both passes must see the SAME range boundaries, and
    * RangePartitioner's sampling seed derives from the RDD id, so two
    * independent executions of the exchange can pick different
    * boundaries — correctness would otherwise hinge on exchange reuse
    * staying enabled. The barrier makes boundary agreement structural
    * (and the second pass a cache read instead of a rescan). The pinned
    * frame is internal — the returned plan reads it, so there is no safe
    * unpersist point inside this function; its release hook is queued
    * with [[graft.plans.ReleaseRegistry]] for the session host to drain
    * after materializing (until then, blocks stay LRU-evictable).
    */
  def globalIndex(spark: SparkSession, dir: String): DataFrame =
    positionByRange(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_linenumber"),
      Seq(col("l_orderkey"), col("l_linenumber")),
      releaseLabel = "relational.global_index_ranged")
      .withColumnRenamed("pos", "idx")

  /** [[globalIndex]]'s two-pass offset scheme, generalized: append a
    * 1-based global position column `pos` to ANY frame in `keys` order —
    * range-partition on the keys, persist + count (boundary agreement is
    * structural, not exchange-reuse-dependent), exclusive-prefix-sum the
    * #partitions-row count table (the only single-partition window runs
    * over those ~32 rows), broadcast the offsets back and add the
    * within-partition rank. The pinned ranged frame's release hook is
    * queued with [[graft.plans.ReleaseRegistry]] under `releaseLabel`.
    *
    * `keys` should be a total order (append a unique id as the last key)
    * or positions among ties are partition-dependent.
    */
  def positionByRange(df: DataFrame, keys: Seq[Column],
      releaseLabel: String = "relational.position_by_range"): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val (ranged, _) = Pins.materialize(releaseLabel, df
      .repartitionByRange(par, keys: _*)
      .withColumn("pid", spark_partition_id()))
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "off")
    val local = Window.partitionBy("pid").orderBy(keys: _*)
    ranged.join(broadcast(offsets), "pid")
      .withColumn("pos", row_number().over(local).cast("long") + col("off"))
      .drop("pid", "off")
  }

  /** Global top-k via sort+limit: Spark computes per-partition top-k and
    * merges — no single-partition window, scales to any input size.
    */
  def topKGlobal(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
    top.withColumn("rnk", row_number().over(
      Window.orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
  }
}
