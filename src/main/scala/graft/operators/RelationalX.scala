package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Pins

/** Second relational batch: the remaining TPC-H query shapes expressible on
  * the fixture schema (FIXTURES.md — no partsupp, no l_commitdate /
  * l_receiptdate / l_shipmode; Q4 / Q12 / Q16 / Q21 are adapted to the
  * columns that exist, and Q2 / Q11 / Q20 — whose originals live on
  * partsupp — are adapted by deriving the supplier↔part relationship from
  * lineitem, preserving each query's SHAPE: correlated per-group min,
  * HAVING over a scalar-subquery total, and nested correlated aggregates).
  *
  * Like [[Relational]], everything is declarative: correlated EXISTS /
  * NOT-EXISTS become semi/anti joins, scalar subqueries become broadcast
  * one-row joins, and dimensions broadcast so the fact table shuffles at
  * most once per query. The reference has no joins at all (SURVEY.md §2.3);
  * these exist to make the engine a complete analytics surface.
  */
object RelationalX {

  /** Q2-shaped minimum-cost supplier (no partsupp / ps_supplycost in the
    * fixture, so "cost" is the supplier's account balance and the
    * supplier↔part relationship comes from lineitem): for each qualifying
    * part, the region's supplier(s) holding the MINIMUM balance among those
    * who ever supplied it. The correlated scalar-min subquery becomes a
    * per-part aggregate joined back on equality — Q2's defining shape.
    *
    * Scale: region suppliers and filtered parts are dimension-sized →
    * broadcast; the only fact-scale stage is the distinct (part, supp)
    * projection of lineitem (one narrow shuffle, map-side combined); the
    * per-part min table is bounded by |part| → broadcast join back.
    */
  def q2MinCostSupp(spark: SparkSession, dir: String, regionName: String = "AMERICA",
      minSize: Int = 40, partType: String = "PROMO"): DataFrame = {
    val regionSupp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).where(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val parts = Tables.part(spark, dir)
      .where(col("p_size") >= minSize && col("p_type") === partType)
      .select("p_partkey")
    val rel = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val cand = rel
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
      .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
    val mn = cand.groupBy(col("p_partkey").as("mk"))
      .agg(min("s_acctbal").as("min_bal"))
    // min(s_acctbal) returns one of the exact input doubles, so the
    // equality join-back is exact on any engine (no epsilon needed)
    cand.join(broadcast(mn),
        col("p_partkey") === col("mk") && col("s_acctbal") === col("min_bal"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"),
        col("s_name"), col("n_name"), col("p_partkey"))
  }

  /** Q11-shaped important parts (no partsupp, so a part's "value" is the
    * extended-price volume shipped by the chosen nations' suppliers): parts
    * whose value exceeds `shareThreshold` of the all-parts total — the
    * HAVING-over-scalar-subquery shape. Per-row prices have exactly 2
    * decimals, so summing scaled-integer cents keeps both the per-part
    * values and the grand total exact and order-independent; only the final
    * display value returns to 2-decimal doubles.
    *
    * Scale: supplier⋈nation is dimension-sized → broadcast against
    * lineitem; one narrow shuffle on l_partkey; the one-row total
    * cross-joins back as a broadcast.
    */
  def q11ImportantParts(spark: SparkSession, dir: String,
      nations: Seq[String] = Seq("NATION_1", "NATION_2", "NATION_3"),
      shareThreshold: Double = 0.001): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir).where(col("n_name").isInCollection(nations)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_i"))
    val total = perPart.agg(sum("value_i").as("total_i"))
    perPart.crossJoin(broadcast(total))
      .where(col("value_i") > col("total_i") * shareThreshold)
      .select(col("p_partkey"), round(col("value_i") / 100.0, 2).as("part_value"))
  }

  /** Q20-shaped dominant shippers (no partsupp / ps_availqty, so the
    * "excess stock" test becomes a volume-dominance test): suppliers who,
    * for some part matching the name fragment, shipped more than
    * `shareThreshold` of that part's total 1997 volume — Q20's nested
    * correlated-aggregate shape (per-(supp,part) sum vs per-part sum),
    * closed with a semi join onto supplier. Quantities are small integral
    * doubles, so every sum is exact; the part total re-aggregates the
    * per-(supp,part) partials (identical subtree → Spark reuses the
    * exchange instead of rescanning lineitem).
    */
  def q20DominantShippers(spark: SparkSession, dir: String,
      nameLike: String = "small", shareThreshold: Double = 0.3): DataFrame = {
    val parts = Tables.part(spark, dir)
      .where(col("p_name").contains(nameLike)).select("p_partkey")
    val perSuppPart = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("sq"))
    val perPart = perSuppPart.groupBy(col("l_partkey").as("pk"))
      .agg(sum("sq").as("tq"))
    val dominant = perSuppPart
      .join(perPart, col("l_partkey") === col("pk"))
      .where(col("sq") > col("tq") * shareThreshold)
      .select("l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
  }

  /** Q4-shaped: priority count of orders with at least one returned line
    * (EXISTS → left-semi join; lineitem side is pre-filtered + distinct so
    * the semi join probes a narrow key set).
    */
  def q4Exists(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
    val returned = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q7-shaped: shipping volume between two nations, by direction and ship
    * year. Both nation dims broadcast; lineitem joins orders on its natural
    * key once.
    */
  def q7Volume(spark: SparkSession, dir: String,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, dir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("y"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** Q8-shaped: market share of one supplier nation for one part type among
    * customers of one region, by order year.
    */
  def q8Share(spark: SparkSession, dir: String, supplierNation: String = "NATION_3",
      regionName: String = "AMERICA", partType: String = "PROMO"): DataFrame = {
    val n = Tables.nation(spark, dir)
    val custRegion = Tables.customer(spark, dir)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir).where(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val parts = Tables.part(spark, dir)
      .where(col("p_type") === partType).select("p_partkey")
    val vol = Tables.lineitem(spark, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(year(col("o_orderdate")).as("y"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
        col("supp_nation"))
    vol.groupBy("y")
      .agg(round(
        sum(when(col("supp_nation") === supplierNation, col("volume")).otherwise(0.0))
          / sum(col("volume")), 4).as("mkt_share"))
  }

  /** Q9-shaped product profit: revenue minus retail-price cost proxy (the
    * fixture has no partsupp/ps_supplycost), per supplier nation and order
    * year, for parts matching a name fragment.
    */
  def q9Profit(spark: SparkSession, dir: String, nameLike: String = "small"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .where(col("p_name").contains(nameLike))
      .select("p_partkey", "p_retailprice")
    val supp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      // per-row amounts have ≤4 decimal digits; summing them as scaled
      // integers makes the aggregate exact and order-independent (a plain
      // double sum rounds differently across partition orders / engines)
      .select(col("nation"), year(col("o_orderdate")).as("y"),
        round((col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity")) * 10000).cast("long").as("amount_i"))
      .groupBy("nation", "y")
      .agg(round(sum("amount_i") / 10000.0, 2).as("sum_profit"))
  }

  /** Q12-adapted (no l_shipmode in the fixture): per return flag, count of
    * 1997-shipped lines on high- vs low-priority orders.
    */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(hi, 1).otherwise(0)).as("high_line_count"),
        sum(when(hi, 0).otherwise(1)).as("low_line_count"))
  }

  /** Q13-shaped customer distribution: how many customers placed k orders
    * (including k=0 via the left join). Two aggregations, each a single
    * narrow shuffle.
    */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** Q15-shaped top supplier: supplier(s) whose half-year revenue equals
    * the maximum (scalar subquery → broadcast one-row join).
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val best = revenue.agg(max("total_revenue").as("mr"))
    revenue
      .join(broadcast(best), col("total_revenue") === col("mr"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Q17-shaped small-quantity revenue: lines of one brand bought at less
    * than 20% of that part's average quantity (correlated scalar subquery
    * → per-part aggregate joined back), scaled to a yearly figure.
    */
  def q17SmallQty(spark: SparkSession, dir: String, brand: String = "Brand#1"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
      .agg(avg("l_quantity").as("avg_qty"))
    val parts = Tables.part(spark, dir)
      .where(col("p_brand") === brand).select("p_partkey")
    li.join(parts, col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_key"))
      .where(col("l_quantity") < col("avg_qty") * 0.2)
      .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** Q18-shaped large orders: orders whose total quantity exceeds the
    * threshold, with customer context. The HAVING runs on lineitem before
    * any join, so only qualifying orders reach the join.
    */
  def q18BigOrders(spark: SparkSession, dir: String, minQty: Double = 250.0): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("raw_qty"))
      .where(col("raw_qty") > minQty)
      .select(col("l_orderkey"), round(col("raw_qty"), 2).as("sum_qty"))
    big.join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
  }

  /** Q19-shaped bracket revenue: disjunction of brand/size/quantity
    * brackets — one broadcast join, predicate entirely codegen'd.
    */
  def q19Brackets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40)))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n"))
  }

  /** Q21-adapted waiting suppliers (no l_commitdate in the fixture):
    * suppliers who were the ONLY supplier with returned ('R') lines on a
    * multi-supplier order — EXISTS becomes a semi join, NOT EXISTS an anti
    * join, both on (orderkey, other-supplier) pairs.
    */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val all = li.select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    val ret = li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
    ret.as("r")
      .join(all.as("a"),
        col("r.o") === col("a.o") && col("r.s") =!= col("a.s"), "left_semi")
      .join(ret.as("r2"),
        col("r.o") === col("r2.o") && col("r.s") =!= col("r2.s"), "left_anti")
      .groupBy(col("r.s").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** Q22-shaped idle rich customers: above-average balance (scalar subquery
    * → broadcast one-row join) and no orders (anti join), grouped by
    * nation.
    */
  def q22IdleRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg(avg("c_acctbal").as("ab"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("ab"))
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), round(sum("c_acctbal"), 2).as("totacctbal"))
  }

  /** Per-group argmax via self-join against the per-group max (ties broken
    * by smallest key): which customer holds each segment's largest balance.
    * Engine-portable alternative to `max_by`, whose tie behavior is
    * undefined.
    */
  def argmaxJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val mx = cust.groupBy(col("c_mktsegment").as("seg"))
      .agg(max("c_acctbal").as("max_bal"))
    cust.join(broadcast(mx),
        col("c_mktsegment") === col("seg") && col("c_acctbal") === col("max_bal"))
      .groupBy(col("c_mktsegment"), round(col("max_bal"), 2).as("max_bal"))
      .agg(min("c_custkey").as("best_custkey"))
      .select("c_mktsegment", "max_bal", "best_custkey")
  }

  /** Q16-shaped supplier variety (no partsupp in the fixture, so supplier
    * relationships come from lineitem): distinct suppliers per (brand,
    * size) for non-promo parts. Distinct-agg after a broadcast join.
    */
  def q16SuppCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).where(col("p_type") =!= "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))

  /** RANGE-frame window: per customer, total spend in the 30 days strictly
    * before each order (frame bounds in epoch seconds). RANGE frames are
    * value-based, so the result is independent of tie order — the
    * determinism property ROWS frames lack.
    */
  def rangeFrameSpend(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val w = Window.partitionBy("o_custkey").orderBy(col("epoch_s"))
      .rangeBetween(-30 * day, -1)
    Tables.orders(spark, dir)
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
      .withColumn("epoch_s", unix_seconds(col("o_orderdate").cast("timestamp")))
      .withColumn("prior_30d_spend",
        round(coalesce(sum("o_totalprice").over(w), lit(0.0)), 2))
      .select("o_orderkey", "o_custkey", "prior_30d_spend")
  }

  /** 7-day moving average of daily order revenue: aggregate to one row per
    * day first (narrow shuffle), then a rows-frame window over the small
    * daily series. Never a window over raw orders.
    */
  def movingAvgDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum("o_totalprice").as("rev"))
    val w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma7", round(avg("rev").over(w), 2))
      .select(col("d"), round(col("rev"), 2).as("rev"), col("ma7"))
  }

  /** Ranking-function family over a coarse (tied) sort key: rank,
    * dense_rank and percent_rank are functions of the key alone, so the
    * output is deterministic even with ties (ntile is deliberately absent —
    * it depends on row position within ties).
    */
  def rankFuncs(spark: SparkSession, dir: String): DataFrame = {
    val bucket = floor(col("o_totalprice") / 50000).cast("long")
    val w = Window.partitionBy("o_orderpriority").orderBy(bucket.desc)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), bucket.as("price_bucket"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"))
  }

  /** Ordered string aggregation: alphabetically-first customer names per
    * segment, collected then sorted so the result is partition-order
    * independent (collect_list alone is not deterministic).
    */
  def stringAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        array_join(slice(array_sort(collect_list("c_name")), 1, 5), ",")
          .as("first5"))

  /** Fixed-width histogram of order values: bucket = floor(price / width).
    * One narrow shuffle on the bucket id; the 100 TB pattern for value
    * distributions (never a sort, never a collect).
    */
  def histogram(spark: SparkSession, dir: String, width: Double = 50000.0): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))

  /** Bivariate statistics per group: correlation, sample covariance and
    * stddevs of quantity vs price. Single partial+final aggregate pass.
    */
  def corrStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 4).as("qp_corr"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2).as("qp_covar"),
        round(stddev_samp("l_quantity"), 4).as("sd_qty"),
        round(stddev_samp("l_extendedprice"), 2).as("sd_price"),
        count(lit(1)).as("n"))

  /** Remaining ranking-window shapes: ntile deciles, cumulative
    * distribution, and first/nth value over the full partition frame. The
    * order key includes o_orderkey so ntile/nth are deterministic under
    * ties.
    */
  def windowShapes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority"),
      ntile(10).over(w).as("decile"),
      round(cume_dist().over(w), 6).as("cd"),
      first(col("o_orderkey")).over(wf).as("top_order"),
      nth_value(col("o_orderkey"), 2).over(wf).as("second_order"))
  }

  /** Calendar-function coverage: quarter, month-end, month bucket epoch,
    * day delta to a fixed date, and clamped month arithmetic — emitted as
    * ints/strings/epochs so every engine compares them exactly.
    */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      quarter(col("o_orderdate")).as("q"),
      dayofmonth(col("o_orderdate")).as("dom"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
      unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_epoch"),
      datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"),
      date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_q"))

  /** Array-function coverage over a real array column (tokenized text):
    * sort/distinct/slice/join, positional access (incl. negative index),
    * set intersection, element removal, membership position — the §2.3
    * "scalar functions (array)" surface, emitted as scalars so every
    * engine compares exactly. `array_position` is coalesced to 0 on the
    * oracle side (Spark returns 0 for absent, SQL engines NULL).
    */
  def arrayFuncs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        array_join(slice(array_sort(array_distinct(col("toks"))), 1, 3), ",")
          .as("first3_sorted"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        size(array_intersect(array_distinct(col("toks")),
          array(lit("the"), lit("a"), lit("of")))).as("n_stop"),
        length(concat_ws("", col("toks"))).as("n_chars_joined"),
        size(array_remove(col("toks"), "the")).as("n_no_the"),
        array_position(col("toks"), "the").as("pos_the"))

  /** Snapshot diff between two keyed frames (same schema): one full-outer
    * shuffle join on the key — the canonical diff plan — classifying each
    * key as `added` / `removed` / `changed` and counting changed columns
    * via null-safe comparison. Keys present and identical in both are not
    * emitted. `n_cols_changed` is 0 for added/removed — the column delta
    * is only meaningful for `changed` rows (0, not NULL, keeps the column
    * non-nullable integer on every engine). This is the batch complement of
    * [[Cdc.mergeUpsert]]: merge applies changes, diff recovers them —
    * together they round-trip a snapshot pair through a change stream.
    */
  def snapshotDiff(old: DataFrame, neu: DataFrame, key: String): DataFrame = {
    val cols = old.columns.filterNot(_ == key).toSeq
    val o = old.as("o")
    val n = neu.as("n")
    val nChanged = cols
      .map(c => when(not(col(s"o.$c") <=> col(s"n.$c")), 1).otherwise(0))
      .reduce(_ + _)
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .select(
        coalesce(col(s"o.$key"), col(s"n.$key")).as(key),
        when(col(s"o.$key").isNull, lit("added"))
          .when(col(s"n.$key").isNull, lit("removed"))
          .otherwise(lit("changed")).as("change"),
        when(col(s"o.$key").isNull || col(s"n.$key").isNull,
          lit(0)).otherwise(nChanged).as("n_cols_changed"))
      .where(col("change") =!= "changed" || col("n_cols_changed") > 0)
  }

  /** Equi-depth histogram of `l_extendedprice`: global rank via the
    * distributed two-pass prefix sum (the [[Relational.globalIndex]]
    * pattern — range partition on the sort key, per-partition counts
    * prefix-summed into offsets, local row_number + offset; the only
    * single-partition window runs over #partitions rows), bucket =
    * `(rank−1)·nBuckets div n`, then one aggregate per bucket. The
    * equi-WIDTH histogram ([[histogram]]) bins by value; this bins by
    * population — the form query optimizers and data-quality monitors
    * want for skew-robust range stats.
    */
  def histogramEqDepth(spark: SparkSession, dir: String,
      nBuckets: Int = 10): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val keys = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    // barrier: both passes must see the same range bounds
    val (ranged, _) = Pins.materialize("relationalx.eqdepth_ranged", Tables.lineitem(spark, dir)
      .select("l_extendedprice", "l_orderkey", "l_linenumber")
      .repartitionByRange(par, keys: _*)
      .withColumn("pid", spark_partition_id()))
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "off")
    val total = ranged.agg(count(lit(1)).as("n"))
    val local = Window.partitionBy("pid").orderBy(keys: _*)
    ranged.join(broadcast(offsets), "pid")
      .withColumn("rank", row_number().over(local).cast("long") + col("off"))
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"(rank - 1) * $nBuckets div n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
  }

  /** 2-D skyline (Pareto frontier) of `part` on (retail price ↓ better,
    * size ↑ better): the DISTINCT (price, size) points not dominated by
    * any other (dominator: price ≤, size ≥, strict in at least one).
    *
    * Shuffle-lean shape: a per-price max-size aggregate collapses the
    * corpus to ≤ |distinct prices| rows, and strict-lower-price running
    * max uses the same distributed two-pass prefix scan as
    * [[histogramEqDepth]] — range partition on price, per-partition maxes
    * combined into a strictly-before running max via a #partitions-row
    * window, local rows-frame max + cross-partition carry. A point
    * survives iff its size exceeds every strictly-cheaper point's max
    * size (same-price domination is already collapsed by the aggregate).
    * No n² self-join at any scale.
    */
  /** Engine-portable HyperLogLog distinct-count sketch: `2^p` registers
    * keyed by the low bits of the 60-bit portable md5 hash
    * ([[Dedup.portableHash64]]), register value = leading-zero rank of the
    * remaining `60-p` bits. Unlike `approx_count_distinct` (whose HLL++
    * internals are Spark-private), every stage here replays on any engine
    * with md5 + integer shifts — so the sketch is hash-CHECKABLE, not just
    * rows-checkable, and two engines can even merge each other's registers
    * (max per bucket is the HLL merge).
    *
    * Determinism: the register weight sum is integer-scaled — register
    * `r` contributes `2^(maxRho − r)` (a long; Σ ≤ 2^(p + maxRho) < 2^62)
    * and empty registers contribute `2^maxRho` — so the only FP math is
    * the final estimator division on exact integers plus `ln` on the
    * small-range branch, both written as the SAME literal expression both
    * engines evaluate (bm25's constant-folding contract).
    *
    * Scale shape: one map-side-combined `max` aggregate per (group,
    * bucket) — shuffle width = groups × 2^p tiny rows — then a per-group
    * rollup. The sketch never sees the value column after the hash
    * projection; this is the 100 TB cardinality path the exact
    * `distinct_agg` cannot walk.
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String,
      p: Int = 9): DataFrame = {
    require(p >= 4 && p <= 16, s"hllDistinct: p=$p outside [4, 16]")
    hllEstimate(hllRegisters(df, Seq(groupCol), valueCol, p), Seq(groupCol), p)
      .select(col(groupCol), col("n_used"), col("sum_scaled"), col("est_distinct"))
  }

  /** Per-day HLL registers over the event stream's user ids — the
    * maintained sketch state under [[rollingDistinct]]. `max` per (day,
    * bucket) is a monotone streaming-safe aggregate, so the SAME plan
    * runs on a `readStream` frame (complete mode converges to the batch
    * registers — pinned by StreamingSpec's parity test via
    * `graft.streaming.EventStreams.distinctSketchStream`).
    */
  private[graft] def dayRegisters(events: DataFrame, p: Int = 9): DataFrame =
    hllRegisters(events.select(
      datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01"))).as("day"),
      col("user_id")), Seq("day"), "user_id", p)

  /** The register table of the portable HLL sketch: per key, max-rho per
    * md5-derived bucket. This IS the mergeable sketch state — registers
    * of a union are the per-bucket max of the parts' registers (exploited
    * by [[hllOverlap]]).
    */
  private def hllRegisters(df: DataFrame, keyCols: Seq[String],
      valueCol: String, p: Int): DataFrame = {
    val m = 1 << p            // register count
    val maxRho = 60 - p + 1   // rho of an all-zero remainder
    val keys = keyCols.map(col)
    df
      .select(keys :+ Dedup.portableHash64(col(valueCol).cast("string")).as("h"): _*)
      .select(keys :+ (col("h") % m).as("bucket") :+ expr(s"h div $m").as("w"): _*)
      // bit length via bin(): minimal binary digits in Spark AND DuckDB,
      // so rho = maxRho − bitlen(w) needs no log2 (whose libm rounding
      // differs between engines at power-of-two boundaries)
      .select(keys :+ col("bucket") :+
        when(col("w") === 0, lit(maxRho))
          .otherwise(lit(maxRho) - length(bin(col("w")))).as("rho"): _*)
      .groupBy(keys :+ col("bucket"): _*)
      .agg(max("rho").as("r"))
  }

  /** The HLL estimator over a register table, keyed by `keyCols`. */
  private def hllEstimate(registers: DataFrame, keyCols: Seq[String],
      p: Int): DataFrame = {
    val m = 1 << p
    val maxRho = 60 - p + 1
    val pow2MaxRho = 1L << maxRho
    registers.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_used"),
        sum(expr(s"shiftleft(cast(1 as bigint), $maxRho - r)")).as("sum_used"))
      .withColumn("sum_scaled",
        col("sum_used") + (lit(m.toLong) - col("n_used")) * lit(pow2MaxRho))
      // alpha_m · m² / Σ2^(−M_j), with the Σ in scaled integer space; the
      // linear-counting branch (small cardinalities) uses the empty-register
      // count. Constants written as the same compound literals the oracle
      // evaluates so both engines fold them to identical doubles.
      .withColumn("est_raw", expr(
        s"(0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0 * $pow2MaxRho.0" +
          " / cast(sum_scaled as double)"))
      .withColumn("est_distinct", round(
        when(col("n_used") < m && col("est_raw") <= lit(2.5 * m),
          expr(s"$m.0 * ln($m.0 / ($m - n_used))"))
          .otherwise(col("est_raw")), 2))
  }

  /** Sketch-algebra vocabulary overlap: per source pair, the estimated
    * distinct-token cardinalities |A|, |B|, |A∪B| and the
    * inclusion-exclusion intersection |A|+|B|−|A∪B| — all from ONE pass
    * of per-source HLL registers. The union sketch is the per-bucket MAX
    * of the two sources' registers (the HLL merge), so the pair stage
    * touches only sources × m register rows — the corpus is scanned
    * exactly once, and adding a source to the comparison set costs one
    * register table, not a rescan. The exact companion is
    * [[graft.operators.TextOps.sourceOverlap]] (precise but joins the
    * full (source, word) vocabulary); this is the 100 TB screening pass
    * that decides WHICH pairs are worth the exact join.
    *
    * Every stage (hash, registers, max-merge, integer-scaled estimator)
    * replays in external SQL — the same portability contract as
    * [[hllDistinct]].
    */
  def hllOverlap(docs: DataFrame, p: Int = 9): DataFrame = {
    val tok = docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
    // four downstream reads (single estimates, source list, both pair
    // sides); the table is sources × m rows — persist behind a count
    // barrier so the token explode + register aggregate runs once
    // (pqTopK's pinned-tiny contract, LRU-evictable)
    val (regs, _) = Pins.materialize("relationalx.hll_overlap_regs",
      hllRegisters(tok, Seq("source"), "word", p))
    val single = hllEstimate(regs, Seq("source"), p)
      .select(col("source"), col("est_distinct"))
    val srcs = regs.select("source").distinct()
    val pairs = srcs.as("x").join(srcs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("a"), col("y.source").as("b"))
    // union registers = bucket-wise max over the two sources' registers
    val pairRegs = pairs
      .join(regs.withColumnRenamed("source", "a"), Seq("a"))
      .select(col("a"), col("b"), col("bucket"), col("r"))
      .unionAll(pairs.join(regs.withColumnRenamed("source", "b"), Seq("b"))
        .select(col("a"), col("b"), col("bucket"), col("r")))
      .groupBy("a", "b", "bucket").agg(max("r").as("r"))
    hllEstimate(pairRegs, Seq("a", "b"), p)
      .select(col("a"), col("b"), col("est_distinct").as("est_union"))
      .join(single.select(col("source").as("a"), col("est_distinct").as("est_a")), Seq("a"))
      .join(single.select(col("source").as("b"), col("est_distinct").as("est_b")), Seq("b"))
      .select(col("a"), col("b"), col("est_a"), col("est_b"), col("est_union"),
        // inclusion-exclusion can go slightly negative for near-disjoint
        // sources (the three estimates carry independent sketch error); a
        // negative "shared vocabulary" is nonsense for the screening
        // decision this drives, so clamp at 0 — mirrored in the oracle SQL
        round(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")), 2)
          .as("est_shared"))
  }

  /** Rolling N-day distinct users per day — the sliding-window COUNT
    * DISTINCT that exact aggregation cannot do incrementally (distinct
    * doesn't subtract), solved with sketch algebra: per-day HLL registers
    * build once from one corpus pass, and each day's trailing window is
    * the bucket-wise MAX of its last `days` register tables (a range
    * window over the dense day×bucket grid — days × m tiny rows), then
    * the shared estimator. Adding a day costs one register table, never
    * a re-scan of the window — the streaming-friendly shape.
    *
    * Day rides as an epoch-day integer so both engines bucket and order
    * identically (the time-bucket contract of `events_hourly`).
    */
  def rollingDistinct(events: DataFrame, days: Int = 7, p: Int = 9): DataFrame = {
    // the register table is read three times (day list, bucket list, the
    // grid join) — composed lazily each branch replays the corpus scan +
    // register aggregate. It is days × m tiny rows: persist behind a
    // count barrier (pqTopK's pinned-tiny contract, LRU-evictable)
    val (regs, _) = Pins.materialize("relationalx.rolling_regs", dayRegisters(events, p))
    // dense (day, bucket) grid: a bucket absent on some day must still
    // surface earlier days' registers through the window
    val grid = regs.select("day").distinct()
      .crossJoin(regs.select("bucket").distinct())
      .join(regs, Seq("day", "bucket"), "left")
    val w = Window.partitionBy("bucket").orderBy("day")
      .rangeBetween(-(days - 1), Window.currentRow)
    val merged = grid
      .withColumn("rm", max("r").over(w))
      .where(col("rm").isNotNull)
      .select(col("day"), col("bucket"), col("rm").as("r"))
    hllEstimate(merged, Seq("day"), p)
      .select(col("day"), col("n_used"), col("est_distinct").as("est_users"))
  }

  /** Merge overlapping-or-touching `[start, end]` intervals per key — the
    * classic gaps-and-islands rewrite: an interval starts a new island iff
    * its start exceeds the running max of every earlier interval's end
    * (NOT just the previous row's — an early long interval can span many
    * short ones), island id = cumulative count of island starts, then one
    * aggregate per island. Inputs are epoch-second longs so every engine
    * compares identically.
    *
    * Determinism under ties: rows ordering ambiguously (equal (start,
    * end)) can never open an island (prev running max ≥ their start since
    * an equal-start row's end ≥ its start), so island BOUNDARIES — and the
    * per-island aggregates — are order-independent even though row_number
    * would not be.
    *
    * Scale shape: one shuffle on the key; both windows and the final
    * aggregate run inside each key partition with rows-frame running
    * state (no second shuffle). Skewed keys are bounded by per-user event
    * counts — the same posture as [[EventOps.sessionize]].
    */
  def mergeIntervals(intervals: DataFrame, keyCol: String = "user_id",
      startCol: String = "start_s", endCol: String = "end_s"): DataFrame = {
    val byStart = Window.partitionBy(keyCol).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    intervals
      .withColumn("new_island",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum("new_island").over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("island"))
      .agg(min(startCol).as("start_s"), max(endCol).as("end_s"),
        count(lit(1)).as("n_merged"))
  }

  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // barrier: both passes must agree on range bounds
    val (perPrice, _) = Pins.materialize("relationalx.skyline_ranged", Tables.part(spark, dir)
      .groupBy(col("p_retailprice").as("price"))
      .agg(max("p_size").as("size"))
      .repartitionByRange(par, col("price"))
      .withColumn("pid", spark_partition_id()))
    // running max of size over partitions strictly before pid (tiny frame)
    val carry = perPrice.groupBy("pid").agg(max("size").as("pmax"))
      .withColumn("prev", max("pmax").over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)))
      .select("pid", "prev")
    val local = Window.partitionBy("pid").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, -1)
    perPrice.join(broadcast(carry), "pid")
      .withColumn("run", greatest(
        coalesce(max("size").over(local), lit(Int.MinValue)),
        coalesce(col("prev"), lit(Int.MinValue))))
      .where(col("size") > col("run"))
      .select("price", "size")
  }

  /** Count-Min sketch over a token stream: a `depth × width` counter matrix
    * where row `d` increments bucket `md5_60bit(token:d) % width`. The
    * sketch is the HLL's frequency-counting sibling (mergeable bounded
    * summary) and the mergeable complement of the exact
    * [[graft.functions.FrequentItems]] Misra-Gries summary: MG tracks top
    * items, CMS answers arbitrary point queries after the fact.
    *
    * Scale shape: the explode multiplies rows ×depth BEFORE the aggregate,
    * but partial (map-side) aggregation bounds every partition's shuffle
    * contribution at depth × width counter rows regardless of input size —
    * the whole point of the sketch. Final sketch ≤ depth·width rows: a
    * broadcastable probe table.
    *
    * Portable by construction (md5-derived buckets, integer counts) — an
    * external SQL engine rebuilds the identical matrix.
    */
  def cmsSketch(docs: DataFrame, depth: Int = 4, width: Int = 512,
      textCol: String = "text"): DataFrame = {
    require(depth >= 1 && width >= 2, s"cmsSketch: bad depth=$depth width=$width")
    docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .select(explode(expr(
        s"transform(sequence(0, ${depth - 1}), d -> named_struct(" +
          s"'d', d, 'bucket', ${Dedup.portableHash64Sql("concat(w, ':', cast(d as string))")} % $width))"))
        .as("db"))
      .groupBy(col("db.d").as("d"), col("db.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for a fixed probe vocabulary: estimate =
    * min over the depth rows of the probed bucket (the classic CMS
    * over-estimate: `true ≤ est ≤ true + εN` with ε = e/width w.h.p.).
    * This is the sketch's genuine access pattern — counts for named keys
    * without storing (or ever shuffling) the full vocabulary.
    *
    * Scale shape: the sketch (≤ depth·width rows) broadcasts; probes never
    * shuffle. An absent bucket means count 0 (left join + coalesce).
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, depth: Int = 4,
      width: Int = 512): DataFrame =
    probes
      .select(col("word"), explode(expr(
        s"transform(sequence(0, ${depth - 1}), d -> named_struct(" +
          s"'d', d, 'bucket', ${Dedup.portableHash64Sql("concat(word, ':', cast(d as string))")} % $width))"))
        .as("db"))
      .select(col("word"), col("db.d").as("d"), col("db.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("d", "bucket"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}
