package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}

/** Classic TPC-H query shapes adapted to the driver star schema
  * (SURVEY.md §2.2 Group B widening, round 3). The driver tables lack
  * partsupp and a few columns (l_shipmode, l_commitdate, c_phone), so
  * shapes that need them are re-targeted at existing columns — the point
  * of each entry is the PLAN SHAPE an analytics engine must handle
  * (EXISTS rewrites, disjunctive pushdown, two-level aggregation,
  * correlated averages, scalar-subquery gating), not TPC-H compliance.
  *
  * Determinism rules follow Relational.scala: decimal-cast sums, Det.r4
  * rounding, total output order. Scale notes per query in Scaladoc.
  */
object TpchShapes {

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  /** `q6_forecast_revenue` (TPC-H Q6): the canonical single-pass
    * filter+aggregate — every predicate reaches the parquet scan, the
    * aggregate is one partial+final pass, no shuffle beyond the final
    * 1-row merge. */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01") &&
              $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24.0)
      .agg(round(dsum($"l_extendedprice" * $"l_discount"), 4).as("revenue"))
  }

  /** `q4_order_priority` (TPC-H Q4): EXISTS-correlated count — a left-semi
    * join with a non-equi residual (any lineitem shipped >60 days after
    * the order date), then a small grouped count. The semi join shuffles
    * once on orderkey; the date residual is evaluated on the joined pair. */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_shipdate")
    Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1996-07-01"))
      .join(li, $"o_orderkey" === $"l_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** `q7_volume_shipping` (TPC-H Q7): two independent dimension chains on
    * the same fact row — supplier→nation and order→customer→nation — with
    * a symmetric two-nation filter and per-year volume. The supplier map
    * rides as a broadcast (sub-linear cardinality); the customer map is
    * UNHINTED — customer-proportional, so AQE owns the strategy — and
    * the remaining shuffles are lineitem⋈orders and the final small
    * aggregate. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nations = Seq("NATION_3", "NATION_8")
    val suppNation = broadcast(
      Tables.supplier(spark, sfDir)
        .join(Tables.nation(spark, sfDir), $"s_nationkey" === $"n_nationkey")
        .filter($"n_name".isin(nations: _*))
        .select($"s_suppkey", $"n_name".as("supp_nation")))
    // customer-derived: UNHINTED (customer-proportional — SURVEY §4's
    // broadcast rule; AQE broadcasts while it fits, shuffles at 100×)
    val custNation =
      Tables.customer(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
        .filter($"n_name".isin(nations: _*))
        .select($"c_custkey", $"n_name".as("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1998-01-01"))
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(custNation, $"o_custkey" === $"c_custkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(round(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** `q8_market_share` (TPC-H Q8): conditional share of a total — per
    * order year, the fraction of EUROPE-customer widget revenue supplied
    * from NATION_3. Numerator and denominator come out of ONE aggregation
    * pass (sum + sum(when)), so the fact tables are scanned once. */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = broadcast(
      Tables.part(spark, sfDir).filter($"p_name".contains("widget")).select($"p_partkey"))
    val suppNation = broadcast(
      Tables.supplier(spark, sfDir)
        .join(Tables.nation(spark, sfDir), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation")))
    // customer-derived: UNHINTED (same rule as q7's custNation)
    val custRegion =
      Tables.customer(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(spark, sfDir).filter($"r_name" === "EUROPE")),
          $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey")
    val volume = ($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(DecimalType(18, 4))
    Tables.lineitem(spark, sfDir)
      .join(parts, $"l_partkey" === $"p_partkey")
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(custRegion, $"o_custkey" === $"c_custkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(graft.Det.r4(
        sum(when($"supp_nation" === "NATION_3", volume).otherwise(lit(0).cast(DecimalType(18, 4))))
          .cast(DoubleType) /
        sum(volume).cast(DoubleType)).as("mkt_share"))
      .orderBy($"o_year")
  }

  /** `q9_product_profit` (TPC-H Q9 shape, no partsupp so profit =
    * discounted revenue): widget revenue per supplier nation per order
    * year. The part filter prunes the fact scan through a broadcast
    * semi-ish join; nation arrives broadcast on the supplier side. */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = broadcast(
      Tables.part(spark, sfDir).filter($"p_name".contains("widget")).select($"p_partkey"))
    val suppNation = broadcast(
      Tables.supplier(spark, sfDir)
        .join(Tables.nation(spark, sfDir), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("nation")))
    Tables.lineitem(spark, sfDir)
      .join(parts, $"l_partkey" === $"p_partkey")
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"nation", year($"o_orderdate").as("o_year"))
      .agg(round(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** `q12_priority_shipping` (TPC-H Q12 shape; l_returnflag stands in for
    * the missing l_shipmode): per returnflag, how many high- vs
    * low-priority orders shipped in the window — join + CASE-bucketed
    * conditional counts in one pass. */
  def q12PriorityShipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val high = $"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH"
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01"))
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** `q13_order_counts` (TPC-H Q13): the order-count distribution —
    * customer LEFT OUTER orders (so zero-order customers survive), count
    * per customer, then a second aggregation over the counts. Two
    * shuffle-aggregations by design; the first groups on the join key so
    * it reuses the join's partitioning (no extra exchange). */
  def q13OrderCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, sfDir)
      .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
      .select($"o_custkey", $"o_orderkey")
    Tables.customer(spark, sfDir).select($"c_custkey")
      .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** `q14_promo_revenue` (TPC-H Q14): promo revenue share over a window —
    * one joined aggregation pass producing numerator (CASE) and
    * denominator, projected to a percentage. */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val volume = ($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(DecimalType(18, 4))
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= ts("1997-01-01") && $"l_shipdate" < ts("1997-04-01"))
      // the FULL part table rides unhinted: part-proportional (SF·200k
      // rows — broadcasting it at 100× is the q5 failure mode); AQE
      // picks BHJ at bench scale and demotes past the threshold
      .join(Tables.part(spark, sfDir).select($"p_partkey", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .agg(graft.Det.r4(
        lit(100.0) *
          sum(when($"p_type" === "PROMO", volume).otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DoubleType) /
          sum(volume).cast(DoubleType)).as("promo_revenue"))
  }

  /** `q15_top_supplier` (TPC-H Q15): aggregate, then keep the rows that
    * attain the aggregate's maximum — the CTE+scalar-subquery shape. The
    * per-supplier revenue is one grouped pass; the max arrives as a
    * broadcast 1-row cross join (never a driver-side collect), so the
    * plan is identical at any supplier cardinality. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // materialized once: both the max aggregate and the equality join
    // consume the revenue CTE (the lineitem scan+agg would run twice)
    val revenue = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(round(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("total_revenue"))
      .transform(Materialize.reuse)
    val top = revenue.agg(max($"total_revenue").as("max_revenue"))
    revenue
      .join(broadcast(top), $"total_revenue" === $"max_revenue")
      .join(broadcast(Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  /** `q17_small_qty_orders` (TPC-H Q17): correlated per-part average —
    * lineitems of one brand whose quantity is below half that part's
    * average quantity. The per-part average is a grouped pass over the
    * SAME brand-pruned scan, joined back on partkey (Catalyst plans the
    * classic agg+self-join decorrelation; no per-row subquery). */
  def q17SmallQtyOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val brandParts = broadcast(
      Tables.part(spark, sfDir).filter($"p_brand" === "Brand#1").select($"p_partkey"))
    val li = Tables.lineitem(spark, sfDir)
      .join(brandParts, $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val avgQty = li.groupBy($"l_partkey".as("a_partkey"))
      .agg((sum($"l_quantity".cast(DecimalType(18, 4))).cast(DoubleType) / count(lit(1)))
        .as("avg_qty"))
    // UNHINTED join back: avgQty has one row per part of the brand —
    // part-table-fraction cardinality, not broadcast-bounded at 100× —
    // so AQE picks broadcast at small scale, SMJ/SHJ at scale.
    li.join(avgQty, $"l_partkey" === $"a_partkey")
      .filter($"l_quantity" < lit(0.5) * $"avg_qty")
      .agg(graft.Det.r4(dsum($"l_extendedprice") / lit(7.0)).as("avg_yearly"))
  }

  /** `q19_discounted_revenue` (TPC-H Q19): disjunctive multi-clause
    * predicate over a joined pair — three OR'd conjunctions of brand,
    * size and quantity ranges. One part equi-join (unhinted — AQE
    * broadcasts while part fits); the disjunction is a single codegen'd
    * filter, and the common `l_quantity <= 40` bound is factored so the
    * scan still prunes. */
  def q19DiscountedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // full part table: unhinted for the same part-proportional reason as q14
    val p = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand", $"p_size")
    Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" >= 1.0 && $"l_quantity" <= 40.0)
      .join(p, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#1" && $"p_size".between(1, 10) && $"l_quantity".between(1.0, 15.0)) ||
        ($"p_brand" === "Brand#13" && $"p_size".between(5, 20) && $"l_quantity".between(10.0, 25.0)) ||
        ($"p_brand" === "Brand#20" && $"p_size".between(10, 30) && $"l_quantity".between(20.0, 40.0)))
      .agg(round(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("revenue"))
  }

  /** `q2_min_cost_supplier` (TPC-H Q2 shape; lineitem sale prices stand
    * in for the missing partsupp.ps_supplycost): for each mid-size part,
    * the supplier(s) whose average sale price for it is the part's
    * minimum — the correlated min decorrelated as a per-part WINDOW over
    * the (part, supplier) aggregate, the same single-exchange trick as
    * q21: the aggregate's groupBy(partkey, suppkey) exchange already
    * clusters by partkey's superset, so the window's min-per-part runs
    * without a second fact-scale exchange — where the previous
    * agg → localCheckpoint → min-agg → equality-self-join form
    * materialized the multi-million-row aggregate and shuffled it twice
    * more (measured 18–32 s at 100× in both partition regimes; this
    * form re-measures at 3.9–4.0 s — SCALE.md r17). The average is
    * rounded to 4dp
    * BEFORE the min/equality so both engines compare identical doubles. */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val mid = broadcast(Tables.part(spark, sfDir)
      .filter($"p_size".between(10, 20)).select($"p_partkey"))
    Tables.lineitem(spark, sfDir)
      .join(mid, $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_suppkey",
        $"l_extendedprice".cast(DecimalType(18, 4)).as("price"))
      // the q21 single-exchange trick, literally: partkey alone
      // satisfies the aggregate's ClusteredDistribution (a subset of
      // its grouping keys) AND the window's — without it Catalyst
      // plans hashpartitioning(partkey, suppkey) for the agg and a
      // SECOND partkey exchange for the window (verified in
      // DevExplain). Per-part supplier groups are bounded, so
      // partkey-only partitioning is skew-free, and the exchanged row
      // is projected to three narrow columns first.
      .repartition($"l_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(graft.Det.r4(sum($"price")
        .cast(DoubleType) / count(lit(1))).as("avg_price"))
      .withColumn("min_price",
        min($"avg_price").over(Window.partitionBy($"l_partkey")))
      .filter($"avg_price" === $"min_price")
      .join(broadcast(Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey".as("p_partkey"), $"s_suppkey", $"s_name", $"avg_price")
      .orderBy($"p_partkey", $"s_suppkey")
  }

  /** `q21_late_suppliers` (TPC-H Q21 shape; "late" = shipped >90 days
    * after the order date): suppliers who were the ONLY late supplier in
    * a multi-supplier order. The EXISTS/NOT-EXISTS pair decorrelates to
    * ONE grouped pass — per (order, supplier) late flags — with the
    * per-order supplier/late counts taken as window aggregates over the
    * same frame: a self-join formulation would evaluate the fact join
    * and aggregation twice (verified in the plan), doubling the
    * workload's biggest shuffle at scale. Exchange reuse (round 6): the
    * groupBy(orderkey, suppkey) and the window(orderkey) would plan TWO
    * fact-scale exchanges (verified in DevExplain — Catalyst does not
    * coalesce them); an explicit `repartition(l_orderkey)` satisfies the
    * aggregate's ClusteredDistribution (orderkey is a subset of its
    * keys) AND the window's, so one exchange serves both. The late flag
    * is projected to a long BEFORE the shuffle, so the exchanged row is
    * (orderkey, suppkey, flag) — as narrow as the partial-agg row the
    * removed plan exchanged; map-side combine loses almost nothing
    * because (order, supplier) groups are ~1 row. Per-order groups are
    * bounded, so partitioning by orderkey alone is skew-free. */
  def q21LateSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"l_orderkey")
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L).as("late_flag"))
      .repartition($"l_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late_flag").as("is_late"))
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_late", sum($"is_late").over(wOrd))
      .filter($"is_late" === 1L && $"n_supp" > 1L && $"n_late" === 1L)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  /** `q16_parts_supplier` (TPC-H Q16 shape; lineitem supplies the
    * part↔supplier relation in place of partsupp): distinct supplier
    * count per (brand, type, size) for mid-size non-Brand#1 parts,
    * excluding negative-balance suppliers via NOT IN — which Catalyst
    * plans as a null-aware anti join, a DIFFERENT physical path from the
    * NOT EXISTS anti join in `join_anti` (null-aware = one extra
    * broadcast to prove the subquery has no NULLs). */
  def q16PartsSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir)
      .filter($"p_brand" =!= "Brand#1" && $"p_size".between(10, 30))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val badSupp = Tables.supplier(spark, sfDir)
      .filter($"s_acctbal" < 0.0).select($"s_suppkey")
    val rel = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_suppkey").distinct()
      // NOT IN (null-aware anti): spelled via the SQL operator so the
      // planner exercises the same path as the oracle's NOT IN
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
    graft.Views.withTemp(spark)("graft_q16_rel" -> rel, "graft_q16_bad" -> badSupp) { v =>
      spark.sql(
        s"""SELECT p_brand, p_type, p_size,
           |       count(DISTINCT l_suppkey) AS supplier_cnt
           |FROM ${v("graft_q16_rel")}
           |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM ${v("graft_q16_bad")})
           |GROUP BY p_brand, p_type, p_size
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    }
  }

  /** `q11_important_stock` (TPC-H Q11 shape; revenue stands in for
    * partsupp stock value): parts whose revenue exceeds a fixed fraction
    * of the GLOBAL total — the aggregate gated by a scalar aggregate of
    * itself. The per-part aggregate is materialized once and consumed by
    * both the global sum and the filter (same staging rule as Q15/Q2);
    * the threshold rides in as a broadcast 1-row cross join. */
  def q11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy($"l_partkey")
      .agg(round(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("part_value"))
      .transform(Materialize.reuse)
    val thr = perPart.agg(
      (sum($"part_value".cast(DecimalType(18, 4))).cast(DoubleType) * lit(0.0005))
        .as("threshold"))
    perPart.crossJoin(broadcast(thr))
      .filter($"part_value" > $"threshold")
      .select($"l_partkey".as("p_partkey"), $"part_value")
      .orderBy($"part_value".desc, $"p_partkey")
  }

  /** `q20_potential_promotion` (TPC-H Q20 shape; the lineitem-derived
    * part↔supplier relation stands in for partsupp, the q16/q2
    * precedent): suppliers in a nation slice holding "excess stock" of
    * PROMO parts — available-quantity proxy (quantity shipped in the
    * 1995 stock year) more than half of the 1996 demand-year shipped
    * quantity for the same (part, supplier). Q20's nested IN + per-pair
    * correlated scalar subquery decorrelates to ONE conditional
    * aggregation over the part-pruned fact scan (both year sums in the
    * same grouped pass — no second fact join), then a distinct-supplier
    * semi join. Decimal sums keep the half-of-sum comparison exact, so
    * the threshold cannot flip on double addend order. Part slice and
    * qualified-supplier sides are UNHINTED (part-table-fraction and
    * supplier-fraction cardinality — AQE broadcasts at small scale,
    * shuffles at 100×). */
  def q20PotentialPromotion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val promoParts = Tables.part(spark, sfDir)
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val dec = (c: Column) => c.cast(DecimalType(18, 4))
    val perPs = Tables.lineitem(spark, sfDir)
      .join(promoParts, $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(
        sum(when($"l_shipdate" >= ts("1995-01-01") && $"l_shipdate" < ts("1996-01-01"),
          dec($"l_quantity"))).as("avail_qty"),
        sum(when($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01"),
          dec($"l_quantity"))).as("demand_qty"))
    val qualified = perPs
      .filter($"demand_qty" > 0 && $"avail_qty" * 2 > $"demand_qty")
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .filter($"s_nationkey" < 5)
      .join(qualified, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
      .orderBy($"s_suppkey")
  }

  /** `q22_idle_customers` (TPC-H Q22 shape; nation stands in for the
    * missing phone prefix): customers richer than the positive-balance
    * average with no orders since 2000 — scalar-subquery threshold
    * (broadcast 1-row cross join), anti join against the recent-order
    * keys, grouped by nation. */
  def q22IdleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val thr = cust.filter($"c_acctbal" > 0.0)
      .agg((sum($"c_acctbal".cast(DecimalType(18, 4))).cast(DoubleType) / count(lit(1)))
        .as("avg_bal"))
    cust
      .crossJoin(broadcast(thr))
      .filter($"c_acctbal" > $"avg_bal")
      .join(Tables.orders(spark, sfDir)
          .filter($"o_orderdate" >= ts("2000-01-01")).select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        round(dsum($"c_acctbal"), 4).as("totacctbal"))
      .orderBy($"c_nationkey")
  }
}
