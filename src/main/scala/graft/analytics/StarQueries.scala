package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Rounding.roundHalfAway

/** Heavy star-schema analytics in the shape of the classic warehouse
  * queries (pricing summary, shipping priority, returned items) —
  * the scan+join+agg shapes that dominate at 100 TB. Date filters
  * push down to the parquet scan (µs TIMESTAMP_NTZ columns — no NANOS
  * workaround needed here); small dims broadcast; top-n uses rounded
  * sort keys + id tiebreaks so ordering matches the oracle across
  * engines.
  */
object StarQueries {

  // money math in exact DECIMAL so sums are reassociation-proof and
  // bit-identical to the DuckDB oracle; cast back to double at the end
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
  private val one = lit(1).cast("decimal(18,2)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 shape: cumulative pricing summary with date filter
    "q1_pricing_summary" -> ((s, dir) =>
      Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") <= lit("1999-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          roundHalfAway(sum(col("l_quantity")), 2).as("sum_qty"),
          roundHalfAway(sum(dec(col("l_extendedprice"))), 2).cast("double")
            .as("sum_base_price"),
          roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
            .cast("double").as("sum_disc_price"),
          roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
            * (one + dec(col("l_tax")))), 2).cast("double").as("sum_charge"),
          roundHalfAway(avg(col("l_quantity")), 4).as("avg_qty"),
          roundHalfAway(avg(col("l_extendedprice")), 4).as("avg_price"),
          roundHalfAway(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    // Q3 shape: unshipped-revenue top-10 for one market segment
    "q3_shipping_priority" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate") < lit("1998-06-30"))
      val l = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") > lit("1998-06-30"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_trunc("second", col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // Q10 shape: returned-item revenue by customer, top 20
    "q10_returned_items" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir).filter(col("l_returnflag") === "R")
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("1999-01-01"))
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),
    // TPC-H Q6 shape: pure filter-heavy scan-agg — every predicate
    // (date range, discount band, quantity cap) pushes into the
    // parquet scan; the whole query is one map + one scalar agg
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))), 2)
          .cast("double").as("revenue"))),
    // TPC-H Q12 shape: conditional counts split by a priority class
    // over a fact⋈fact join — count(when) compiles to a single-pass
    // conditional aggregate, no second scan per class
    "q12_priority_lines" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
      val o = Tables.ordersTs(s, dir)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(high, 1)).as("high_line_count"),
          count(when(!high, 1)).as("low_line_count"))
    }),
    // TPC-H Q14 shape: promo revenue share. The two DECIMAL sums are
    // exact; the percentage divides them as doubles (identical
    // operands ⇒ identical quotient in both engines)
    "q14_promo_share" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
      val p = Tables.part(s, dir)
      val disc = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(
          roundHalfAway(sum(when(col("p_type") === "PROMO", disc)
            .otherwise(lit(0).cast("decimal(18,2)"))), 2)
            .cast("double").as("promo_revenue"),
          roundHalfAway(sum(disc), 2).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          roundHalfAway(col("promo_revenue") / col("total_revenue") * 100, 4)
            .as("promo_pct"))
    }),
    // TPC-H Q5 shape: local-supplier volume — the 6-table star with a
    // same-nation equi-condition between two dims (customer and
    // supplier must share the nation); dims broadcast, the fact chain
    // shuffles only for the final aggregation
    "q5_local_supplier" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "AMERICA")
        .groupBy(col("n_name"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"))
    }),
    // TPC-H Q16 shape: distinct-supplier counts per part attribute
    // with a NOT IN exclusion subquery (planned as a broadcast
    // null-aware anti join)
    "q16_parts_suppliers" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).filter(col("p_size").isin(1, 2, 3, 4))
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(bad, l("l_suppkey") === bad("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),
    // TPC-H Q18 shape: large-volume orders — aggregate-then-join with
    // a HAVING filter; the big fact aggregates BEFORE joining dims, so
    // only qualifying orders reach the join
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.lineitemTs(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(roundHalfAway(sum(dec(col("l_quantity"))), 2).cast("double")
          .as("total_qty"))
        .filter(col("total_qty") > 150)
      val o = Tables.ordersTs(s, dir)
      val c = Tables.customer(s, dir)
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_trunc("second", col("o_orderdate")).as("o_orderdate"),
          roundHalfAway(dec(col("o_totalprice")), 2).cast("double").as("o_totalprice"),
          col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),
    // TPC-H Q7 shape: bilateral shipping volume between two nations by
    // year. The nation-pair disjunction is pushed as isin() into BOTH
    // broadcast dims before the join (Catalyst can't derive the
    // per-side IN from the cross-table OR), so the fact rows that
    // survive the hash probes are already the candidate pairs
    "q7_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val l = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1998-12-31")))
      val o = Tables.ordersTs(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"))
    }),
    // TPC-H Q8 shape: national market share inside one region. Both
    // DECIMAL sums are exact, so the double division of identical
    // operands is bit-identical across engines
    "q8_market_share" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
      val p = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate").between(lit("1996-01-01"), lit("1997-12-31")))
      val c = Tables.customer(s, dir)
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val r = Tables.region(s, dir).filter(col("r_name") === "AMERICA")
      val sup = Tables.supplier(s, dir)
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val volume = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          roundHalfAway(sum(when(col("supp_nation") === "NATION_9", volume)
            .otherwise(lit(0).cast("decimal(18,2)"))), 2)
            .cast("double").as("nation_volume"),
          roundHalfAway(sum(volume), 2).cast("double").as("total_volume"))
        .select(col("o_year"), col("nation_volume"), col("total_volume"),
          roundHalfAway(col("nation_volume") / col("total_volume"), 6).as("mkt_share"))
    }),
    // TPC-H Q13 shape: customer order-count distribution — LEFT join
    // with an extra non-key predicate (kept customers with zero
    // qualifying orders land in the c_count=0 bucket), then a second
    // aggregation over the first's result
    "q13_customer_distribution" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),
    // TPC-H Q15 shape: top supplier by quarterly revenue — the scalar
    // max-subquery becomes a broadcast join against a 1-row aggregate
    // of the same (small, per-supplier) revenue relation; ties kept,
    // exactly like `WHERE total = (SELECT max(total) ...)`
    "q15_top_supplier" -> ((s, dir) => {
      // materialized once: self-referencing subtrees get no exchange
      // reuse, so without this the filtered scan + per-supplier agg
      // would run twice (once for the probe side, once under max)
      val rev = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("total_revenue"))
        .localCheckpoint(true)
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),
    // TPC-H Q17 shape: small-quantity-order revenue — the correlated
    // per-part average subquery becomes one partial-aggregated
    // groupBy on the fact joined back; the threshold compare is
    // multiplicative (qty·5·n < Σqty) so both engines compare exact
    // DECIMALs instead of a double average
    "q17_small_quantity" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(dec(col("l_quantity"))).as("qty_sum"),
          count(lit(1)).as("qty_n"))
      val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#12")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(perPart, l("l_partkey") === perPart("pk"))
        .filter(dec(col("l_quantity")) * lit(5) * col("qty_n") < col("qty_sum"))
        .agg(roundHalfAway(sum(dec(col("l_extendedprice"))).cast("double") / 7.0, 2)
          .as("avg_yearly"))
    }),
    // TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions
    // — Catalyst's CNF conversion extracts the common p_partkey join
    // key and pushes the per-side residuals (brand IN, size range,
    // quantity range) into the scans; the OR itself evaluates post-join
    "q19_branded_revenue" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
      val p = Tables.part(s, dir)
      val arm1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
      val arm2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
      val arm3 = col("p_brand") === "Brand#24" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(roundHalfAway(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))), 2)
          .cast("double").as("revenue"))
    }),
    // TPC-H Q22 shape: rich-but-dormant customers — scalar average
    // subquery + NOT EXISTS anti join. The average threshold is
    // compared multiplicatively (bal·n > Σbal) so both engines compare
    // exact DECIMALs and no division rounding can flip a boundary row
    "q22_dormant_accounts" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val pos = c.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("pos_sum"),
          count(lit(1)).as("pos_n"))
      val recent = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate") >= lit("2001-01-01"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(pos))
        .filter(dec(col("c_acctbal")) * col("pos_n") > col("pos_sum"))
        .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          roundHalfAway(sum(dec(col("c_acctbal"))), 2).cast("double").as("totacctbal"))
    }),
    // TPC-H Q2 shape: min-cost supplier per part. The reference data
    // has no partsupp table, so the part–supplier catalog is DERIVED
    // from the fact: min unit price per (part, supplier) — the same
    // IEEE double division in both engines, so the correlated-min
    // equality join back (`supply_cost = min per part`) matches
    // bit-for-bit. The catalog (distinct part×supplier, orders of
    // magnitude smaller than the fact) is materialized once and feeds
    // both the probe side and the per-part min — at 100 TB the fact is
    // scanned once, everything after is catalog-sized.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "EUROPE")
      val eur = ps
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .localCheckpoint(true) // reused by probe AND min sides
      val mn = eur.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("supply_cost")).as("min_cost"))
      val p = Tables.part(s, dir)
        .filter(col("p_size").between(10, 20) && col("p_type") === "SMALL")
      eur.join(mn, col("l_partkey") === col("mk") &&
          col("supply_cost") === col("min_cost"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(roundHalfAway(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
          col("n_name"), col("p_partkey"),
          roundHalfAway(col("supply_cost"), 4).as("supply_cost"))
    }),
    // TPC-H Q4 shape: order-priority checking — EXISTS becomes a LEFT
    // SEMI join whose condition mixes the equi key with a per-row time
    // predicate (lateness = shipped >30 days after order; the data has
    // no commit/receipt dates). The probe side never multiplies: each
    // qualifying order counts once no matter how many late lines
    "q4_priority_checking" -> ((s, dir) => {
      val o = Tables.ordersTs(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
      val l = Tables.lineitemTs(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),
    // TPC-H Q9 shape: product-line profit by nation and year. Supply
    // cost is modeled as 60% of the part's retail price (no partsupp
    // in the data); profit stays exact DECIMAL end-to-end so the
    // grouped sums are reassociation-proof across engines
    "q9_product_profit" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.ordersTs(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val p = Tables.part(s, dir).filter(col("p_name").like("%red%"))
      val cost = dec(col("p_retailprice")) * lit(0.60).cast("decimal(18,2)")
      val profit = dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
        cost * dec(col("l_quantity"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(roundHalfAway(sum(profit), 2).cast("double").as("sum_profit"))
    }),
    // TPC-H Q11 shape: important stock — per-part value restricted to
    // two nations' suppliers, kept only where the part exceeds a
    // fraction of the TOTAL (scalar subquery over the same relation).
    // The per-part aggregate is materialized once; the grand total is
    // a broadcast 1-row join; the fraction compares multiplicatively
    // in exact DECIMAL (v·1000 > Σv) so no division rounding can flip
    // a boundary part
    "q11_important_stock" -> ((s, dir) => {
      val nat = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      val value = Tables.lineitem(s, dir)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("v"))
        .localCheckpoint(true) // feeds both the probe and the total
      val tot = value.agg(sum(col("v")).as("total"))
      value.crossJoin(broadcast(tot))
        .filter(col("v") * lit(1000) > col("total"))
        .select(col("l_partkey"), roundHalfAway(col("v"), 2).cast("double").as("value"))
    }),
    // TPC-H Q20 shape: part promotion — the nested IN subqueries
    // become aggregate + join + LEFT SEMI: suppliers who shipped more
    // than half a filtered part's yearly volume. Quantities sum in
    // exact DECIMAL and the half-threshold compares multiplicatively
    // (2·qty > Σqty)
    "q20_part_promotion" -> ((s, dir) => {
      val shipped = Tables.lineitemTs(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty"))
        .localCheckpoint(true) // reused: per-pair probe + per-part total
      val tot = shipped.groupBy(col("l_partkey").as("tk"))
        .agg(sum(col("qty")).as("total"))
      val p = Tables.part(s, dir).filter(col("p_name").like("%red%"))
      val promoSupp = shipped
        .join(tot, col("l_partkey") === col("tk"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(col("qty") * lit(2) > col("total"))
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(promoSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), roundHalfAway(col("s_acctbal"), 2).as("s_acctbal"))
    }),
    // TPC-H Q21 shape: suppliers who kept orders waiting. The EXISTS
    // (another supplier shares the order) and NOT EXISTS (no OTHER
    // supplier was late on it) correlated pair collapses into ONE
    // per-order aggregate over a lateness relation computed once
    // (lateness = shipped >60 days after order): a late supplier
    // "kept the order waiting" iff the order has >1 distinct
    // suppliers and exactly 1 distinct LATE supplier (itself). The
    // aggregate form replaces semi/anti self-joins with
    // `supp <> supp2` residuals — those multiply each order's
    // supplier group inside the join, quadratic in per-order
    // suppliers (wall-clock parity at sf0.1's ~4 suppliers/order;
    // the quadratic residual is what bites at skewed scale) — and
    // shuffles the narrow relation once on the key both sides of the
    // probe join already share.
    "q21_waiting_supplier" -> ((s, dir) => {
      val l = Tables.lineitemTs(s, dir)
      val o = Tables.ordersTs(s, dir)
      val late = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("is_late"))
        .localCheckpoint(true) // two consumers: per-order agg + probe
      // two plain aggs instead of two countDistinct in one: the
      // distinct-agg form plans an Expand that doubles the relation
      // through the aggregate; dedup to (order, supplier) grain first
      // and the census is a cheap second-stage count/sum
      val perOrder = late
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("is_late").cast("int")).as("supp_late"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"), sum(col("supp_late")).as("n_late"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
        .select(col("l_orderkey"))
      late.filter(col("is_late"))
        .join(perOrder, Seq("l_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS sum_base_price,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS sum_disc_price,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |                 * (1::DECIMAL(18,2) + l_tax::DECIMAL(18,2))), 2)::DOUBLE
        |         AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-09-01'
        |GROUP BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |       date_trunc('second', o_orderdate) AS o_orderdate,
        |       o_orderpriority,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(18,2)
        |              * l_discount::DECIMAL(18,2)), 2)::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                  THEN 1 END) AS high_line_count,
        |       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                  THEN 1 END) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "q14_promo_share" ->
      """WITH s AS (
        |  SELECT round(sum(CASE WHEN p_type = 'PROMO'
        |                        THEN l_extendedprice::DECIMAL(18,2)
        |                             * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |                        ELSE 0::DECIMAL(18,2) END), 2)::DOUBLE
        |           AS promo_revenue,
        |         round(sum(l_extendedprice::DECIMAL(18,2)
        |                   * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |           AS total_revenue
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT promo_revenue, total_revenue,
        |       round(promo_revenue / total_revenue * 100, 4) AS promo_pct
        |FROM s""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "q16_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 2, 3, 4)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE > 150)
        |SELECT c_name, c_custkey, o_orderkey,
        |       date_trunc('second', o_orderdate) AS o_orderdate,
        |       round(o_totalprice::DECIMAL(18,2), 2)::DOUBLE AS o_totalprice,
        |       total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate)::INT AS l_year,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |                     AND TIMESTAMP '1998-12-31'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate)::INT AS o_year,
        |       round(sum(CASE WHEN n2.n_name = 'NATION_9'
        |                      THEN l_extendedprice::DECIMAL(18,2)
        |                           * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |                      ELSE 0::DECIMAL(18,2) END), 2)::DOUBLE
        |         AS nation_volume,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS total_volume,
        |       round(nation_volume / total_volume, 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |                      AND TIMESTAMP '1997-12-31'
        |GROUP BY 1""".stripMargin,
    "q13_customer_distribution" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |                   AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust
        |GROUP BY 1""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice::DECIMAL(18,2)
        |                   * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |           AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q17_small_quantity" ->
      """WITH pa AS (
        |  SELECT l_partkey AS pk,
        |         sum(l_quantity::DECIMAL(18,2)) AS qty_sum,
        |         count(*) AS qty_n
        |  FROM lineitem GROUP BY 1)
        |SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2)
        |         AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON pk = l_partkey
        |WHERE p_brand = 'Brand#12'
        |  AND l_quantity::DECIMAL(18,2) * 5 * qty_n < qty_sum""".stripMargin,
    "q19_branded_revenue" ->
      """SELECT round(sum(l_extendedprice::DECIMAL(18,2)
        |              * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_dormant_accounts" ->
      """WITH pos AS (
        |  SELECT sum(c_acctbal::DECIMAL(18,2)) AS pos_sum,
        |         count(*) AS pos_n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment,
        |       count(*) AS numcust,
        |       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS totacctbal
        |FROM customer, pos
        |WHERE c_acctbal::DECIMAL(18,2) * pos_n > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |eur AS (
        |  SELECT ps.l_partkey, ps.supply_cost, s.s_name, s.s_acctbal, n.n_name
        |  FROM ps
        |  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |mn AS (SELECT l_partkey, min(supply_cost) AS min_cost
        |       FROM eur GROUP BY 1)
        |SELECT round(e.s_acctbal, 2) AS s_acctbal, e.s_name, e.n_name,
        |       p.p_partkey, round(e.supply_cost, 4) AS supply_cost
        |FROM eur e
        |JOIN mn ON e.l_partkey = mn.l_partkey AND e.supply_cost = mn.min_cost
        |JOIN part p ON e.l_partkey = p.p_partkey
        |WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'SMALL'""".stripMargin,
    "q4_priority_checking" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                   * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))
        |                 - p_retailprice::DECIMAL(18,2) * 0.60::DECIMAL(18,2)
        |                   * l_quantity::DECIMAL(18,2)), 2)::DOUBLE
        |         AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,
    "q11_important_stock" ->
      """WITH val AS (
        |  SELECT l_partkey, sum(l_extendedprice::DECIMAL(18,2)) AS v
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name IN ('NATION_3', 'NATION_7')
        |  GROUP BY 1),
        |tot AS (SELECT sum(v) AS total FROM val)
        |SELECT l_partkey, round(v, 2)::DOUBLE AS value
        |FROM val, tot
        |WHERE v * 1000 > total""".stripMargin,
    "q20_part_promotion" ->
      """WITH shipped AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity::DECIMAL(18,2)) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(qty) AS total FROM shipped GROUP BY 1)
        |SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT sh.l_suppkey
        |  FROM shipped sh
        |  JOIN tot ON sh.l_partkey = tot.l_partkey
        |  JOIN part p ON sh.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE '%red%' AND sh.qty * 2 > tot.total)""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.is_late
        |  AND EXISTS (SELECT 1 FROM late l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.is_late)
        |GROUP BY 1""".stripMargin)
}
