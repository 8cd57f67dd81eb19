package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.Scratch
import graft.functions.Skew
import graft.functions.Rounding.roundHalfAway

/** Relational operator surface beyond the reference's inventory, all
  * DuckDB-oracle-checked: semi/anti joins (EXISTS / NOT EXISTS
  * shapes), explicit window frames (running, moving, time-range),
  * GROUPING SETS with grouping indicators, UNPIVOT (melt), and the
  * salted skew join proven equal to the plain join.
  *
  * Scale notes per query live next to each definition; the common
  * thread: every shape here shuffles on its natural key, frames sort
  * once per partition, and the semi/anti joins reduce to broadcast
  * hash joins when the filtering side is small.
  */
object RelationalOpsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LEFT SEMI: customers having at least one order (EXISTS). The
    // probe side streams; only order keys travel — semi joins never
    // multiply rows, so the shuffle is bounded by the fact side.
    "join_semi" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          roundHalfAway(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").as("total_acctbal"))
    }),
    // LEFT ANTI: customers with no URGENT order (NOT EXISTS with a
    // filtered build side — every customer has SOME order, so the
    // predicate keeps the result non-trivial).
    "join_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          roundHalfAway(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").as("total_acctbal"))
    }),
    // Explicit window frames in one partition-sorted pass per user:
    // running total (ROWS UNBOUNDED PRECEDING), 3-row moving average
    // (ROWS 2 PRECEDING), trailing-hour total (RANGE over event-time
    // micros), first value, running row count. Money sums in exact
    // DECIMAL so engine-side reassociation can't move the rounding.
    "w9_running_frames" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov3 = byUser.rowsBetween(-2, 0)
      val hourRange = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0)
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        roundHalfAway(sum(col("value").cast("decimal(18,2)")).over(run), 2)
          .cast("double").as("running_total"),
        roundHalfAway(avg(col("value")).over(mov3), 4).as("mov_avg3"),
        roundHalfAway(sum(col("value").cast("decimal(18,2)")).over(hourRange), 2)
          .cast("double").as("hour_total"),
        first(col("value")).over(run).as("first_v"),
        count(lit(1)).over(run).as("row_in_user"))
    }),
    // GROUPING SETS with per-column grouping indicators — the general
    // form cube/rollup (a18/a20) specialize. SQL surface on a temp
    // view; one shuffle, Spark expands the sets map-side.
    "a23_grouping_sets" -> ((s, dir) => {
      // unique view name, dropped once the plan is analyzed: a fixed
      // name would race concurrent callers with different dirs (one
      // caller's SQL silently resolving against the other's data) and
      // leak into the session catalog
      val view = s"graft_ev_gs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables.events(s, dir).createOrReplaceTempView(view)
      try s.sql(
        s"""SELECT event_type, hour(ts) AS hora,
           |       CAST(grouping(event_type) AS INT) AS g_type,
           |       CAST(grouping(hour(ts)) AS INT) AS g_hora,
           |       count(*) AS n
           |FROM $view
           |GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), ())
           |""".stripMargin)
      finally s.catalog.dropTempView(view)
    }),
    // UNPIVOT (melt): wide per-flag measure sums to long
    // (flag, measure, total) — the multimodal/training-data shape for
    // turning measure columns into rows. Map-only after the agg.
    "p22_unpivot" -> ((s, dir) => {
      val sums = Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(
          roundHalfAway(sum(col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double").as("quantity"),
          roundHalfAway(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("extendedprice"),
          roundHalfAway(sum(col("l_discount").cast("decimal(18,2)")), 2)
            .cast("double").as("discount"))
      sums.unpivot(Array(col("l_returnflag")),
        Array(col("quantity"), col("extendedprice"), col("discount")),
        "measure", "total")
    }),
    // The real pivot API (a10 deliberately uses conditional agg):
    // EXPLICIT value list, so Catalyst rewrites to one single-pass
    // aggregate — no distinct-values discovery job, which is the
    // difference between one scan and two at 100 TB.
    "a27_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(hour(col("ts")).as("hora"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))),
    // Data-quality profile: per-column stats (rows, nulls, distincts,
    // min/max) for the fact table in ONE scan — every training-data
    // pipeline's first job. The wide single-row agg melts to one row
    // per column via unpivot; at 100 TB this is a single pass with a
    // tiny (count-distinct keyed) shuffle.
    "dq_profile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def prof(c: String) = Seq(
        count(col(c)).cast("double").as(s"${c}__n"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("double")
          .as(s"${c}__nulls"),
        countDistinct(col(c)).cast("double").as(s"${c}__distinct"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
      val cols = Seq("l_quantity", "l_discount", "l_linenumber")
      val aggs = cols.flatMap(prof)
      val wide = li.agg(aggs.head, aggs.tail: _*)
      wide.unpivot(Array.empty[org.apache.spark.sql.Column],
        "col_metric", "value")
        .select(
          substring_index(col("col_metric"), "__", 1).as("column"),
          substring_index(col("col_metric"), "__", -1).as("metric"),
          roundHalfAway(col("value"), 6).as("value"))
    }),
    // Salted skew join == plain join: per-type mean joined back onto
    // the (skewed) fact stream with the dim replicated per salt, then
    // per-type deviation totals. The oracle replays the plain join.
    "skew_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("type_avg"))
      // absolute deviations: plain deviations sum to ~±1e-9 ≈ 0, whose
      // summation-order-dependent sign would survive as a rounded ±0.0
      Skew.saltedJoin(ev, dim, "event_type", buckets = 32)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(sum(abs(col("value") - col("type_avg"))), 2).as("dev_total"))
    }),
    // Runtime Bloom-filter pruned join: the selective dim predicate
    // (p_size = 1) becomes a bloom_filter_agg over p_partkey whose
    // might_contain probe lands in the lineitem SCAN — non-matching
    // fact rows never reach the shuffle. Plain-join oracle proves the
    // pruning lossless; the plan guard lives in PlanShapeSpec.
    "join_bloom_pruned" -> ((s, dir) => {
      val s2 = graft.operators.BloomJoin.session(s)
      val l = Tables.lineitem(s2, dir)
      val p = Tables.part(s2, dir).filter(col("p_size") === 1)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"))
    }),
    // Calendar/date function family over the star join: day-of-week
    // histogram + shipping-delay stats. dayofweek is 1=Sunday in
    // Spark vs 0=Sunday in DuckDB (+1 in the oracle); datediff vs
    // date_diff('day') agree because the synthetic dates are
    // midnight-aligned (both count day boundaries then).
    "a29_ship_delay_dow" -> ((s, dir) => {
      val o = Tables.ordersTs(s, dir)
      val l = Tables.lineitemTs(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"),
          dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(avg(datediff(col("l_shipdate"), col("o_orderdate"))), 4)
            .as("avg_ship_days"),
          max(datediff(col("l_shipdate"), col("o_orderdate")))
            .as("max_ship_days"))
    }),
    // Array-valued aggregate output: the sorted member list per group
    // is computed as a real array<string> (ArrayType semantics pinned
    // in SqlSurfaceSpec) and projected through to_json for the dump —
    // the driver's pandas comparator can't sort/hash raw array cells,
    // and both engines emit the identical compact JSON form
    "a31_nations_per_region" -> ((s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(to_json(array_sort(collect_set(col("n_name")))).as("nations"),
          countDistinct(col("n_name")).as("n"))),
    // LISTAGG surface (string-valued aggregate output): deterministic
    // because the list is sorted before joining — order-insensitive
    // to partial-aggregation merge order
    "a36_listagg" -> ((s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_set(col("n_name"))))
          .as("nations"),
          count(lit(1)).as("n"))),
    // Time-series gap fill: the (type × hour) grid comes from
    // sequence() over the broadcast 1-row bounds, sparse actuals
    // left-join onto it, absent cells coalesce to 0 — the standard
    // densification step before windowed feature extraction. Grid
    // size is types × hours (tiny vs the event stream); the heavy
    // side stays a single keyed aggregation.
    "a32_gapfill_hourly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev.filter(col("value") > 90)
        .groupBy(col("event_type").as("et"),
          date_trunc("hour", col("ts")).as("ha"))
        .agg(count(lit(1)).as("cnt"))
      val bounds = ev.agg(
        min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
            .as("hora"))
      grid.join(hourly,
          grid("event_type") === hourly("et") && grid("hora") === hourly("ha"),
          "left")
        .select(grid("event_type"), grid("hora"),
          coalesce(col("cnt"), lit(0L)).as("n"))
    }),
    // Exact-percentile family: median + continuous quantiles +
    // discrete quantile per group, one sorted pass per group. (At
    // 100 TB swap in percentile_approx — same call shape, bounded
    // memory; a14 documents that trade.)
    "a30_percentile_family" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(median(col("l_quantity")), 4).as("med_qty"),
          roundHalfAway(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          roundHalfAway(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
          roundHalfAway(expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"), 2)
            .as("p90_price_disc"))),
    // The AT-SCALE percentile path, exercised with its error contract
    // (a14/a21/a30/a35 compute exact percentiles and note
    // percentile_approx as the 100 TB swap-in; this query proves the
    // swap-in's guarantee). percentile_approx (Greenwald–Khanna) is a
    // HARD bound, not probabilistic: the returned value's rank r
    // satisfies |r − p·n| ≤ n/accuracy, i.e. the value lies between
    // the exact discrete (p−ε) and (p+ε) quantiles — asserted as
    // oracle-checked booleans with ε = 1/2000, per group. Exact
    // percentiles buffer every group value (the reason they don't
    // scale); GK summaries are bounded-size and mergeable, so the
    // map-side partials stay O(accuracy) per group at any n.
    "a37_approx_quantile_bound" -> ((s, dir) => {
      val eps = 0.0005 // accuracy 2000
      def ok(p: Double, c: String) =
        (expr(s"approx_percentile($c, $p, 2000)") >=
          expr(s"percentile_disc(${p - eps}) WITHIN GROUP (ORDER BY $c)") &&
         expr(s"approx_percentile($c, $p, 2000)") <=
          expr(s"percentile_disc(${p + eps}) WITHIN GROUP (ORDER BY $c)"))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(expr("percentile(l_extendedprice, 0.5)"), 2).as("p50_exact"),
          roundHalfAway(expr("percentile(l_extendedprice, 0.95)"), 2).as("p95_exact"),
          ok(0.5, "l_extendedprice").as("ok_p50"),
          ok(0.95, "l_extendedprice").as("ok_p95"))
    }),

    // SCD2: version the per-user "status" (event_type) stream into
    // validity intervals — change-detection drops runs of identical
    // statuses, lead() closes each interval. One shuffle on user_id;
    // both window passes share the same sort.
    // Bucketed-layout co-located join: both fact tables are written
    // ONCE bucketed by the join key (8 buckets, hash-partitioned at
    // write time), and the join then reads co-located buckets — the
    // executed plan has NO exchange under the join (PlanShapeSpec
    // asserts it; the only shuffle left is the final 5-group agg).
    // This is the layout story for a 100 TB fact table that is joined
    // on the same key every day: the shuffle is paid once at write
    // time, not per query — at 1000 executors the per-query saving is
    // the entire fact-table network transfer. The oracle runs the same
    // join from the PLAIN parquet, proving layout changes nothing
    // about results (bucket count stays a layout knob: any number
    // divides the key space losslessly).
    "layout_bucketed_join" -> ((s, dir) => {
      // per-invocation tables: a second invocation must not replace the
      // tables this one's lazy frame still reads
      val wh = Scratch.dir("bucketed_join")
      val id = wh.substring(wh.lastIndexOf('-') + 1)
      def writeBucketed(df: DataFrame, table: String, key: String): DataFrame = {
        df.write
          .option("path", s"$wh/$table")
          .bucketBy(8, key).sortBy(key)
          .format("parquet").saveAsTable(table)
        s.table(table)
      }
      val o = writeBucketed(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        s"graft_orders_bkt_$id", "o_orderkey")
      val li = writeBucketed(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        s"graft_lineitem_bkt_$id", "l_orderkey")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          roundHalfAway(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("revenue"))
    }),

    // Range-partitioned write layout: `repartitionByRange(ts)` +
    // in-partition sort gives a TOTAL order across files for one key
    // — the layout for time-windowed scans (every ts-range predicate
    // prunes to the few files whose [min,max] it overlaps; LayoutSpec
    // measures it) and the third point of the layout triangle next to
    // bucketing (equi-join keys, layout_bucketed_join) and Z-order
    // (multi-dim ranges, p24). The query writes the layout, then
    // derives a per-file manifest from `input_file_name()` and emits
    // layout INVARIANTS (file count pinned by the explicit partition
    // count; pairwise-disjoint file ranges = total ordering) beside
    // exact row-fidelity aggregates — DuckDB can't replay file
    // routing, but the invariants hold for ANY sampled range bounds,
    // so the whole row is oracle-checkable. Integer checksum, not a
    // double sum: file-grouped FP addition would reassociate.
    "layout_range_manifest" -> ((s, dir) => {
      val out = Scratch.dir("layout_range")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .repartitionByRange(8, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.parquet(out)
      val perFile = s.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uchk"),
          min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      val w = Window.orderBy(col("lo"), col("f"))
      perFile
        .withColumn("prev_hi", lag(col("hi"), 1).over(w))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n")).as("n_rows"),
          sum(col("uchk")).as("user_checksum"),
          date_trunc("second", min(col("lo"))).as("first_ts"),
          date_trunc("second", max(col("hi"))).as("last_ts"),
          (count(lit(1)) === 8).as("file_count_pinned"),
          (sum(when(col("prev_hi") > col("lo"), 1).otherwise(0)) === 0)
            .as("ranges_disjoint"))
    }),
    // Parquet AGGREGATE pushdown: global MIN/MAX/COUNT answered from
    // footer statistics — `PushedAggregation` in the scan, no row
    // group decoded (operators/ScanPushdown has the full posture; the
    // plan guard is in PlanShapeSpec). At 100 TB this query costs
    // thousands of footer reads instead of a full-table scan. Footer
    // stats equal row-scan answers exactly, so it oracle-checks like
    // any other query. Int columns only: Spark refuses the pushdown
    // for float/double min/max (parquet stats order NaN differently
    // than SQL), and one refused aggregate falls the whole query back
    // to rows.
    "layout_agg_pushdown" -> ((s, dir) => {
      val s2 = graft.operators.ScanPushdown.session(s)
      Tables.lineitem(s2, dir)
        .agg(count(lit(1)).as("n_rows"),
          count(col("l_orderkey")).as("n_keys"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          min(col("l_linenumber")).as("min_line"),
          max(col("l_linenumber")).as("max_line"))
    }),

    "scd2_user_history" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      graft.operators.Scd2
        .fromSnapshots(ev, "user_id", "ts", Seq("event_type"), "event_id")
        .select(col("user_id"),
          date_trunc("second", col("valid_from")).as("valid_from_s"),
          date_trunc("second", col("valid_to")).as("valid_to_s"),
          col("event_type").as("status"),
          col("is_current"))
    }))

  val oracleSql: Map[String, String] = Map(
    // file count + ordering invariants are literals (they hold for any
    // sampled range bounds); fidelity aggregates replay exactly
    "layout_range_manifest" ->
      """SELECT 8::BIGINT AS n_files, count(*)::BIGINT AS n_rows,
        |       sum(user_id)::BIGINT AS user_checksum,
        |       date_trunc('second', min(ts::TIMESTAMP)) AS first_ts,
        |       date_trunc('second', max(ts::TIMESTAMP)) AS last_ts,
        |       TRUE AS file_count_pinned, TRUE AS ranges_disjoint
        |FROM events""".stripMargin,
    "layout_agg_pushdown" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |       count(l_orderkey)::BIGINT AS n_keys,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |       min(l_linenumber) AS min_line, max(l_linenumber) AS max_line
        |FROM lineitem""".stripMargin,
    "layout_bucketed_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
        |       round(sum(l_extendedprice::DECIMAL(18,2)
        |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
        |         AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS total_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1""".stripMargin,
    "join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS total_acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,
    "w9_running_frames" ->
      """SELECT event_id, user_id,
        |  round(sum(value::DECIMAL(18,2)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
        |    AS running_total,
        |  round(avg(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
        |  round(sum(value::DECIMAL(18,2)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)::DOUBLE
        |    AS hour_total,
        |  first_value(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
        |  count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS row_in_user
        |FROM events""".stripMargin,
    "a23_grouping_sets" ->
      """SELECT event_type, hour(ts) AS hora,
        |       CAST(GROUPING(event_type) AS INT) AS g_type,
        |       CAST(GROUPING(hour(ts)) AS INT) AS g_hora,
        |       count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), ())""".stripMargin,
    "p22_unpivot" ->
      """WITH sums AS (
        |  SELECT l_returnflag,
        |         round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS quantity,
        |         round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS extendedprice,
        |         round(sum(l_discount::DECIMAL(18,2)), 2)::DOUBLE AS discount
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM sums
        |UNION ALL
        |SELECT l_returnflag, 'extendedprice', extendedprice FROM sums
        |UNION ALL
        |SELECT l_returnflag, 'discount', discount FROM sums""".stripMargin,
    "a27_pivot" ->
      """SELECT hour(ts)::INT AS hora,
        |       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |       count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "dq_profile" ->
      """WITH w AS (
        |  SELECT
        |    count(l_quantity)::DOUBLE AS "l_quantity__n",
        |    count(CASE WHEN l_quantity IS NULL THEN 1 END)::DOUBLE AS "l_quantity__nulls",
        |    count(DISTINCT l_quantity)::DOUBLE AS "l_quantity__distinct",
        |    min(l_quantity)::DOUBLE AS "l_quantity__min",
        |    max(l_quantity)::DOUBLE AS "l_quantity__max",
        |    count(l_discount)::DOUBLE AS "l_discount__n",
        |    count(CASE WHEN l_discount IS NULL THEN 1 END)::DOUBLE AS "l_discount__nulls",
        |    count(DISTINCT l_discount)::DOUBLE AS "l_discount__distinct",
        |    min(l_discount)::DOUBLE AS "l_discount__min",
        |    max(l_discount)::DOUBLE AS "l_discount__max",
        |    count(l_linenumber)::DOUBLE AS "l_linenumber__n",
        |    count(CASE WHEN l_linenumber IS NULL THEN 1 END)::DOUBLE AS "l_linenumber__nulls",
        |    count(DISTINCT l_linenumber)::DOUBLE AS "l_linenumber__distinct",
        |    min(l_linenumber)::DOUBLE AS "l_linenumber__min",
        |    max(l_linenumber)::DOUBLE AS "l_linenumber__max"
        |  FROM lineitem),
        |u AS (UNPIVOT w ON COLUMNS(*) INTO NAME col_metric VALUE value)
        |SELECT split_part(col_metric, '__', 1) AS "column",
        |       split_part(col_metric, '__', 2) AS metric,
        |       round(value, 6) AS value
        |FROM u""".stripMargin,
    "skew_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1)
        |SELECT e.event_type AS event_type, count(*) AS n,
        |       round(sum(abs(e.value - d.type_avg)), 2) AS dev_total
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1""".stripMargin,
    "join_bloom_pruned" ->
      """SELECT p_brand, count(*) AS n,
        |       round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY 1""".stripMargin,
    "a31_nations_per_region" ->
      """SELECT r_name,
        |       to_json(list_sort(list(DISTINCT n_name)))::VARCHAR AS nations,
        |       count(DISTINCT n_name) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "a36_listagg" ->
      """SELECT r_name,
        |       string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
        |       count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "a32_gapfill_hourly" ->
      """WITH actual AS (
        |  SELECT event_type AS et, date_trunc('hour', ts::TIMESTAMP) AS ha,
        |         count(*) AS cnt
        |  FROM events WHERE value > 90 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT min(date_trunc('hour', ts::TIMESTAMP)) AS lo,
        |         max(date_trunc('hour', ts::TIMESTAMP)) AS hi
        |  FROM events),
        |grid AS (
        |  SELECT t.event_type, g.hora
        |  FROM (SELECT DISTINCT event_type FROM events) t,
        |       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |               AS hora FROM bounds) g)
        |SELECT grid.event_type, grid.hora, coalesce(actual.cnt, 0) AS n
        |FROM grid
        |LEFT JOIN actual ON grid.event_type = actual.et
        |                AND grid.hora = actual.ha""".stripMargin,
    "a37_approx_quantile_bound" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50_exact,
        |       round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_exact,
        |       TRUE AS ok_p50, TRUE AS ok_p95
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a30_percentile_family" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(median(l_quantity), 4) AS med_qty,
        |       round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |       round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |       round(quantile_disc(l_extendedprice, 0.9), 2)
        |         AS p90_price_disc
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a29_ship_delay_dow" ->
      """SELECT o_orderpriority,
        |       (dayofweek(o_orderdate) + 1)::INT AS dow,
        |       count(*) AS n,
        |       round(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
        |         AS avg_ship_days,
        |       max(date_diff('day', o_orderdate, l_shipdate))::INT
        |         AS max_ship_days
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "scd2_user_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS tsu, event_type
        |  FROM events),
        |chg AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
        |  FROM e),
        |keep AS (
        |  SELECT * FROM chg WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id,
        |       date_trunc('second', tsu) AS valid_from_s,
        |       date_trunc('second', lead(tsu) OVER
        |         (PARTITION BY user_id ORDER BY tsu, event_id)) AS valid_to_s,
        |       event_type AS status,
        |       lead(tsu) OVER
        |         (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
        |         AS is_current
        |FROM keep""".stripMargin)
}
