package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Skew
import graft.functions.Rounding.roundHalfAway

/** Windowing/aggregation capabilities beyond the reference's own
  * surface, still oracle-checked: session windows (gaps-and-islands in
  * the oracle), distinct aggregates, and the skew-salted two-phase
  * aggregation proven equal to the plain groupBy.
  */
object ExtendedQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W5: event-time session windows (30-min gap) per user
    "w5_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          date_trunc("second", col("session_window.start"))
            .as("session_start"),
          col("n"))),
    // A17: distinct aggregate (count distinct users per event type)
    "a17_distinct_users" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))),
    // Time-decayed (EWMA) per-user value: e_1 = x_1 and
    // e_i = α·x_i + (1−α)·e_{i−1}, evaluated in CLOSED FORM as one
    // weighted sum — w_i = α(1−α)^(N−i), first row (1−α)^(N−1) — so
    // the sequential recurrence becomes two window passes plus one
    // keyed agg: no recursion, no UDAF, no per-row state. Order is
    // (ts, event_id) with ts at the µs grain both engines share.
    "a34_ewma_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val alpha = 0.25
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val r = row_number().over(wOrd)
      val n = count(lit(1)).over(Window.partitionBy(col("user_id")))
      val weight = when(r === 1, pow(lit(1 - alpha), n - 1))
        .otherwise(lit(alpha) * pow(lit(1 - alpha), n - r))
      Tables.events(s, dir)
        .withColumn("__w", weight)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          roundHalfAway(sum(col("__w") * col("value")), 6).as("ewma"),
          roundHalfAway(avg(col("value")), 6).as("mean"))
    }),
    // Z-order (Morton) clustering key — the write-side layout
    // expression behind multi-column file skipping (OPTIMIZE ZORDER):
    // sort by this single value and min/max stats become selective
    // for range predicates on BOTH inputs. Pure bit arithmetic,
    // map-only; LayoutSpec proves the two-dimensional pruning.
    "p24_zorder_key" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        hour(col("ts")).as("hr"),
        graft.functions.Layout.zValue(col("user_id"), hour(col("ts")), 8)
          .as("z"))),
    // Robust (median/MAD) outlier detection per event type — the
    // anomaly-flagging shape mean/stddev z-scores get wrong under
    // heavy tails (one huge value inflates stddev and hides itself).
    // Two exact-median passes + a counting pass; the per-type stats
    // join back as broadcasts (group cardinality ≪ rows). At scale
    // swap percentile → percentile_approx, same plan shape.
    "a35_mad_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(min(col("med")).as("med"),
          expr("percentile(abs(value - med), 0.5)").as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(min(col("med")), 6).as("med"),
          roundHalfAway(min(col("mad")), 6).as("mad"),
          sum(when(abs(col("value") - col("med")) >
            lit(3 * 1.4826) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    }),
    // Cohort retention: users bucketed by first-seen day, distinct
    // actives per (cohort, day offset) — the standard growth-analytics
    // shape (two keyed shuffles: first-touch agg + cohort agg).
    "a25_cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
    }),
    // Funnel: per-user first touch of each stage, counted only when
    // stages happen in order (view ≤ click ≤ purchase). One groupBy +
    // one scalar agg; NULL stage times drop out of the conditional
    // counts on both engines.
    "a26_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
      def firstTs(t: String) =
        min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
      ev.groupBy(col("user_id"))
        .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
        .agg(count(col("t_view")).as("n_view"),
          count(when(col("t_click") >= col("t_view"), 1)).as("n_view_click"),
          count(when(col("t_click") >= col("t_view") &&
            col("t_purchase") >= col("t_click"), 1)).as("n_full_funnel"))
    }),
    // HLL++ sketch beside the exact distinct — the at-scale variant of
    // a17 (single pass, fixed memory, mergeable across partitions).
    // Sketch estimates are engine-specific → rows-only driver check;
    // the ≤5%-relative-error bound is spec-asserted instead
    // (ExtensionsSpec).
    // Oracle design per the sketch suite: the estimate itself is
    // engine-specific, so the hashed output is (exact, within-bound
    // boolean) — HLL++'s documented default error is 5% rsd; 3×rsd is
    // a practically-certain envelope for a deterministic sketch
    "a24_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          (abs(approx_count_distinct(col("user_id")) -
            countDistinct(col("user_id"))) <=
            lit(0.15) * countDistinct(col("user_id"))).as("within_bound"))),
    // Skew: salted two-phase count == plain groupBy count
    "skew_salted_count" -> ((s, dir) =>
      Skew.saltedCount(Tables.events(s, dir), col("event_type"))),
    // Systematic (every k-th by key) sampling - exact, oracle-checkable;
    // the seeded-random variants (sample / stat.sampleBy) are test-pinned
    "sample_systematic" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))),
    // Deterministic k-per-stratum sample: rank by a content hash so the
    // "random" pick is reproducible and oracle-checkable; TopK prunes
    // map-side, so at corpus scale the shuffle carries k rows per
    // stratum per partition, not the corpus
    "sample_k_per_stratum" -> ((s, dir) =>
      graft.plans.TopKPlan.topKPerKey(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            md5(col("doc_id").cast("string")).as("h")),
        keys = Seq("lang"), orderCols = Seq("h" -> true), k = 5)
        .select(col("lang"), col("doc_id"), col("rank"))),
    // Deterministic train/val/test assignment: bucket = (id × Knuth
    // multiplicative constant) mod 100 → 80/10/10. Pure integer
    // arithmetic (no RNG state, no hash parity concern), so the split
    // is reproducible run-over-run, stable under corpus growth (a doc's
    // split never changes when other docs arrive — the property
    // sample() cannot give), and exactly replayable by the oracle.
    // Map-only + one tiny 3-key aggregate.
    "sample_split_assign" -> ((s, dir) => {
      val b = graft.functions.Binning.knuthBucket(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(avg(col("n_chars")), 4).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"))
    }),
    // MapType surface: per-user event-type→count maps built with
    // map_from_entries (entries sorted so map construction is
    // merge-order insensitive), then exploded back to rows — the
    // map-as-value round trip feature stores use for per-entity
    // feature bundles. Oracle = the flat two-key GROUP BY
    "p27_map_roundtrip" -> ((s, dir) => {
      val inner = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      inner.groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n")))
    }),
    // Error-tolerant coercion under ANSI (reference P21: pandas
    // errors="coerce"). Spark 4 defaults to ANSI mode where a plain
    // cast/divide THROWS on bad input — one dirty row kills a 100 TB
    // job; try_cast/try_divide restore null-on-error semantics
    // row-locally. Dirty values planted deterministically; integer
    // payloads only (float→string formatting differs across engines)
    "p26_try_cast" -> ((s, dir) => {
      val dirty = when(col("event_id") % 7 === 0, "N/A")
        .when(col("event_id") % 11 === 0, "")
        .otherwise((col("event_id") % 1000).cast("string"))
      Tables.events(s, dir)
        .select(col("event_id"), col("value"), dirty.as("amt_s"))
        .select(col("value"), col("event_id"),
          expr("try_cast(amt_s AS BIGINT)").as("amt"),
          expr("try_divide(value, event_id % 5)").as("per"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("amt")).as("n_parsed"),
          sum(col("amt")).as("sum_amt"),
          count(col("per")).as("n_div"),
          roundHalfAway(sum(col("per")), 4).as("sum_per"))
    }),
    // XML decode (crawl-corpus shape): doc fields serialized to XML
    // then parsed back with from_xml — the oracle reads the ORIGINAL
    // columns, so a hash match proves the round-trip is lossless
    // (attribute + element extraction, typed fields)
    "p25_xml_roundtrip" -> ((s, dir) => {
      val xml = concat(lit("<doc id=\""), col("doc_id"), lit("\"><lang>"),
        col("lang"), lit("</lang><chars>"), col("n_chars"),
        lit("</chars></doc>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), xml.as("x"))
        .select(col("doc_id"),
          expr("from_xml(x, '_id BIGINT, lang STRING, chars BIGINT')")
            .as("p"))
        .select(col("doc_id"), col("p._id").as("parsed_id"),
          col("p.lang").as("lang"), col("p.chars").as("n_chars"))
    }),
    // Record linkage at scale: match a deterministically-corrupted
    // name table back to its canonical rows via the SymSpell
    // deletion-neighborhood equi-join (operators/FuzzyJoin.scala —
    // linear variant explode + one shuffle). The oracle runs the
    // QUADRATIC cross join + levenshtein and must produce the
    // identical pair set: lossless-blocking proof, not just a spot
    // check
    "fuzzy_join_sym" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))
      val p = pmod(col("c_custkey"), length(col("c_name"))) + 1
      val corrupted = cust.select(col("c_custkey").as("dirty_id"),
        concat(col("c_name").substr(lit(1), p - 1),
          col("c_name").substr(p + 1, length(col("c_name"))))
          .as("dirty_name"))
      graft.operators.FuzzyJoin.symDeleteJoin(
        corrupted, "dirty_id", "dirty_name", cust, "c_custkey", "c_name")
        .select(col("a_id").as("dirty_id"), col("b_id").as("c_custkey"),
          col("dist"))
    }),
    // Label-noise triage: near-identical category labels by edit
    // distance. The pair search runs over the DISTINCT label domain
    // (map-side-combined distinct, |domain| ≪ |facts|), never the
    // fact table; at larger domains add length blocking via BandJoin
    "fuzzy_label_pairs" -> ((s, dir) => {
      val d = Tables.part(s, dir).select(col("p_brand")).distinct()
      d.select(col("p_brand").as("brand_a"))
        .join(d.select(col("p_brand").as("brand_b")),
          col("brand_a") < col("brand_b"))
        .withColumn("dist", levenshtein(col("brand_a"), col("brand_b")))
        .filter(col("dist") <= 1)
    }),
    // Data-quality gate: five expectations over orders in ONE scan
    // (functions/Expectations.scala) — pk uniqueness, non-null ratio,
    // positive amounts, date range, categorical domain
    "dq_expectations" -> ((s, dir) => {
      import graft.functions.Expectations.{Check, report}
      val n = count(lit(1)).cast("double")
      report(Tables.orders(s, dir), Seq(
        Check("pk_unique",
          countDistinct(col("o_orderkey")) / n, 1.0, 1.0),
        Check("custkey_nonnull",
          sum(col("o_custkey").isNotNull.cast("int")) / n, 1.0, 1.0),
        Check("price_positive", min(col("o_totalprice")), 1e-9, 1e12),
        Check("date_in_range",
          sum(col("o_orderdate").between("1995-01-01", "2001-12-31")
            .cast("int")) / n, 1.0, 1.0),
        Check("priority_domain",
          sum(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW").cast("int")) / n, 1.0, 1.0)))
    }),
    // Distribution-drift gate (functions/Drift.scala): per-event-type
    // PSI of `value` between the even- and odd-event_id slices over a
    // 10-bin [0,500) grid. The parity split is distribution-preserving
    // by construction, so the gate exercises the full binning/eps/psi
    // math on near-identical slices; DriftSpec plants REAL drift and
    // checks the magnitude against a hand-computed PSI.
    "dq_drift_psi" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.functions.Drift.psi(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "event_type", "value", lo = 0.0, hi = 500.0, nBins = 10)
    }),
    // CDC between two snapshots: per-user daily activity rollups a
    // week apart diffed into the minimal insert/delete/update change
    // set (operators/Cdc.scala — one pk-keyed join, no broadcast)
    "cdc_snapshot_diff" -> ((s, dir) => {
      def day(d: String, next: String) = Tables.events(s, dir)
        .filter(col("ts") >= lit(s"$d 00:00:00") &&
          col("ts") < lit(s"$next 00:00:00"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), roundHalfAway(sum(col("value")), 4).as("val"))
      graft.operators.Cdc.snapshotDiff(
        day("2024-01-10", "2024-01-11"), day("2024-01-17", "2024-01-18"),
        Seq("user_id"))
    }),
    // Deterministic weighted sample (Efraimidis–Spirakis): inclusion
    // odds proportional to document length, key derived from a Knuth
    // hash of the id — reproducible, growth-stable, oracle-replayable.
    // Plans as TakeOrderedAndProject: bounded per-partition heaps, no
    // corpus shuffle (see functions/Sampling.scala for the 100 TB shape)
    "sample_weighted" -> ((s, dir) =>
      graft.functions.Sampling.weightedSample(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "n_chars", k = 20)),
    // Shard manifest for the sharded corpus export
    // (io/Export.shardedWrite): per-shard doc counts, id range and
    // char mass under the same growth-stable Knuth routing the writer
    // uses — the manifest a loader checks before trusting a shard set.
    // One map-only hash + one 8-key aggregate.
    "sample_export_shards" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(graft.io.Export.shardOf(col("doc_id"), 8).as("shard"),
          col("doc_id"), col("n_chars"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("n_chars")).as("char_mass"))),
    // Walk-forward temporal split with an embargo gap: train strictly
    // before T, test at-or-after T+gap, rows inside the embargo DROPPED
    // — the leakage guard for autocorrelated event data (a model must
    // not train on rows time-adjacent to its test window). Map-only +
    // one 2-key aggregate; the boundary is a constant, so the split is
    // stable as the stream grows backward or forward.
    "sample_temporal_split" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("split",
          when(col("ts") < lit("2024-01-22 00:00:00"), "train")
            .when(col("ts") >= lit("2024-01-23 00:00:00"), "test"))
        .filter(col("split").isNotNull)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          date_trunc("second", min(col("ts"))).as("first_ts"),
          date_trunc("second", max(col("ts"))).as("last_ts"))),
    // Group-keyed split: every document of the same SOURCE lands in
    // one split (the Knuth bucket of the source's numeric id, not the
    // row's) — the leakage guard when near-duplicates cluster within a
    // source; a per-row split would leak them across train/test.
    "sample_group_split" -> ((s, dir) => {
      val src = regexp_replace(col("source"), "[^0-9]", "").cast("long")
      val b = graft.functions.Binning.knuthBucket(src)
      Tables.documents(s, dir)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
    }),
    // As-of join: last click value at-or-before each purchase, per user
    "asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      // dedup right side per (user, ts) so the as-of pick is unique
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
      graft.operators.AsofJoin
        .asofJoin(purchases, clicks, "user_id", "ts", Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_s"), col("value"),
          col("asof_click_value"))
    }),
    // A19: argmax via struct-max (deterministic ties by event_id)
    "a19_max_by" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(max(struct(col("value"), col("event_id"))).as("m"))
        .select(col("event_type"), col("m.value").as("max_value"),
          col("m.event_id").as("argmax_event"))),
    // A18: multidimensional cube rollup (subtotals + grand total)
    "a18_cube" -> ((s, dir) =>
      Tables.events(s, dir)
        .cube(col("event_type"), hour(col("ts")).as("hora"))
        .agg(count(lit(1)).as("n"), roundHalfAway(sum(col("value")), 2).as("total"))),
    // hierarchical subtotals (type -> type x hour -> grand total)
    "a20_rollup" -> ((s, dir) =>
      Tables.events(s, dir)
        .rollup(col("event_type"), hour(col("ts")).as("hora"))
        .agg(count(lit(1)).as("n"), roundHalfAway(avg(col("value")), 4).as("avg_v"))),
    // Full ranking/analytic window suite (the reference has NO ranking
    // functions at all — extension surface): one partition-sorted pass
    // computes every rank family member plus lag/lead deltas
    "w8_rank_suite" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .select(col("event_id"), col("event_type"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          roundHalfAway(percent_rank().over(w), 6).as("prnk"),
          roundHalfAway(cume_dist().over(w), 6).as("cdist"),
          (col("value") - lag(col("value"), 1).over(w)).as("gap_prev"),
          (lead(col("value"), 1).over(w) - col("value")).as("gap_next"))
        .filter(col("rnk") <= 50)
    }),
    // Data-driven histogram: exact quartile edges computed once, joined
    // in as a broadcast scalar row, rows bucketed against them — the
    // quantile-stratification shape (F2/A14 family, at-scale variant
    // swaps percentile for percentile_approx)
    "a21_quantile_bins" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val qs = ev.agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.5)").as("q2"),
        expr("percentile(value, 0.75)").as("q3"))
      ev.join(broadcast(qs))
        .select(when(col("value") <= col("q1"), 0)
          .when(col("value") <= col("q2"), 1)
          .when(col("value") <= col("q3"), 2).otherwise(3).as("bin"),
          col("value"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"),
          roundHalfAway(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
            .as("total"))
    }),
    // Set ops over an even/odd event_id interleave: types present among
    // even-id events but not odd-id ones (except-distinct), plus the
    // union-distinct of both splits
    "set_except_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val first = ev.filter(col("event_id") % 2 === 0)
      val second = ev.filter(col("event_id") % 2 === 1)
      val except = first.select(col("event_type"))
        .except(second.select(col("event_type")))
        .select(col("event_type"), lit("except").as("op"))
      val union = first.select(col("event_type"))
        .union(second.select(col("event_type")))
        .distinct().select(col("event_type"), lit("union").as("op"))
      except.union(union)
    }),
    // W6: lag-based inter-event gap statistics per user
    "w6_event_gaps" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .groupBy(col("user_id"))
        .agg(count(col("gap_us")).as("n_gaps"),
          roundHalfAway(avg(col("gap_us")), 4).as("avg_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
    }),
    // forward as-of with tolerance: EARLIEST click at-or-after each
    // purchase, but only within 1 hour (merge_asof direction+tolerance)
    "asof_join_fwd" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
      graft.operators.AsofJoin
        .asofJoin(purchases, clicks, "user_id", "ts", Seq("click_value"),
          direction = "forward", toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_s"), col("value"),
          col("asof_click_value"))
    }),
    // K2': per-key top-k through the TopKNode plan node on a
    // low-cardinality key (5 event types)
    "k2_topk_per_key" -> ((s, dir) =>
      graft.plans.TopKPlan.topKPerKey(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"),
        orderCols = Seq("value" -> false, "event_id" -> true), k = 3)),
    // K2'': the same node (TopKNode → strategy → partial-prune/
    // exchange/rank execs) on a high-cardinality key
    "k3_topk_plan" -> ((s, dir) =>
      graft.plans.TopKPlan.topKPerKey(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("value")),
        keys = Seq("user_id"),
        orderCols = Seq("value" -> false, "event_id" -> true), k = 2)),
    // K2 with ties: rank()-with-ties through the SAME plan node — the
    // hand-written rank() <= k filter rewrites to TopK's with-ties
    // mode (tie groups straddling the cut survive whole, so the
    // result set is deterministic without an id tiebreak). Integer
    // quantities tie heavily, which is the point.
    "k4_topk_ties" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
    }),
    // dense_rank() <= k through the same node: every row of the top-3
    // DISTINCT quantities per flag (value-group semantics)
    "k5_topk_dense" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
        .withColumn("rnk", dense_rank().over(w))
        .filter(col("rnk") <= 3)
    }),
    // Band join: near-simultaneous event pairs (|Δts| <= 5 s) via
    // bucketed equi-join — no broadcast-nested-loop at any scale
    "band_join_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      graft.operators.BandJoin.bandPairs(ev, "event_id", "ts_us",
        epsilon = 5000000L)
        .select(col("id_a").as("event_a"), col("id_b").as("event_b"),
          (col("pos_b") - col("pos_a")).as("dt_us"))
    }),
    // Interval join: lineitems shipped within 2 days of any order's
    // placement date (point-in-interval via cell explode + equi-join)
    "interval_join_orders" -> ((s, dir) => {
      // star-schema dates are TIMESTAMP_NTZ: micros via timestampdiff
      // from the NTZ epoch — timezone-free, unlike unix_micros(cast)
      def ntzUs(c: String) = expr(
        s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $c)")
      val pts = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-02-01") &&
          col("l_shipdate") < lit("1995-03-01"))
        .select(col("l_orderkey"), col("l_linenumber"),
          ntzUs("l_shipdate").as("ship_us"))
      val dayUs = 86400L * 1000000L
      val ivs = Tables.orders(s, dir).select(col("o_orderkey"),
        ntzUs("o_orderdate").as("lo_us"),
        (ntzUs("o_orderdate") + lit(2L * dayUs)).as("hi_us"))
      graft.operators.BandJoin.intervalJoin(pts, "ship_us", ivs,
        "lo_us", "hi_us", cellWidth = 2L * dayUs)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderkey"))
    }),
    // P6 geodesic upgrade: haversine km between all region pairs
    "p6_haversine_pairs" -> ((s, dir) => {
      val r = graft.etl.TestdataAdapter.regions(s, dir)
      val a = r.select(col("id_regiao").as("id_a"), col("latitude").as("lat_a"),
        col("longitude").as("lon_a"))
      val b = r.select(col("id_regiao").as("id_b"), col("latitude").as("lat_b"),
        col("longitude").as("lon_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          roundHalfAway(graft.functions.Scoring.haversineKm(col("lat_a"), col("lon_a"),
            col("lat_b"), col("lon_b")), 4).as("km"))
    }))

  val oracleSql: Map[String, String] = Map(
    "w5_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       date_trunc('second', min(ts)) AS session_start,
        |       count(*) AS n
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "a17_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "a34_ewma_user" ->
      """WITH o AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts::TIMESTAMP, event_id) AS r,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       round(sum(CASE WHEN r = 1 THEN power(0.75, n - 1)
        |                      ELSE 0.25 * power(0.75, n - r) END
        |                 * value), 6) AS ewma,
        |       round(avg(value), 6) AS mean
        |FROM o GROUP BY 1""".stripMargin,
    "p24_zorder_key" -> {
      val bits = 8
      val z = (0 until bits).map(i =>
        s"((((user_id & 255) >> $i) & 1) << ${2 * i}) | " +
          s"((((hour(ts) & 255) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""SELECT event_id, user_id, hour(ts)::INT AS hr, ($z) AS z
         |FROM events""".stripMargin
    },
    "a35_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |       round(min(m.med), 6) AS med,
        |       round(min(d.mad), 6) AS mad,
        |       sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM events e
        |JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |GROUP BY 1""".stripMargin,
    "a24_approx_distinct" ->
      """SELECT event_type,
        |       count(DISTINCT user_id)::BIGINT AS exact_users,
        |       TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin,
    "a25_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('day', ts) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1)
        |SELECT cohort, date_diff('day', cohort, d)::INT AS day_offset,
        |       count(DISTINCT ev.user_id) AS active_users
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "a26_funnel" ->
      """WITH per AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1)
        |SELECT count(t_view) AS n_view,
        |       count(CASE WHEN t_click::TIMESTAMP >= t_view::TIMESTAMP
        |                  THEN 1 END) AS n_view_click,
        |       count(CASE WHEN t_click::TIMESTAMP >= t_view::TIMESTAMP
        |                   AND t_purchase::TIMESTAMP >= t_click::TIMESTAMP
        |                  THEN 1 END) AS n_full_funnel
        |FROM per""".stripMargin,
    "skew_salted_count" ->
      "SELECT event_type AS key, count(*) AS n FROM events GROUP BY 1",
    "sample_systematic" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE doc_id % 10 = 0 GROUP BY 1""".stripMargin,
    "sample_k_per_stratum" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(doc_id::VARCHAR) ASC)::INT
        |           AS rank
        |  FROM documents)
        |SELECT lang, doc_id, rank FROM ranked WHERE rank <= 5""".stripMargin,
    "sample_split_assign" ->
      """WITH b AS (
        |  SELECT *, (doc_id % 100) * 61 % 100 AS bucket FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n, round(avg(n_chars), 4) AS avg_chars,
        |       count(DISTINCT lang) AS n_langs
        |FROM b GROUP BY 1""".stripMargin,
    // quadratic reference formulation: equality with the linear
    // sym-delete join proves the blocking lossless
    "fuzzy_join_sym" ->
      """WITH corrupted AS (
        |  SELECT c_custkey AS dirty_id,
        |         substr(c_name, 1, (c_custkey % length(c_name))) ||
        |         substr(c_name, (c_custkey % length(c_name)) + 2)
        |           AS dirty_name
        |  FROM customer)
        |SELECT d.dirty_id, c.c_custkey,
        |       levenshtein(d.dirty_name, c.c_name)::INT AS dist
        |FROM corrupted d JOIN customer c
        |  ON levenshtein(d.dirty_name, c.c_name) <= 1""".stripMargin,
    "p27_map_roundtrip" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "p26_try_cast" ->
      """WITH d AS (
        |  SELECT event_id, value,
        |         CASE WHEN event_id % 7 = 0 THEN 'N/A'
        |              WHEN event_id % 11 = 0 THEN ''
        |              ELSE (event_id % 1000)::VARCHAR END AS amt_s
        |  FROM events),
        |p AS (
        |  SELECT TRY_CAST(amt_s AS BIGINT) AS amt,
        |         value / nullif(event_id % 5, 0) AS per
        |  FROM d)
        |SELECT count(*) AS n_rows, count(amt) AS n_parsed,
        |       sum(amt)::BIGINT AS sum_amt, count(per) AS n_div,
        |       round(sum(per), 4) AS sum_per
        |FROM p""".stripMargin,
    "p25_xml_roundtrip" ->
      """SELECT doc_id, doc_id AS parsed_id, lang, n_chars
        |FROM documents""".stripMargin,
    "fuzzy_label_pairs" ->
      """WITH d AS (SELECT DISTINCT p_brand FROM part)
        |SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |       levenshtein(a.p_brand, b.p_brand)::INT AS dist
        |FROM d a JOIN d b ON a.p_brand < b.p_brand
        |WHERE levenshtein(a.p_brand, b.p_brand) <= 1""".stripMargin,
    // binning, eps floors and the per-bin psi terms replayed exactly;
    // bins empty on both sides are absent rows in both engines (their
    // eps-vs-eps term is ln(1)=0, so skipping them is exact)
    "dq_drift_psi" ->
      """WITH tagged AS (
        |  SELECT event_type AS g,
        |         least(greatest(floor(value / 50.0), 0), 9)::INT AS bin,
        |         CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
        |  FROM events),
        |counts AS (
        |  SELECT g, bin,
        |         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS nr,
        |         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nc
        |  FROM tagged GROUP BY 1, 2),
        |totals AS (
        |  SELECT g, sum(nr) AS n_ref, sum(nc) AS n_cur
        |  FROM counts GROUP BY 1),
        |terms AS (
        |  SELECT c.g, t.n_ref, t.n_cur,
        |         (greatest(c.nc / t.n_cur, 1e-4) -
        |          greatest(c.nr / t.n_ref, 1e-4)) *
        |         ln(greatest(c.nc / t.n_cur, 1e-4) /
        |            greatest(c.nr / t.n_ref, 1e-4)) AS term
        |  FROM counts c JOIN totals t ON c.g = t.g)
        |SELECT g AS event_type, max(n_ref)::BIGINT AS n_ref,
        |       max(n_cur)::BIGINT AS n_cur,
        |       round(sum(term), 6) AS psi,
        |       round(sum(term), 6) > 0.2 AS drifted
        |FROM terms GROUP BY 1""".stripMargin,
    "dq_expectations" ->
      """WITH m AS (
        |  SELECT count(*)::DOUBLE AS n,
        |         count(DISTINCT o_orderkey)::DOUBLE AS d,
        |         sum(CASE WHEN o_custkey IS NOT NULL
        |                  THEN 1 ELSE 0 END)::DOUBLE AS nn,
        |         min(o_totalprice)::DOUBLE AS mp,
        |         sum(CASE WHEN o_orderdate BETWEEN '1995-01-01'
        |                  AND '2001-12-31' THEN 1 ELSE 0 END)::DOUBLE AS dr,
        |         sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH',
        |                  '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        |                  THEN 1 ELSE 0 END)::DOUBLE AS pd
        |  FROM orders)
        |SELECT 'pk_unique' AS expectation, round(d / n, 6) AS metric,
        |       coalesce(d / n BETWEEN 1.0 AND 1.0, FALSE) AS pass FROM m
        |UNION ALL SELECT 'custkey_nonnull', round(nn / n, 6),
        |       coalesce(nn / n BETWEEN 1.0 AND 1.0, FALSE) FROM m
        |UNION ALL SELECT 'price_positive', round(mp, 6),
        |       coalesce(mp BETWEEN 1e-9 AND 1e12, FALSE) FROM m
        |UNION ALL SELECT 'date_in_range', round(dr / n, 6),
        |       coalesce(dr / n BETWEEN 1.0 AND 1.0, FALSE) FROM m
        |UNION ALL SELECT 'priority_domain', round(pd / n, 6),
        |       coalesce(pd / n BETWEEN 1.0 AND 1.0, FALSE) FROM m"""
        .stripMargin,
    "cdc_snapshot_diff" ->
      """WITH a AS (
        |  SELECT user_id, count(*) AS n, round(sum(value), 4) AS val
        |  FROM events
        |  WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND ts::TIMESTAMP <  TIMESTAMP '2024-01-11 00:00:00'
        |  GROUP BY 1),
        |b AS (
        |  SELECT user_id, count(*) AS n, round(sum(value), 4) AS val
        |  FROM events
        |  WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-17 00:00:00'
        |    AND ts::TIMESTAMP <  TIMESTAMP '2024-01-18 00:00:00'
        |  GROUP BY 1)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |       CASE WHEN a.user_id IS NULL THEN 'insert'
        |            WHEN b.user_id IS NULL THEN 'delete'
        |            ELSE 'update' END AS op,
        |       concat_ws(',',
        |         CASE WHEN a.n IS DISTINCT FROM b.n THEN 'n' END,
        |         CASE WHEN a.val IS DISTINCT FROM b.val THEN 'val' END)
        |         AS changed,
        |       a.n AS old_n, b.n AS new_n,
        |       a.val AS old_val, b.val AS new_val
        |FROM a FULL JOIN b ON a.user_id = b.user_id
        |WHERE a.user_id IS NULL OR b.user_id IS NULL
        |   OR a.n IS DISTINCT FROM b.n OR a.val IS DISTINCT FROM b.val"""
        .stripMargin,
    "sample_weighted" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |         (((doc_id % 4294967296) * 40503 % 4294967296) * 65536
        |          + (doc_id % 4294967296) * 31153) % 4294967296 AS h
        |  FROM documents
        |  WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars,
        |       round(ln((h + 1) / 4294967296.0) / n_chars, 9) AS es_key
        |FROM u
        |ORDER BY ln((h + 1) / 4294967296.0) / n_chars DESC, doc_id
        |LIMIT 20""".stripMargin,
    "sample_export_shards" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         ((((doc_id % 4294967296) * 40503 % 4294967296) * 65536
        |           + (doc_id % 4294967296) * 31153) % 4294967296 % 8)::INT
        |           AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       sum(n_chars)::BIGINT AS char_mass
        |FROM h GROUP BY 1""".stripMargin,
    "sample_temporal_split" ->
      """SELECT CASE WHEN ts::TIMESTAMP < TIMESTAMP '2024-01-22 00:00:00'
        |              THEN 'train'
        |            WHEN ts::TIMESTAMP >= TIMESTAMP '2024-01-23 00:00:00'
        |              THEN 'test' END AS split,
        |       count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       date_trunc('second', min(ts::TIMESTAMP)) AS first_ts,
        |       date_trunc('second', max(ts::TIMESTAMP)) AS last_ts
        |FROM events
        |WHERE ts::TIMESTAMP < TIMESTAMP '2024-01-22 00:00:00'
        |   OR ts::TIMESTAMP >= TIMESTAMP '2024-01-23 00:00:00'
        |GROUP BY 1""".stripMargin,
    "sample_group_split" ->
      """WITH b AS (
        |  SELECT *, (regexp_replace(source, '[^0-9]', '', 'g')::BIGINT
        |             % 100) * 61 % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       count(DISTINCT source) AS n_sources
        |FROM b GROUP BY 1""".stripMargin,
    "asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purch AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |       date_trunc('second', p.ts) AS ts_s, p.value,
        |       c.click_value AS asof_click_value
        |FROM purch p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id
        |  AND p.ts::TIMESTAMP >= c.ts::TIMESTAMP""".stripMargin,
    "a19_max_by" ->
      """SELECT event_type,
        |       (max({'value': value, 'event_id': event_id})).value AS max_value,
        |       (max({'value': value, 'event_id': event_id})).event_id
        |         AS argmax_event
        |FROM events GROUP BY 1""".stripMargin,
    "a18_cube" ->
      """WITH e AS (
        |  SELECT event_type, EXTRACT(hour FROM ts)::INT AS hora, value
        |  FROM events)
        |SELECT event_type, hora, count(*) AS n,
        |       round(sum(value), 2) AS total
        |FROM e GROUP BY CUBE(event_type, hora)""".stripMargin,
    "a20_rollup" ->
      """WITH e AS (
        |  SELECT event_type, EXTRACT(hour FROM ts)::INT AS hora, value
        |  FROM events)
        |SELECT event_type, hora, count(*) AS n,
        |       round(avg(value), 4) AS avg_v
        |FROM e GROUP BY ROLLUP(event_type, hora)""".stripMargin,
    "w8_rank_suite" ->
      """WITH r AS (
        |  SELECT event_id, event_type,
        |         rank() OVER w ::INT AS rnk,
        |         dense_rank() OVER w ::INT AS drnk,
        |         ntile(4) OVER w ::INT AS quartile,
        |         round(percent_rank() OVER w, 6) AS prnk,
        |         round(cume_dist() OVER w, 6) AS cdist,
        |         value - lag(value, 1) OVER w AS gap_prev,
        |         lead(value, 1) OVER w - value AS gap_next
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type
        |               ORDER BY value DESC, event_id ASC))
        |SELECT event_id, event_type, rnk, drnk, quartile, prnk, cdist,
        |       gap_prev, gap_next
        |FROM r WHERE rnk <= 50""".stripMargin,
    "a21_quantile_bins" ->
      """WITH q AS (
        |  SELECT quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.5)  AS q2,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events)
        |SELECT CASE WHEN value <= q1 THEN 0
        |            WHEN value <= q2 THEN 1
        |            WHEN value <= q3 THEN 2 ELSE 3 END AS bin,
        |       count(*) AS n,
        |       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total
        |FROM events, q GROUP BY 1""".stripMargin,
    "set_except_union" ->
      """WITH e AS (SELECT event_type, event_id FROM events)
        |SELECT event_type, 'except' AS op FROM (
        |  SELECT event_type FROM e WHERE event_id % 2 = 0
        |  EXCEPT
        |  SELECT event_type FROM e WHERE event_id % 2 = 1)
        |UNION ALL
        |SELECT event_type, 'union' AS op FROM (
        |  SELECT event_type FROM e WHERE event_id % 2 = 0
        |  UNION
        |  SELECT event_type FROM e WHERE event_id % 2 = 1)""".stripMargin,
    "w6_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
        |                                                   ORDER BY ts, event_id))
        |           AS gap_us
        |  FROM events)
        |SELECT user_id, count(gap_us) AS n_gaps,
        |       round(avg(gap_us), 4) AS avg_gap_us,
        |       max(gap_us) AS max_gap_us
        |FROM g GROUP BY 1""".stripMargin,
    "k2_topk_per_key" ->
      """SELECT * FROM (
        |  SELECT event_id, event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id ASC)::INT
        |           AS rank
        |  FROM events)
        |WHERE rank <= 3""".stripMargin,
    "k3_topk_plan" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id ASC)::INT
        |           AS rank
        |  FROM events)
        |WHERE rank <= 2""".stripMargin,
    "k5_topk_dense" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |         dense_rank() OVER (PARTITION BY l_returnflag
        |                            ORDER BY l_quantity DESC)::INT AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 3""".stripMargin,
    "k4_topk_ties" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |         rank() OVER (PARTITION BY l_returnflag
        |                      ORDER BY l_quantity DESC)::INT AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 3""".stripMargin,
    "asof_join_fwd" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purch AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT p.event_id, c.click_value,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts ASC) AS rn
        |  FROM purch p JOIN clicks c ON p.user_id = c.user_id
        |   AND c.ts::TIMESTAMP >= p.ts::TIMESTAMP
        |   AND c.ts::TIMESTAMP <= p.ts::TIMESTAMP + INTERVAL 1 HOUR)
        |SELECT p.event_id, p.user_id,
        |       date_trunc('second', p.ts) AS ts_s, p.value,
        |       c.click_value AS asof_click_value
        |FROM purch p
        |LEFT JOIN (SELECT event_id, click_value FROM cand WHERE rn = 1) c
        |  USING (event_id)""".stripMargin,
    "band_join_events" ->
      """SELECT a.event_id AS event_a, b.event_id AS event_b,
        |       epoch_us(b.ts::TIMESTAMP) - epoch_us(a.ts::TIMESTAMP) AS dt_us
        |FROM events a JOIN events b
        |  ON a.event_id < b.event_id
        | AND abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP))
        |       <= 5000000""".stripMargin,
    "interval_join_orders" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
        |FROM lineitem l JOIN orders o
        |  ON l.l_shipdate BETWEEN o.o_orderdate
        |                      AND o.o_orderdate + INTERVAL 2 DAY
        |WHERE l.l_shipdate >= TIMESTAMP '1995-02-01'
        |  AND l.l_shipdate <  TIMESTAMP '1995-03-01'""".stripMargin,
    "p6_haversine_pairs" ->
      s"""WITH ${graft.etl.TestdataAdapter.oracleCtes},
         |pairs AS (
         |  SELECT a.id_regiao AS id_a, b.id_regiao AS id_b,
         |         radians(b.latitude - a.latitude) AS dlat,
         |         radians(b.longitude - a.longitude) AS dlon,
         |         radians(a.latitude) AS la, radians(b.latitude) AS lb
         |  FROM regions a JOIN regions b ON a.id_regiao < b.id_regiao),
         |h AS (
         |  SELECT id_a, id_b,
         |         pow(sin(dlat / 2), 2)
         |           + cos(la) * cos(lb) * pow(sin(dlon / 2), 2) AS a
         |  FROM pairs)
         |SELECT id_a, id_b,
         |       round(6371.0 * 2.0 * atan2(sqrt(a), sqrt(1.0 - a)), 4) AS km
         |FROM h""".stripMargin)
}
