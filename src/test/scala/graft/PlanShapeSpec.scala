package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import graft.etl.{ScoringPipeline, TestdataAdapter}
import graft.io.Scratch

/** Regression guards for the physical-plan claims the scale story
  * rests on: the scoring pipeline must stay map-only (zero shuffles,
  * broadcast-only joins), and its scan must prune columns.
  */
class PlanShapeSpec extends SparkSpec {

  private def withPlainPlans[T](f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def shuffles(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case e: ShuffleExchangeExec => e }

  test("scoring pipeline is shuffle-free with broadcast-only joins") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val plan = ScoringPipeline.runDeterministic(
        TestdataAdapter.transactions(spark, dir),
        TestdataAdapter.users(spark, dir),
        TestdataAdapter.regions(spark, dir),
        TestdataAdapter.eventLimitArms).queryExecution.executedPlan
      assert(shuffles(plan).isEmpty,
        s"scoring pipeline must not shuffle the fact stream:\n$plan")
      val txt = plan.toString
      assert(txt.contains("BroadcastHashJoin"), s"dims must broadcast:\n$txt")
      assert(!txt.contains("SortMergeJoin"), s"no sort-merge join expected:\n$txt")
    }
  }

  test("scoring scan prunes unused columns (props never read)") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val txt = ScoringPipeline.runDeterministic(
        TestdataAdapter.transactions(spark, dir),
        TestdataAdapter.users(spark, dir),
        TestdataAdapter.regions(spark, dir),
        TestdataAdapter.eventLimitArms).queryExecution.executedPlan.toString
      assert(!txt.contains("props"), "events.props must be pruned from the scan")
    }
  }

  test("partitioned layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("part_spec")
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("etype", col("event_type"))
      .write.partitionBy("etype").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("etype") === "click")
    val txt = pruned.queryExecution.executedPlan.toString
    // directory-partitioned data: the predicate lands in
    // PartitionFilters (file listing skips other partitions entirely)
    assert(txt.contains("PartitionFilters") && txt.contains("etype"), txt)
    assert(!txt.matches("(?s).*PushedFilters: \\[[^\\]]*etype.*"),
      s"partition predicate must prune at listing, not row level:\n$txt")
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "click").count()
    assert(pruned.count() == want)
  }

  test("pruned IVF probe scan carries a literal cell INSET partition filter") {
    // the r10 scale guard: Spark's dynamic partition pruning does NOT
    // fire for the probe's join-on-partition-column shape, so without
    // the static filter the probe silently reads EVERY cell (the plan
    // shows only isnotnull(cell)) and becomes corpus-proportional
    // again. pruneCells collects the probed cells and the scan must
    // show them as a literal partition INSET.
    import org.apache.spark.sql.functions._
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("planspec_ivf")
    Ann.ivfIndexBuild(emb.filter(col("vec_id") >= 8), "vec_id",
      "embedding", nCells = 8, ix)
    val probe = Ann.ivfTopKFromIndex(emb.filter(col("vec_id") < 2),
      "vec_id", "embedding", ix, k = 3, nProbe = 2, pruneCells = true)
    val txt = probe.queryExecution.executedPlan.toString
    // the literal filter renders `cell#N IN (..)` at few values and
    // `cell#N INSET ..` at many; `IN dynamicpruning#N` (DPP, which
    // does fire once the static filter exists) matches neither — the
    // assert must hold on the STATIC literal, the thing that prunes
    // even when DPP declines
    assert(txt.contains("PartitionFilters") &&
      txt.matches("(?s).*PartitionFilters: \\[[^\\]]*cell#\\d+ IN(SET | \\().*"),
      s"probe scan must carry a literal cell IN/INSET partition filter:\n$txt")
  }

  test("dashboard aggregation plans have exactly one shuffle") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val scored = ScoringPipeline.runDeterministic(
        TestdataAdapter.transactions(spark, dir),
        TestdataAdapter.users(spark, dir),
        TestdataAdapter.regions(spark, dir),
        TestdataAdapter.eventLimitArms)
      val agg = graft.analytics.Dashboard.approvalRateByRegion(scored)
      assert(shuffles(agg.queryExecution.executedPlan).size == 1)
    }
  }

  test("semi/anti joins plan as hash joins of the declared type") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val semi = graft.analytics.RelationalOpsQueries
        .queries("join_semi")(spark, dir).queryExecution.executedPlan.toString
      assert(semi.contains("LeftSemi"), s"expected LeftSemi join:\n$semi")
      assert(!semi.contains("SortMergeJoin"),
        s"small build side must hash-join, not sort:\n$semi")
      val anti = graft.analytics.RelationalOpsQueries
        .queries("join_anti")(spark, dir).queryExecution.executedPlan.toString
      assert(anti.contains("LeftAnti"), s"expected LeftAnti join:\n$anti")
    }
  }

  test("w9 window frames share one user-keyed exchange") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val plan = graft.analytics.RelationalOpsQueries
        .queries("w9_running_frames")(spark, dir).queryExecution.executedPlan
      // the ROWS frames and the RANGE frame order differently (ts vs
      // unix_micros(ts)) so two Window nodes are expected — but both
      // partition by user_id, so the rows must shuffle exactly once
      assert(shuffles(plan).size == 1,
        s"frames over the same partition key must reuse one exchange:\n$plan")
    }
  }

  test("bucketed tables join with zero exchanges (co-located layout)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // both sides bucketed on the join key with the same bucket count:
    // at 100 TB this is the layout that turns every fact⋈fact join
    // into a local zipper — no shuffle, ever, for any join on the key
    Tables.lineitem(spark, dir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("bspec_lineitem")
    Tables.orders(spark, dir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("bspec_orders")
    withPlainPlans {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bspec_lineitem")
          .join(spark.table("bspec_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        val plan = joined.queryExecution.executedPlan
        // the join itself must not shuffle either side; the only
        // exchange in the whole plan is the final 1-key aggregation
        assert(shuffles(plan).size == 1,
          s"bucketed join must elide both join-side exchanges:\n$plan")
        assert(plan.toString.contains("SortMergeJoin"))
        assert(joined.agg(sum(col("n"))).collect()(0).getLong(0) ==
          Tables.lineitem(spark, dir).count())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bspec_lineitem")
        spark.sql("DROP TABLE IF EXISTS bspec_orders")
      }
    }
  }

  test("bloom-pruned join probes the fact scan and matches the plain join") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.analytics.RelationalOpsQueries
      .queries("join_bloom_pruned")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
      s"runtime bloom filter must inject on the fact side:\n$opt")
    // lossless: bloom false positives are re-checked by the join
    import org.apache.spark.sql.functions._
    val plain = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_size") === 1),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
    assert(df.collect().toSet == plain.collect().toSet)
  }

  test("parquet aggregate pushdown answers MIN/MAX/COUNT from footers") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val df = graft.analytics.RelationalOpsQueries
      .queries("layout_agg_pushdown")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)"),
      s"aggregates must push into the parquet scan:\n$plan")
    // footer stats equal row-scan answers exactly
    val viaRows = Tables.lineitem(spark, dir)
      .agg(count(lit(1)), count(col("l_orderkey")),
        min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_linenumber")), max(col("l_linenumber")))
    assert(df.collect().toSeq == viaRows.collect().toSeq)
    // the fallback contract: adding a row filter silently reverts to a
    // row scan (lossless, never wrong) — the pushdown must NOT appear
    val s2 = graft.operators.ScanPushdown.session(spark)
    val filtered = Tables.lineitem(s2, dir)
      .filter(col("l_quantity") > 10).agg(min(col("l_orderkey")))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [MIN"),
      "residual filter must disable aggregate pushdown")
  }

  test("AQE splits the skewed join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions._
    // scoped child session: AQE skew thresholds shrunk so the hot key
    // trips the split on test-sized data (defaults are 256 MB-scale);
    // broadcast off so the join actually shuffles
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // 200k rows on the hot key vs 10 rows on each cold key
    val fact = s2.range(0, 200000 + 100)
      .select((when($"id" < 200000, lit(0)).otherwise($"id" % 10 + 1))
        .as("k"), $"id".as("payload"))
    val dim = s2.range(0, 11).select($"id".as("k"), lit("d").as("tag"))
    // global aggregate, deliberately not keyed by k: a keyed agg right
    // after the join would REQUIRE hashpartitioning(k) and AQE then
    // (correctly) refuses to split the skewed partition — the split's
    // price is losing the join output's partitioning. payload rides
    // through the shuffle so the hot partition's bytes don't compress
    // below the skew threshold (constant-k-only rows lz4 to ~nothing)
    val joined = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum($"payload").as("chk"))
    assert(joined.collect()(0).getLong(0) == 200100)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE must mark the hot partition's join as skew-split:\n$finalPlan")
  }

  test("grouping sets and unpivot plan via Expand, one shuffle for the agg") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val gs = graft.analytics.RelationalOpsQueries
        .queries("a23_grouping_sets")(spark, dir).queryExecution.executedPlan
      assert(gs.toString.contains("Expand"), s"grouping sets expand:\n$gs")
      assert(shuffles(gs).size == 1)
      val up = graft.analytics.RelationalOpsQueries
        .queries("p22_unpivot")(spark, dir).queryExecution.executedPlan
      assert(up.toString.contains("Expand"), s"unpivot expands:\n$up")
    }
  }

  test("q21: census aggregate replaces the SEMI/ANTI chain") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val plan = graft.analytics.StarQueries
        .queries("q21_waiting_supplier")(spark, dir)
        .queryExecution.executedPlan
      val txt = plan.toString
      // the correlated EXISTS/NOT-EXISTS pair must NOT plan as
      // self-joins with supp <> supp2 residuals (quadratic in
      // per-order suppliers) — the per-order census aggregate and one
      // equi probe join carry the semantics
      assert(!txt.contains("LeftAnti"),
        s"census rewrite must not anti-join:\n$txt")
      // the census dedups to (order, supplier) grain with a plain agg
      // (NOT countDistinct, whose Expand doubles the relation through
      // the aggregate) then counts per order: two keyed exchanges +
      // the probe side's orderkey exchange + the final per-supplier
      // agg = 4; anything above means the rewrite re-shuffled
      assert(!txt.contains("Expand"),
        s"census must dedup with a plain agg, not countDistinct:\n$txt")
      assert(shuffles(plan).size <= 4,
        s"expected <= 4 exchanges (census x2 + probe + final agg):\n$plan")
    }
  }

  test("q4: EXISTS with time-lag condition stays a single semi join") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      val txt = graft.analytics.StarQueries
        .queries("q4_priority_checking")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(txt.contains("LeftSemi"), s"expected LeftSemi:\n$txt")
      // the non-equi lag predicate must ride the join as its condition,
      // not force a nested-loop plan
      assert(!txt.contains("BroadcastNestedLoopJoin"),
        s"lag predicate must not degrade to nested-loop:\n$txt")
    }
  }

  test("per-doc text passes (PII scan, chunking) are map-only: no exchange") {
    withPlainPlans {
      val dir = "/root/testdata/sf0.001"
      for (q <- Seq("tx_pii_scan", "tx_chunking")) {
        val plan = graft.text.TextQueries.queries(q)(spark, dir)
          .queryExecution.executedPlan
        assert(shuffles(plan).isEmpty,
          s"$q must stay a map-only pass over the corpus:\n$plan")
      }
    }
  }

  test("vocab coverage probes via broadcast: the corpus token stream " +
    "never shuffles before the vocab join") {
    withPlainPlans {
      val plan = graft.text.TextQueries.queries("tx_vocab_coverage")(
        spark, "/root/testdata/sf0.001").queryExecution.executedPlan
      val txt = plan.toString
      assert(txt.contains("BroadcastHashJoin"),
        s"vocab must broadcast to the probe side:\n$txt")
      // the V-row cut is a bounded-heap TakeOrdered, not a global sort
      assert(txt.contains("TakeOrderedAndProject"),
        s"vocab cut must plan as TakeOrderedAndProject:\n$txt")
      assert(!txt.contains("SortMergeJoin"), s"no sort-merge join:\n$txt")
    }
  }

  test("sequence packing pays exactly one exchange: the shard repartition") {
    withPlainPlans {
      val plan = graft.text.TextQueries.queries("pipeline_pack_sequences")(
        spark, "/root/testdata/sf0.001").queryExecution.executedPlan
      assert(shuffles(plan).size == 1,
        s"packing is one per-shard window pass — expected exactly one " +
          s"exchange:\n$plan")
    }
  }

  test("boilerplate strip broadcasts the boiler set (map-only hit detection)") {
    withPlainPlans {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val plan = graft.dedup.Boilerplate
        .stripSpans(docs, "doc_id", "text", n = 5, minDf = 2)
        .queryExecution.executedPlan
      val txt = plan.toString
      // occurrence detection must be the broadcast join — a shuffle on
      // the gram key would funnel boilerplate-hot grams (the very
      // thing being stripped) through single reducers
      assert(txt.contains("BroadcastHashJoin"),
        s"boiler-set join must broadcast:\n$txt")
      // exchanges carry grams and per-doc cover rows only; the token
      // stream itself (explode of tk) must never feed an exchange, so
      // every shuffle input is an aggregate/join of the SMALL tables
      val shuffledGenerate = plan.collect {
        case e: ShuffleExchangeExec if e.child.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }.nonEmpty && e.child.collectFirst {
          case a if a.nodeName.contains("HashAggregate") => a
        }.isEmpty => e
      }
      assert(shuffledGenerate.isEmpty,
        s"raw exploded token/gram stream must aggregate before any " +
          s"exchange:\n$txt")
    }
  }

  /** Runs `name` under the session DEFAULTS the claims assume —
    * another suite on the shared session may have left
    * autoBroadcastJoinThreshold disabled, which would turn the
    * unhinted dimension joins into SortMergeJoins and fail the
    * broadcast pins for the wrong reason.
    */
  private def finalPlanText(name: String): String = {
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect() // let AQE materialize the final plan
      // assert against the FINAL plan only: AQE's dump appends the
      // "== Initial Plan ==" section, whose static SortMergeJoins are
      // exactly what the runtime broadcast conversion replaced
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None =>
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("DSIR resample cuts with TakeOrdered; the fits broadcast") {
    val txt = finalPlanText("sample_dsir_topk")
    // the weighted draw must be a bounded-heap cut, never a global sort
    assert(txt.contains("TakeOrderedAndProject"), txt)
    assert(!txt.contains("rangepartitioning"), txt)
    // both ≤4096-row model fits join the single pool pass as broadcasts
    assert(txt.contains("BroadcastHashJoin"), txt)
  }

  test("perplexity bucketing adds no window and no global sort") {
    val txt = finalPlanText("tx_ppl_buckets")
    // cutoffs are a bounded driver scan; the plan must carry neither a
    // window (the naive per-doc ntile) nor a range exchange (a sort)
    assert(!txt.contains("Window"), txt)
    assert(!txt.contains("rangepartitioning"), txt)
  }

  test("language-ID scores k models off one pass with broadcast joins") {
    val txt = finalPlanText("tx_langid_nb")
    assert(txt.contains("BroadcastHashJoin"), txt)
    assert(!txt.contains("SortMergeJoin"), txt)
  }

  test("epoch upsampling: repeat factors broadcast, corpus explode is map-only") {
    val txt = finalPlanText("sample_source_epochs")
    // the per-slice epoch factor joins the corpus as a broadcast and
    // the copy emission is a Generate (explode) — the corpus row
    // stream itself must never hit a shuffle or sort join
    assert(txt.contains("BroadcastHashJoin"), txt)
    assert(txt.contains("Generate"), txt)
    assert(!txt.contains("SortMergeJoin"), txt)
  }

  test("canonical keeper selection: one argmax aggregate, no window") {
    val txt = finalPlanText("dedup_canonical_best")
    // the keeper cut is a max-of-struct aggregate, never a
    // per-component window sort. What matters at scale is the
    // MAP-SIDE PARTIAL (a mega-cluster collapses to one struct per
    // task before the exchange); the struct buffer makes Spark pick
    // SortAggregate over HashAggregate, which is fine — the sort is
    // per-partition and spillable, not a global or per-group one.
    assert(!txt.contains("Window"), txt)
    assert(txt.contains("partial_max"), txt)
  }

  test("BPE batch rewrite is one codegen'd native projection") {
    import org.apache.spark.sql.functions.col
    // a real scan input — a local literal constant-folds the whole
    // projection away and there would be no plan to guard
    val df = graft.text.Bpe
      .pieceVocab(Tables.documents(spark, "/root/testdata/sf0.001"), "text")
      .select(graft.text.Bpe.mergePairs(col("syms"),
        Seq(("a", "b"))).as("out"))
    // the rewrite must be the native expression — a regression to the
    // interpreted HOF aggregate() fold (O(len²) per row, measured
    // ~40× slower on piece streams) or a UDF would show as
    // ArrayAggregate / ScalaUDF in the tree
    val exprs = df.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten
    assert(exprs.exists(_.exists(
      _.isInstanceOf[graft.functions.BpeMergeExpr])), exprs.mkString("; "))
    assert(!exprs.exists(_.exists(e =>
      e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayAggregate]
        || e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
      exprs.mkString("; "))
    // and it participates in codegen (no CodegenFallback): the
    // expression compiles a static call into the stage
    val e = graft.functions.BpeMergeExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a", "b"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a", "b"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
    assert(!e.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }
}
