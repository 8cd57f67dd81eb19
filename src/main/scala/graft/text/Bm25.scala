package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.PersistedTable
import graft.functions.Rounding.roundHalfAway

/** BM25 retrieval over the corpus: score documents against a query-term
  * set through an inverted-index join, top-k per term through the native
  * TopK operator. The training-data use case is retrieval-based
  * curation/decontamination probes ("which documents would this query
  * surface?") — the reference has no retrieval surface at all.
  *
  * Scale shape: the postings build is one explode + map-side-combined
  * groupBy (the same shape as tx_word_freq); the query-term set is tiny
  * by construction, so it broadcasts and the postings stream is
  * semi-join-pruned down to the probed terms BEFORE any scoring work;
  * corpus-level stats (N, avgdl) are two scalars from one aggregate,
  * folded in as literals. Nothing in the plan grows with k or with the
  * query count beyond the pruned postings themselves. Ranking runs on
  * round(score, 6) with a doc_id tiebreak so float jitter cannot flip
  * an order the oracle disagrees with.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** (term, doc_id, tf, dl): one row per distinct term per doc, over
    * lowercased whitespace tokens.
    *
    * Map-only (r10): tf is counted INSIDE each document row by the
    * native [[graft.functions.TextHashing.termCounts]] kernel, then the
    * (term, tf) pairs explode — the previous explode-then-GROUP BY
    * formulation shuffled the whole exploded token stream for an
    * aggregation whose group key contained the row's own doc_id, i.e.
    * groups could never cross input rows and the exchange proved
    * nothing (guide §2.4). Same rows, same types; the tokenizer stays
    * the canonical Catalyst chain so terms are byte-identical.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
        Text.tokens(lower(col(textCol))).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"),
        explode(graft.functions.TextHashing.termCounts(col("__toks")))
          .as("tc"))
      .select(col("tc.term").as("term"), col("doc_id"), col("dl"),
        col("tc.tf").as("tf"))
  }

  /** Top `nTerms` non-stopword terms by document frequency (df desc,
    * term asc) — the deterministic auto-generated "query workload".
    */
  def queryTerms(post: DataFrame, nTerms: Int): DataFrame = {
    val stop = Text.enStop ++ Text.ptStop ++ Text.esStop
    // postings are already one row per (term, doc): plain count IS the
    // document frequency — no countDistinct Expand
    post.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(!col("term").isInCollection(stop) && length(col("term")) >= 4)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)
  }

  // ---- persisted posting index: build / append / probe ----
  //
  // Layout at `dir`:
  //   postings/bucket=K/   (term, doc_id, dl, tf) — bucket is a hash of
  //                        the term, so a probe is a partition-pruned
  //                        read of only the query terms' buckets;
  //   stats/               one row (n_docs, total_dl) covering EVERY
  //                        indexed doc (token-less docs count toward N).
  // Document frequencies are NOT stored: postings hold one row per
  // (term, doc), so df for the probed terms is a count over the pruned
  // buckets — appends never rewrite or merge a vocabulary table, they
  // append delta postings and fold two numbers into stats. An index
  // grown by appends scores identically to one built in a single pass
  // (the driver-gate query proves it against the from-scratch oracle).

  val IndexBuckets = 64

  private def bucketed(post: DataFrame): DataFrame =
    post.withColumn("bucket",
      pmod(hash(col("term")), lit(IndexBuckets)))

  private def writeStats(docs: DataFrame, textCol: String, dir: String,
                         mode: String): Unit = {
    val prev =
      if (mode == "append")
        docs.sparkSession.read.parquet(s"$dir/stats")
          .collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse((0L, 0L))
      else (0L, 0L)
    // sum() over zero rows is SQL-null: an empty corpus build or an
    // empty delta append must still write/fold zeros, not NPE
    val d = docs.agg(count(lit(1)),
      coalesce(sum(size(Text.tokens(lower(col(textCol)))).cast("long")),
        lit(0L))).head()
    val merged = (prev._1 + d.getLong(0), prev._2 + d.getLong(1))
    import docs.sparkSession.implicits._
    val staged = s"$dir/stats_staged"
    Seq(merged).toDF("n_docs", "total_dl")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    PersistedTable.replace(new java.io.File(s"$dir/stats"),
      new java.io.File(staged), new java.io.File(s"$dir/stats_old"))
  }

  /** Postings are written one file per bucket: with the map-only
    * postings (r10) there is no exchange left before the partitioned
    * write, so the writer's keyed exchange carries the already-counted
    * (term, doc) rows — fewer rows than the explode-then-GROUP BY
    * exchange it replaced.
    */
  private def writePostings(post: DataFrame, dir: String,
                            mode: PersistedTable.Mode): Unit =
    PersistedTable.write(post, "bucket", IndexBuckets,
      s"$dir/postings", mode)

  def indexBuild(docs: DataFrame, idCol: String, textCol: String,
                 dir: String): Unit = {
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
    writePostings(bucketed(postings(docs, idCol, textCol)), dir,
      PersistedTable.Overwrite)
    writeStats(docs, textCol, dir, "overwrite")
  }

  /** O(delta): delta postings appended, two scalars folded into stats.
    * Existing postings are never read or rewritten. Single-writer, like
    * every index-maintenance path here: two concurrent appends would
    * race the stats read-merge-swap and lose one delta's counts.
    */
  def indexAppend(delta: DataFrame, idCol: String, textCol: String,
                  dir: String): Unit = {
    writePostings(bucketed(postings(delta, idCol, textCol)), dir,
      PersistedTable.Append)
    writeStats(delta, textCol, dir, "append")
  }

  /** The same df-top-N workload selection as [[queryTerms]], derived
    * from the STORED postings (one row per (term, doc) ⇒ count = df) —
    * no corpus access.
    */
  def indexQueryTerms(s: org.apache.spark.sql.SparkSession,
                      dir: String, nTerms: Int): DataFrame = {
    val stop = Text.enStop ++ Text.ptStop ++ Text.esStop
    s.read.parquet(s"$dir/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(!col("term").isInCollection(stop) && length(col("term")) >= 4)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)
  }

  /** BM25 top-k from the stored index for an explicit query-term set:
    * the postings read is pruned to the query terms' bucket partitions
    * BEFORE the (broadcast) term join, df comes from counting the
    * pruned one-row-per-(term,doc) postings, and corpus stats are two
    * stored scalars — zero corpus-side compute at probe time.
    */
  def topKFromIndex(s: org.apache.spark.sql.SparkSession,
                    queryTerms: DataFrame, dir: String, k: Int): DataFrame = {
    val stats = s.read.parquet(s"$dir/stats").head()
    require(stats.getLong(0) > 0,
      s"posting index at $dir is empty (n_docs = 0) — avgdl undefined")
    val (n, avgdl) =
      (stats.getLong(0).toDouble, stats.getLong(1).toDouble / stats.getLong(0))
    val terms = queryTerms.select(col("term"))
    val buckets = terms
      .select(pmod(hash(col("term")), lit(IndexBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = s.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(terms), "term")
    val df = pruned.groupBy("term").agg(count(lit(1)).as("qdf"))
    val scored = pruned
      .join(broadcast(df), "term")
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("qdf") + lit(0.5)) / (col("qdf") + lit(0.5))))
      .withColumn("score", roundHalfAway(
        col("idf") * col("tf") * (lit(K1) + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0) - lit(B) +
            lit(B) * col("dl") / lit(avgdl))), 6))
      .select(col("term"), col("doc_id"), col("score"),
        col("tf").cast("long").as("tf"), col("dl"))
    graft.plans.TopKPlan.topKPerKey(scored, keys = Seq("term"),
      orderCols = Seq("score" -> false, "doc_id" -> true), k = k)
  }

  /** BM25 "more-like-this": each query DOCUMENT retrieves its top-k
    * lexically closest corpus docs from the stored posting index — the
    * candidate-generation stage of a fuzzy-dedup / near-match pass.
    * Query side contributes term PRESENCE (distinct tokens, the
    * standard BM25 query treatment); the score is the sum of the
    * matched terms' BM25 contributions. Each per-term contribution is
    * rounded to 6 decimals BEFORE the sum, so both engines sum exact
    * 6-decimal values — float association order cannot move the total
    * and the ranking is bit-stable across engines AND across Spark's
    * own partial-aggregation orders.
    *
    * Scale: the postings read covers exactly the query docs' term
    * set; candidates are bounded by the matched postings; the per-
    * query cut runs the native TopK partial heaps. Stateless — the
    * streaming twin probes each micro-batch with zero streaming state.
    */
  /** Read an index's corpus stats once — for callers that probe a
    * FROZEN index repeatedly (the streaming twin probes per
    * micro-batch) and shouldn't re-pay the stats scan every time. A
    * caller that appends to the index between probes must re-read.
    */
  def readStats(s: org.apache.spark.sql.SparkSession,
                dir: String): (Double, Double) = {
    val stats = s.read.parquet(s"$dir/stats").head()
    require(stats.getLong(0) > 0, s"posting index at $dir is empty")
    (stats.getLong(0).toDouble,
      stats.getLong(1).toDouble / stats.getLong(0))
  }

  /** Hard cap on the (qid, term) rows the localized probe will keep
    * driver-side: a query side past this is no longer "micro-batch
    * sized" and the collect's floor win no longer pays for its driver
    * footprint — the probe falls back to the distributed path (which
    * is spec-pinned score-equal), instead of marching toward a driver
    * OOM. ~100k rows of (long, short string) is single-digit MB.
    */
  val MaxLocalizedProbeRows = 100000

  def moreLikeThisFromIndex(s: org.apache.spark.sql.SparkSession,
                            queries: DataFrame, idCol: String,
                            textCol: String, dir: String, k: Int,
                            stats: Option[(Double, Double)] = None,
                            localizeProbe: Boolean = false,
                            postings: Option[DataFrame] = None,
                            maxLocalizedRows: Int = MaxLocalizedProbeRows)
  : DataFrame = {
    val (n, avgdl) = stats.getOrElse(readStats(s, dir))
    // deliberately NOT checkpointed: qTerms is a pure tokenization of
    // the (micro-batch-sized) query set with two consumers — each
    // recomputing a cheap map-only projection beats paying a whole
    // materialization job per probe, which at streaming cadence is
    // pure fixed floor
    val qTermsPlan = queries.select(col(idCol).as("qid"),
        explode(array_distinct(Text.tokens(lower(col(textCol))))).as("term"))
    // localizeProbe (the streaming probes' job-floor cut): the probe
    // already BROADCASTS the query side twice (term set + fan-out), so
    // the (qid, term) pairs are driver-memory-bounded by design —
    // collecting them ONCE replaces three per-probe driver actions
    // (the bucket-list collect, and the two broadcast builds that
    // each re-scan + re-tokenize the source) with one: downstream the
    // term set, its bucket list, and the fan-out side are all
    // LocalRelations, whose projections Catalyst folds at
    // optimization time and whose broadcast builds submit no job.
    // Tokenization still runs through the SAME Spark expressions
    // (one map-only job), so scores cannot diverge from the default
    // path — spec-pinned equal. Batch callers with query sets big
    // enough that a broadcast build materially beats a collect keep
    // the default.
    val (qTerms, termSet) =
      if (!localizeProbe)
        (qTermsPlan, qTermsPlan.select("term").distinct())
      else {
        import scala.jdk.CollectionConverters._
        val rows = qTermsPlan.collect()
        // the bound is ENFORCED, not a caller contract (r10): a batch
        // caller flipping the flag on a corpus-sized query set gets
        // the distributed plan back — same scores (spec-pinned), one
        // collect's worth of wasted work, no unbounded driver state
        // kept past this frame. A pre-collect count would cost the
        // extra per-trigger job the localization exists to remove.
        if (rows.length > maxLocalizedRows)
          (qTermsPlan, qTermsPlan.select("term").distinct())
        else {
          val local = s.createDataFrame(
            java.util.Arrays.asList(rows: _*), qTermsPlan.schema)
          val terms = rows.map(_.getString(1)).distinct.toSeq
          // nullable=true, matching the default path's schema: today's
          // tokenizer cannot emit null terms, but a tokenizer change
          // must not put nulls into a relation DECLARED non-nullable
          // (undefined join/pruning behavior instead of a loud miss)
          (local, s.createDataFrame(
            terms.map(org.apache.spark.sql.Row(_)).asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("term",
                org.apache.spark.sql.types.StringType, nullable = true)))))
        }
      }
    // order of operations is the probe's scale story: (1) prune the
    // postings scan to the query batch's term set — bucket partition
    // pruning first, then a broadcast semi-join on the (small,
    // micro-batch-sized) term set; (2) df + per-(term, doc) BM25
    // contribution computed ONCE on the pruned postings; (3) only the
    // final fan-out join multiplies by querying doc. Computing df over
    // the full postings or fanning out before scoring re-reads /
    // re-scores work per query doc — measured 5× slower.
    // The bucket projection over a LocalRelation folds at optimization
    // time (ConvertToLocalRelation), so the localized path's bucket
    // list costs zero jobs; the default path pays its one collect.
    // De-dup driver-side rather than with a DataFrame distinct(): the
    // input is already one row per distinct term (≈ what the probe
    // broadcasts anyway), and a plan-side distinct is a whole extra
    // exchange per probe — on the localized path it would be the one
    // job the LocalRelation fold just removed.
    val buckets = termSet
      .select(pmod(hash(col("term")), lit(IndexBuckets)).as("b"))
      .collect().map(_.getInt(0)).distinct.toSeq
    // `postings` lets streaming callers probing a FROZEN index pin the
    // postings in cache for the stream's life (the corpus-embedding
    // discipline of the hybrid probe's vector leg): the two consumers
    // below (df + contrib) then hit memory instead of paying two
    // parquet scans per trigger. The bucket filter still prunes —
    // partition pruning on the file scan, batch-stat pruning on the
    // in-memory relation.
    val matched = postings.getOrElse(s.read.parquet(s"$dir/postings"))
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(termSet), "term")
    val df = matched.groupBy("term").agg(count(lit(1)).as("qdf"))
    val contrib = matched
      .join(broadcast(df), "term")
      .withColumn("c", roundHalfAway(
        log(lit(1.0) + (lit(n) - col("qdf") + 0.5) / (col("qdf") + 0.5)) *
          col("tf") * (lit(K1) + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0) - lit(B) +
            lit(B) * col("dl") / lit(avgdl))), 6))
    // fan-out to querying docs by BROADCAST: the query side is a
    // micro-batch, the term key is maximally skewed (common words hit
    // every doc) — a shuffle join on term funnels the hottest term's
    // postings × queries through one reducer and goes superlinear
    // (measured 5.9× wall on a 3× corpus step); the broadcast keeps
    // the fan-out map-only and the only exchange is the uniform
    // (qid, doc) aggregate
    val scored = contrib.join(broadcast(qTerms), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(roundHalfAway(sum(col("c")), 6).as("score"),
        count(lit(1)).as("n_shared"))
    graft.plans.TopKPlan.topKPerKey(scored, keys = Seq("qid"),
      orderCols = Seq("score" -> false, "doc_id" -> true), k = k)
  }

  /** Top-k docs per query term by BM25. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           nTerms: Int, k: Int): DataFrame = {
    val post = postings(docs, idCol, textCol)
    // same dl derivation as the postings (lowercased tokens) so the
    // oracle's avgdl is the identical expression
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      avg(size(Text.tokens(lower(col(textCol)))).cast("double")).as("avgdl")).head()
    val (n, avgdl) = (stats.getDouble(0), stats.getDouble(1))
    val q = queryTerms(post, nTerms).withColumnRenamed("df", "qdf")
    val scored = post
      .join(broadcast(q), "term")
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("qdf") + lit(0.5)) / (col("qdf") + lit(0.5))))
      .withColumn("score", roundHalfAway(
        col("idf") * col("tf") * (lit(K1) + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0) - lit(B) +
            lit(B) * col("dl") / lit(avgdl))), 6))
      .select(col("term"), col("doc_id"), col("score"),
        col("tf").cast("long").as("tf"), col("dl"))
    graft.plans.TopKPlan.topKPerKey(scored, keys = Seq("term"),
      orderCols = Seq("score" -> false, "doc_id" -> true), k = k)
  }
}
