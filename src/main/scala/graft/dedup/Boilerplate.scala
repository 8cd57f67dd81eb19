package graft.dedup

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.io.PersistedTable
import graft.functions.Rounding.roundHalfAway

/** Substring-level boilerplate REMOVAL — the consumer of
  * [[Dedup.commonNgrams]]'s repeated-span signal. Mining tells you a
  * license header repeats across the crawl; this operator actually
  * strips every occurrence of those spans from every document, the
  * fixed-`n` approximation of suffix-array substring dedup (Lee et
  * al., "Deduplicating Training Data Makes Language Models Better" —
  * public arXiv:2107.06499): any duplicated substring of ≥ n words is
  * covered by its length-n windows, so masking all boilerplate
  * n-gram occurrences masks the span.
  *
  * Output is over the canonical whitespace token stream (the same
  * tokenization as [[Dedup.shingles]]): per document, the surviving
  * token text, total/removed token counts, and how many distinct
  * boilerplate spans hit the doc.
  *
  * Shape at scale, 100 TB lens:
  *  - the boiler-set mine is [[Dedup.commonNgrams]]: one shingling
  *    pass, one map-side-combined groupBy on the gram (heavy hitters
  *    collapse BEFORE the shuffle — the skewed key is exactly what
  *    partial aggregation absorbs);
  *  - occurrence detection joins each doc's (start, gram) stream to a
  *    BROADCAST of the boiler set — the `minDf` filter is what keeps
  *    that set small (spans become boilerplate only by repeating
  *    across many documents; the threshold caps the candidate
  *    universe at corpus_grams / minDf). Map-only, no token shuffle;
  *  - coverage folds to one `(doc, sorted position set)` row per hit
  *    document (bounded by the doc's own length — the same "a doc
  *    fits in its task" invariant every per-doc operator here relies
  *    on), and the final strip is a broadcast-or-shuffle join of that
  *    SMALL cover table back to the corpus followed by a map-only
  *    indexed filter. The full token table is never shuffled.
  */
object Boilerplate {

  /** Strip every occurrence of each word n-gram that appears in at
    * least `minDf` distinct documents. Total: every input doc comes
    * back (possibly with zero tokens removed, possibly fully
    * stripped).
    *
    * Returns (doc, n_tokens, n_removed, n_spans, clean_text) where
    * `n_spans` counts DISTINCT boilerplate grams occurring in the doc
    * and `clean_text` is the uncovered tokens rejoined with single
    * spaces (the operator's contract is the token stream, not raw
    * byte offsets).
    */
  /** @param broadcastBoiler hit detection joins the occurrence stream
    *        to the boiler set by BROADCAST (the default — the minDf
    *        threshold bounds the set at corpus_grams/minDf, and
    *        boilerplate-hot grams would skew a shuffled join's
    *        reducers). If a permissive minDf on a huge corpus pushes
    *        the mined set past broadcast size, set false: plain
    *        shuffle join, AQE skew-split as the backstop.
    */
  def stripSpans(docs: DataFrame, id: String, text: String, n: Int,
                 minDf: Int, broadcastBoiler: Boolean = true): DataFrame = {
    // minDf = 1 would make EVERY n-gram boilerplate (each occurs in
    // its own doc): the broadcast set becomes the full gram universe
    // and the strip degenerates to deleting all >= n-token text —
    // never what a cleaning pass means. Refuse loudly.
    require(minDf >= 2,
      s"minDf must be >= 2 (a span is boilerplate only when SHARED " +
        s"across documents), got $minDf")
    // boiler set: repeated-span mine, distinct-in-doc ⇒ df = doc count
    stripWithBoiler(docs, id, text, n,
      Dedup.commonNgrams(docs, id, text, n, minDf).select(col("ngram")),
      broadcastBoiler)
  }

  /** Persisted gram-df index — the mine made incremental, same
    * lifecycle discipline as the band/IVF/posting indexes: build pays
    * the corpus once, an append pays the DELTA only (partial df rows
    * land beside the existing ones — nothing is read or rewritten),
    * and the boiler read folds partials at threshold time. Partial
    * counts sum to the true document frequency because corpus appends
    * are DISJOINT by document (the standard growing-corpus semantics;
    * same single-writer caveat as every index-maintenance path here).
    * Rows are bucketed by gram hash so the fold's shuffle key is
    * uniform even when one gram saturates the corpus.
    */
  def gramIndexBuild(docs: DataFrame, id: String, text: String, n: Int,
                     dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    PersistedTable.write(gramPartials(docs, id, text, n), "bucket",
      GramBuckets, dir, PersistedTable.Overwrite)
  }

  /** O(delta): the new docs' gram partials appended as-is. */
  def gramIndexAppend(delta: DataFrame, id: String, text: String,
                      n: Int, dir: String): Unit =
    PersistedTable.write(gramPartials(delta, id, text, n), "bucket",
      GramBuckets, dir, PersistedTable.Append)

  private val GramBuckets = 64

  private def gramPartials(docs: DataFrame, id: String, text: String,
                           n: Int): DataFrame = {
    // widen small inputs before the gram explode: a build/append slice
    // arriving in 1-2 splits runs the explode + map-side df aggregate
    // on as many cores (measured 1.3 s single-task at sf0.1 — the
    // whole build). Corpus-scale inputs (splits >= cores) pass through
    // untouched, so no extra text shuffle appears at scale.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val src =
      if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    Dedup.commonNgrams(src, id, text, n, minDf = 1)
      .select(col("ngram"), col("df"),
        pmod(hash(col("ngram")), lit(GramBuckets)).as("bucket"))
  }

  /** Novelty probe of a document batch against a stored gram index
    * ([[gramIndexBuild]]/[[gramIndexAppend]]): per probe doc, its
    * distinct n-gram count, how many of those grams exist ANYWHERE in
    * the indexed corpus, and the novelty share — the
    * [[Dedup.noveltyProfile]] census served from a persisted index
    * instead of a corpus co-scan, so a probe never touches corpus
    * text. The index read is pruned to the batch's gram-hash buckets
    * (≤ GramBuckets driver scalars), and the indexed side collapses
    * to DISTINCT grams before the join — every probe gram matches at
    * most one row, zero fan-out regardless of how many corpus docs
    * (or appended partial rows) share a boilerplate gram. Stateless:
    * the streaming gate probes each micro-batch against the frozen
    * index with no streaming state. An index grown by appends probes
    * identically to a one-shot build (membership is df-threshold-free,
    * so partial rows only add duplicates the DISTINCT collapses).
    */
  def noveltyFromIndex(s: org.apache.spark.sql.SparkSession,
                       probe: DataFrame, id: String, text: String,
                       n: Int, dir: String): DataFrame = {
    // consumed twice (bucket collect + join) and micro-batch-sized
    val grams = probe.select(col(id).as("doc_id"),
        explode(Dedup.shingles(col(text), n)).as("ngram"))
      .localCheckpoint(true)
    val buckets = grams
      .select(pmod(hash(col("ngram")), lit(GramBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val indexed = s.read.schema("ngram STRING, df BIGINT, bucket INT")
      .parquet(dir)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("ngram")).distinct().withColumn("__seen", lit(1L))
    grams.join(indexed, Seq("ngram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty",
        roundHalfAway(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 6))
  }

  /** The boiler set at threshold `minDf`, folded from the stored
    * partials — equals the one-shot [[Dedup.commonNgrams]] mine over
    * the union corpus (partial dfs are per-append distinct-doc
    * counts over disjoint doc sets, so their sum IS the union df).
    */
  def boilerFromIndex(s: org.apache.spark.sql.SparkSession, dir: String,
                      minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // explicit schema: an index built from an EMPTY corpus slice is a
    // committed dir with zero part files — schema inference would
    // throw where "no grams yet ⇒ empty boiler set" is the answer
    s.read.schema("ngram STRING, df BIGINT, bucket INT").parquet(dir)
      .groupBy(col("ngram")).agg(sum(col("df")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("ngram"))
  }

  /** The masking half alone: strip every occurrence of the given
    * `boiler` grams (one `ngram` string column of space-joined word
    * n-grams — [[Dedup.commonNgrams]] output, or any externally
    * curated blocklist). This is the streaming-admission form: the
    * set is mined ONCE from the static corpus, and arriving documents
    * are cleaned against it map-only (per-doc work only — no
    * corpus-wide mine per batch).
    */
  def stripWithBoiler(docs: DataFrame, id: String, text: String, n: Int,
                      boiler: DataFrame,
                      broadcastBoiler: Boolean = true): DataFrame = {
    require(n >= 1, s"span length must be positive, got $n")
    val toks = graft.text.Text.tokens(col(text))
    val base = docs.select(col(id).as("doc"), toks.as("tk"))

    // every occurrence start (NOT distinct — stripping needs them all):
    // gram at 0-based start i spans positions [i, i+n-1]
    val occs = base.select(col("doc"), posexplode(
        when(size(col("tk")) >= n,
          transform(sequence(lit(0), size(col("tk")) - n), i =>
            concat_ws(" ", (0 until n).map(j =>
              element_at(col("tk"), i + j + 1)): _*)))
          .otherwise(array().cast("array<string>")))
        .as(Seq("start", "ngram")))

    // map-only hit detection (broadcast), then one fold to a per-doc
    // cover: the sorted set of masked positions + distinct span count
    val boilerGrams = boiler.select(col("ngram"))
    val boilerSide =
      if (broadcastBoiler) broadcast(boilerGrams) else boilerGrams
    val cover = occs.join(boilerSide, "ngram")
      .select(col("doc"), col("ngram"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("p"))
      .groupBy(col("doc"))
      .agg(array_sort(collect_set(col("p"))).as("cov"),
        size(collect_set(col("ngram"))).as("n_spans"))

    // strip = indexed filter against the doc's own cover row; docs
    // with no hits pass through whole (left join, empty cover)
    base.join(cover, Seq("doc"), "left")
      .select(col("doc"),
        size(col("tk")).as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).as("n_removed"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        array_join(filter(col("tk"), (_, i) =>
          coalesce(!array_contains(col("cov"), i), lit(true))), " ")
          .as("clean_text"))
  }
}
