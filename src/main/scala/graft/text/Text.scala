package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID (stopword-marker heuristic), quality
  * scoring, and document fingerprinting. All pure Catalyst expression
  * composition — no UDFs — so every function stays inside whole-stage
  * codegen and scales as a map-only pass over the corpus (no shuffle,
  * no state, no driver involvement at any corpus size).
  *
  * The reference system (pedrotokar/banking-streaming-ETL) has no text
  * surface; these extend the engine per the training-data-pipeline
  * charter (SURVEY.md §7.4 north-star extensions).
  */
object Text {

  /** Marker stopwords per language for the voting heuristic. */
  val enStop: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  val ptStop: Seq[String] = Seq("de", "que", "e", "o", "os", "um", "uma", "para")
  val esStop: Seq[String] = Seq("el", "la", "los", "las", "y", "un", "una", "por")

  private def litArr(s: Seq[String]): Column = array(s.map(lit): _*)

  /** Whitespace-run tokenization, empty tokens excluded — the engine's
    * canonical definition, shared with the native kernels
    * ([[graft.functions.TextHashing]]). The empty-token filter matters
    * when text has leading non-space whitespace (`trim` strips only
    * spaces; the regex split then emits a leading "" artifact).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-family BPE pre-tokenization pattern: contractions, letter
    * runs, digit runs, punctuation runs, each with an optional leading
    * space. Deliberately lookahead-free (the original's `\s+(?!\S)`
    * arm only matters for whitespace tokens, which a count ignores) so
    * Java regex and RE2 engines match identically — the oracle runs
    * the very same pattern.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-style token count — the budget number a training pipeline
    * tracks per document (an upper bound on merged-BPE tokens: merges
    * only fuse chunks the pre-tokenizer emits). Codegen'd
    * `regexp_count`, map-only.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern))

  /** Count of tokens present in `stop` (duplicates counted — NOT set
    * intersection, so frequency information survives).
    */
  def stopwordHits(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => array_contains(litArr(stop), t)))

  /** Fraction of characters that are sentence punctuation; 0.0 for the
    * empty string (defined, not NaN/null, so degenerate docs score
    * deterministically downstream).
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
        length(text)).otherwise(0.0)

  /** Fraction of tokens that are (any-language) stopwords; 0.0 for a
    * tokenless (empty/whitespace-only) document.
    */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      stopwordHits(toks, enStop ++ ptStop ++ esStop).cast("double") /
        size(toks)).otherwise(0.0)
  }

  /** Language-ID by stopword votes; ties resolve en > pt > es. */
  def langVotes(text: Column): (Column, Column, Column) = {
    val toks = tokens(text)
    (stopwordHits(toks, enStop), stopwordHits(toks, ptStop),
      stopwordHits(toks, esStop))
  }

  def langGuess(text: Column): Column = {
    val (en, pt, es) = langVotes(text)
    when(en >= pt && en >= es, "en").when(pt >= es, "pt").otherwise("es")
  }

  /** Composite quality score in [0,1]: length saturation + low
    * punctuation density + stopword presence (fluency proxy).
    */
  def qualityScore(text: Column): Column =
    lit(0.4) * least(lit(1.0), tokenCount(text) / lit(100.0)) +
      lit(0.3) * (lit(1.0) - punctRatio(text)) +
      lit(0.3) * stopwordRatio(text)

  /** Suffix-stripping stemmer ("Porter-lite"): five anchored
    * regexp_replace rules applied in order — sses→ss, ies→i,
    * (≥3)ing→∅, (≥3)ed→∅, trailing single s (not ss, ≥4 chars)→∅.
    * Pure expression composition (codegen'd, map-only at any corpus
    * size); each pattern is `$`-anchored so Spark's global
    * regexp_replace and the oracle's first-match replace agree by
    * construction. Input should be lowercased by the caller.
    */
  def stem(w: Column): Column = {
    val s1 = regexp_replace(w, "sses$", "ss")
    val s2 = regexp_replace(s1, "ies$", "i")
    val s3 = regexp_replace(s2, "([a-z]{3,})ing$", "$1")
    val s4 = regexp_replace(s3, "([a-z]{3,})ed$", "$1")
    regexp_replace(s4, "([a-z]{2,}[^s])s$", "$1")
  }

  /** Corpus-trained bigram language model with add-one smoothing,
    * scoring each document by the mean log-probability of its bigrams:
    * avg over (w1,w2) of ln((C(w1,w2)+1) / (C(w1)+V)), where C counts
    * bigram occurrences corpus-wide, C(w1) is the bigram-context count,
    * and V is the vocabulary size (distinct token types).
    *
    * The train-then-score shape is one pass of aggregations: bigrams
    * come from an expression-level `arrays_zip` of shifted slices (no
    * UDF), counts are two map-side-combined groupBys keyed by bigram /
    * first word, and V joins in as a broadcast scalar. Scoring re-joins
    * the bigram stream to the count tables on their natural keys —
    * shuffles are all keyed by token hashes, uniformly distributed
    * except for stop-word heads, which AQE's skew split handles.
    * Documents with fewer than two tokens have no bigrams and drop out
    * (inner-join semantics), mirroring the oracle.
    */
  def bigramLmScores(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    // Bigrams via arrays_zip(slice, slice) over a materialized token
    // column — NOT a transform lambda closing over the tokenizer
    // expression: a lambda body re-evaluates its captured subtree per
    // element, turning tokenization into O(tokens²) per doc (measured
    // 13 s → 2 s on this query at sf0.1). slice evaluates its child
    // once per row; size < 2 yields an empty zip (greatest guard), so
    // bigram-less docs drop at the explode.
    val tk = col("tk")
    val n1 = greatest(size(tk) - 1, lit(0))
    // tokenize ONCE and truncate lineage: base feeds the bigram stream
    // and the vocab count, and the bigram stream itself is consumed
    // three times (c12, c1, the scoring join) — without the
    // checkpoints each consumer would re-tokenize and re-explode the
    // corpus (self-referenced plans get no exchange reuse; same
    // convention as collocations/dedup)
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .localCheckpoint(true)
    val bg = base
      .select(col("doc_id"),
        explode(arrays_zip(slice(tk, lit(1), n1), slice(tk, lit(2), n1)))
          .as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
      .localCheckpoint(true)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = base
      .select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(org.apache.spark.sql.functions.broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        roundHalfAway(avg(log((col("c12") + 1.0) / (col("c1") + col("v")))), 6)
          .as("avg_logp"))
  }

  /** Top bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln((c_ab/B) / ((c_a/T)·(c_b/T))) with T total tokens
    * and B total bigrams, over bigrams seen at least `minCount` times.
    * Docs with fewer than two tokens are excluded from every count so
    * the universe is identical across engines. Ranking compares the
    * ROUNDED pmi (then the bigram string) so last-ULP log noise can't
    * reorder the cut. Unigram tables are broadcast here (vocab ≪
    * corpus); at open-vocabulary scale drop the hint and let the
    * bigram→unigram joins shuffle on the token key.
    */
  def collocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   minCount: Long, topN: Int): org.apache.spark.sql.DataFrame = {
    val base = docs.select(tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .localCheckpoint(true) // shared by totals + unigrams + bigrams
    val n1 = size(col("tk")) - 1
    val bg = base
      .select(explode(arrays_zip(slice(col("tk"), lit(1), n1),
        slice(col("tk"), lit(2), n1))).as("p"))
      .select(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
    val uni = base.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("double").as("cw"))
    val tot = base.agg(sum(size(col("tk"))).cast("double").as("t"),
      sum(size(col("tk")) - 1).cast("double").as("bt"))
    val cnt = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    cnt
      .join(broadcast(uni.select(col("w").as("a"), col("cw").as("ca"))), Seq("a"))
      .join(broadcast(uni.select(col("w").as("b"), col("cw").as("cb"))), Seq("b"))
      .join(broadcast(tot))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"), col("n"),
        roundHalfAway(log((col("n").cast("double") / col("bt")) /
          ((col("ca") / col("t")) * (col("cb") / col("t")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topN)
  }

  /** Whitespace-normalized lowercase form used for exact-dup keys —
    * the native single-scan kernel: one char walk per doc instead of
    * a regex-engine pass. At the test corpus' ~0.5 KB docs the two are
    * overhead-bound equals (measured); the char walk is the scale path
    * for MB-class documents where the regex pass dominates.
    * Differential-tested against [[normalizedComposable]] in TextSpec,
    * including the leading-tab and VT/\f edges.
    */
  def normalized(text: Column): Column =
    graft.functions.TextHashing.normalizeWs(text)

  /** The composable reference formulation of [[normalized]]. */
  def normalizedComposable(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text (hex string). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Polynomial rolling hash over characters (base 31, mod 1e9+7) —
    * a native Catalyst fold via `aggregate`, no UDF. Unit-tested;
    * fingerprint() is the oracle-checkable variant.
    */
  def rollingHash(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => (acc * 31L + ascii(ch)) % 1000000007L)

  /** TF-IDF top-k terms per document over a corpus.
    *
    * tf = term count in the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    * sklearn-style); ranking by score rounded to 6 decimals (term
    * tiebreak) so ordering is reproducible across engines. Three
    * shuffles total — (doc,term) counts, per-term document frequency,
    * and the final per-doc top-k via the map-side-pruned
    * [[graft.plans.TopKPlan]] node; the corpus size joins in as a
    * broadcast scalar, never a driver-side constant.
    */
  def tfIdfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfT, "term")
      .join(org.apache.spark.sql.functions.broadcast(n))
      .select(col("doc_id"), col("term"),
        roundHalfAway(col("tf") * (log((col("n_docs") + 1.0) / (col("df_t") + 1.0))
          + 1.0), 6).as("tfidf"))
    graft.plans.TopKPlan.topKPerKey(scored, Seq("doc_id"),
      Seq("tfidf" -> false, "term" -> true), k)
  }

  /** Within-document repetition signals (the Gopher/MassiveText-style
    * quality filters near-dup pair search can't see): the fraction of
    * trigram OCCURRENCES that are repeats of an earlier trigram in the
    * same doc, and the mass fraction of the single most frequent word.
    *
    * Map-only at any corpus size: the token array is materialized ONCE
    * as a column and every signal is array arithmetic over it — no
    * explode, no shuffle, no per-element re-tokenization (a lambda
    * closing over the tokenizer expression would re-split per element;
    * referencing the materialized attribute does not). The top-word
    * scan is O(distinct·tokens) per row — bounded by document length,
    * the same contract as the shingle kernels.
    *
    * Emits (id, n_tokens, dup_trigram_frac, top_word_frac); both
    * fractions are 0.0 for degenerate docs (no trigrams / no tokens).
    */
  def repetitionProfile(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val triTotal = greatest(size(col("__toks")) - 2, lit(0))
    val triDistinct = size(graft.dedup.Dedup.shinglesOf(col("__toks"), 3))
    val topCount = array_max(transform(array_distinct(col("__toks")),
      w => size(filter(col("__toks"), t => t === w))))
    docs.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        when(triTotal > 0,
          roundHalfAway((triTotal - triDistinct).cast("double") / triTotal, 6))
          .otherwise(0.0).as("dup_trigram_frac"),
        when(size(col("__toks")) > 0,
          roundHalfAway(topCount.cast("double") / size(col("__toks")), 6))
          .otherwise(0.0).as("top_word_frac"))
  }

  /** Fixed-size token chunks with overlap — the context-window prep
    * step of a training pipeline (split each document into windows of
    * `chunkSize` tokens, consecutive windows sharing `overlap`
    * tokens). Map-only: one tokenize, a `sequence` of window starts,
    * one explode; no shuffle at any corpus size, and a document's
    * chunks land in the same partition as the document (stable for a
    * downstream per-chunk pass).
    *
    * Tail windows that would contribute no new tokens (fully contained
    * in the previous window) are dropped: window `s` survives iff
    * `s == 1` or the doc extends past the previous window's end
    * (`len >= s + overlap`). Empty docs emit no chunks.
    *
    * Emits (id, chunk_id, chunk_start (1-based), n_tok, chunk_fp).
    */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int,
                  overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got ($chunkSize, $overlap)")
    val step = chunkSize - overlap
    val toks = docs.withColumn("__toks", tokens(col(textCol)))
    val n = size(col("__toks"))
    val starts = when(n > 0, sequence(lit(1), n, lit(step)))
      .otherwise(array().cast("array<int>"))
    val chunk = slice(col("__toks"), col("chunk_start"), lit(chunkSize))
    toks
      .select(col(idCol), col("__toks"),
        explode(starts).as("chunk_start"))
      .filter(col("chunk_start") === 1 ||
        size(col("__toks")) >= col("chunk_start") + overlap)
      .select(col(idCol),
        (((col("chunk_start") - 1) / step).cast("int")).as("chunk_id"),
        col("chunk_start"),
        size(chunk).as("n_tok"),
        md5(concat_ws(" ", chunk)).as("chunk_fp"))
  }

  // ---------------------------------------------------------------- PII

  /** PII patterns, deliberately restricted to the regex dialect shared
    * by Java (`java.util.regex`, Spark) and RE2 (DuckDB oracle): no
    * lookaround, no backreferences. Word-boundary anchors keep an IPv4
    * from matching inside a longer dotted number.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val phoneRe = "\\+\\d{1,3} \\d{2} \\d{4,5}-\\d{4}"

  /** Count of matches of one PII pattern in `text` (0 for NULL text). */
  def piiCount(text: Column, pattern: String): Column =
    coalesce(size(regexp_extract_all(text, lit(pattern), lit(0))), lit(0))
      .cast("int")

  /** Redact emails, then IPv4s, then phone numbers with typed mask
    * tokens. Email runs first so a TLD host with digits can't be
    * partially bitten by the IPv4 pattern; an IP-HOST address
    * (`root@10.2.3.4`) is outside the TLD-anchored email pattern and
    * is scrubbed by the IP arm instead — nothing leaks either way
    * (spec-pinned). Pure `regexp_replace` composition — map-only,
    * codegen'd, no shuffle at any corpus size.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  // -------------------------------------------------------------------
  // Encoding sanity (mojibake / corruption triage). A crawled corpus
  // carries decode failures: U+FFFD replacement chars (a decoder gave
  // up), stray C0 control bytes (binary mis-sniffed as text), and
  // double-encoded runs. These counters are the triage signals a
  // curation pipeline gates on before any tokenizer sees the text.
  // All are strip-and-measure (`length - length(regexp_replace(...))`
  // counts CODE POINTS, which Spark's length and DuckDB's length both
  // use) — map-only, codegen'd, no shuffle.
  // -------------------------------------------------------------------

  private def countMatching(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, charClass, ""))

  /** Number of U+FFFD replacement characters (decoder-failure marks). */
  def replacementChars(text: Column): Column =
    countMatching(text, "�")

  /** Number of C0 control characters other than tab/newline/CR. */
  def controlChars(text: Column): Column =
    countMatching(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")

  /** Fraction of code points outside ASCII (0.0 for empty text). */
  def nonAsciiRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      countMatching(text, "[^\\x00-\\x7F]").cast("double") / length(text))

  /** Fraction of code points that are ASCII digits (0.0 for empty). */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      countMatching(text, "[0-9]").cast("double") / length(text))
}
