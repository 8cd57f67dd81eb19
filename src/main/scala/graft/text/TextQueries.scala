package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.Scratch
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the text-analysis operators over
  * the `documents` table, each with a DuckDB oracle that re-derives the
  * identical computation (token split, stopword filter, punctuation
  * regex) so values hash-match bit-for-bit after rounding.
  */
object TextQueries {

  private val allStop = Text.enStop ++ Text.ptStop ++ Text.esStop

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_token_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        roundHalfAway(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        roundHalfAway(Text.stopwordRatio(col("text")), 6).as("stopword_ratio"))
    }),
    "tx_lang_id" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val (en, pt, es) = Text.langVotes(col("text"))
      d.select(
        col("doc_id"), en.as("en_votes"), pt.as("pt_votes"),
        es.as("es_votes"), Text.langGuess(col("text")).as("lang_guess"))
    }),
    "tx_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        roundHalfAway(Text.qualityScore(col("text")), 6).as("quality"))),
    "tx_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), Text.fingerprint(col("text")).as("fp"))),
    "dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(Text.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))),
    "tx_tfidf_topterms" -> ((s, dir) =>
      Text.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)),
    // Generator surface: posexplode over the token array
    "tx_word_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(Text.tokens(col("text")))
          .as(Seq("pos", "w")))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"), roundHalfAway(avg(col("pos")), 4).as("avg_pos"))),
    // Suffix-stripping stem frequencies (lowercased tokens)
    "tx_stem_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(Text.tokens(lower(col("text")))).as("t"))
        .select(Text.stem(col("t")).as("stem"))
        .groupBy(col("stem")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 10)),
    // Corpus-trained bigram LM: per-doc mean log-probability
    "tx_bigram_lm" -> ((s, dir) =>
      Text.bigramLmScores(Tables.documents(s, dir), "doc_id", "text")),
    // Exact heavy hitters via the Misra-Gries TypedImperativeAggregate
    // (bounded sketch -> broadcast candidates -> exact verify)
    "tx_heavy_hitters" -> ((s, dir) =>
      graft.functions.HeavyHitters.heavyHitters(
        Tables.documents(s, dir)
          .select(explode(Text.tokens(col("text"))).as("w")),
        "w", phi = 0.01)),
    // Bigram collocations ranked by pointwise mutual information
    "tx_collocations" -> ((s, dir) =>
      Text.collocations(Tables.documents(s, dir), "text",
        minCount = 5, topN = 20)),
    // Zipf-law fit: ln(freq) regressed on ln(rank) — exercises the
    // linear-regression aggregate family (regr_slope/regr_intercept/
    // corr) in one pass. The rank window is global but runs over the
    // VOCABULARY (post-aggregation), which is ≪ corpus size; at
    // web-scale vocab swap in a sort + monotonic id.
    "tx_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wf = Tables.documents(s, dir)
        .select(explode(Text.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      wf.withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("w").asc)))
        .agg(count(lit(1)).as("n_words"),
          roundHalfAway(regr_slope(log(col("n")), log(col("rank"))), 4).as("slope"),
          roundHalfAway(regr_intercept(log(col("n")), log(col("rank"))), 4)
            .as("intercept"),
          roundHalfAway(corr(log(col("n")), log(col("rank"))), 4).as("r"))
    }),
    // Gopher-style repetition filters: duplicate-trigram fraction and
    // top-word mass per document, map-only (no shuffle at any scale)
    "tx_repetition" -> ((s, dir) =>
      Text.repetitionProfile(Tables.documents(s, dir), "doc_id", "text")),
    // Token budgeting: whitespace vs BPE-style pre-tokenization counts
    "tx_bpe_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_ws"),
        Text.bpeTokenCount(col("text")).as("n_bpe"),
        when(Text.tokenCount(col("text")) > 0,
          roundHalfAway(Text.bpeTokenCount(col("text")).cast("double") /
            Text.tokenCount(col("text")), 6)).otherwise(0.0)
          .as("bpe_per_word"))),
    // Quality-weighted downsampling — the data-mixing step: keep each
    // doc with probability equal to its quality score, but
    // DETERMINISTICALLY (u = hashed doc_id as a pseudo-uniform in
    // [0,1); keep iff u < quality). Reproducible across runs and
    // engines, unlike sample(); growth-stable (a doc's fate never
    // changes as the corpus grows). Map-only + one small aggregate.
    "sample_quality_weighted" -> ((s, dir) => {
      val q = Text.qualityScore(col("text"))
      val u = graft.functions.Binning.unitHash(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("keep", u < q)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep").cast("long")).as("n_kept"),
          roundHalfAway(avg(when(col("keep"), q)), 6).as("kept_avg_quality"))
    }),
    // Temperature-scaled source mixing (T=2, the multilingual
    // sqrt-scaling rebalance): target proportions ∝ share^(1/T), so
    // the acceptance rate per source is sqrt(n_min/n_s) — the
    // smallest source is kept whole, larger sources subsample toward
    // a flatter mix. Same deterministic per-doc uniform as the
    // quality sampler; the rate is ONE sqrt of an integer ratio, so
    // both engines compute it bit-equal (no pow(), whose last-ULP
    // behavior differs across libm implementations). Two tiny aggs +
    // a broadcast join — the corpus never shuffles.
    "sample_temperature_mix" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val acc = counts
        .crossJoin(broadcast(counts.agg(min(col("n_s")).as("n_min"))))
        .select(col("source").as("src"),
          sqrt(col("n_min").cast("double") / col("n_s")).as("acc"))
      val u = graft.functions.Binning.unitHash(col("doc_id"))
      d.join(broadcast(acc), col("source") === col("src"))
        .withColumn("keep", u < col("acc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep").cast("long")).as("n_kept"),
          roundHalfAway(max(col("acc")), 6).as("acc_rate"))
    }),
    // Per-slice epoch materialization — the upsampling dual of
    // sample_temperature_mix: that query SUBSAMPLES big slices toward
    // the temperature-flattened mix; this one REPEATS small slices,
    // data-recipe style (slices run fractional epoch counts > 1).
    // Keyed on `lang` (the corpus's genuinely skewed axis — the
    // `source` column is uniform here, which would make every epoch
    // count exactly 1.0 and the repetition path vacuous): minority
    // languages are upsampled toward the majority.
    // epochs_l = sqrt(n_max / n_l) >= 1, so the largest slice runs
    // exactly 1.0 epochs; each doc emits floor(e) full copies plus one
    // more iff its deterministic unit hash lands under frac(e) — the
    // slice's emitted mass hits n_l * e to within one doc, with zero
    // RNG (the run is reproducible row-for-row, which training-data
    // lineage requires). Plan: two scalar-sized broadcasts (per-slice
    // counts, their max) and ONE map-only sequence-explode on the
    // corpus — no shuffle of the corpus at any scale; the repeat
    // factor rides along as a broadcast-joined column.
    "sample_source_epochs" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val eps = counts
        .crossJoin(broadcast(counts.agg(max(col("n_l")).as("n_max"))))
        .select(col("lang").as("lng"),
          sqrt(col("n_max").cast("double") / col("n_l")).as("e"))
      val u = graft.functions.Binning.unitHash(col("doc_id"))
      d.join(broadcast(eps), col("lang") === col("lng"))
        .withColumn("n_copies",
          floor(col("e")).cast("long") +
            when(u < col("e") - floor(col("e")), 1L).otherwise(0L))
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("n_copies"))).as("epoch_idx"))
    }),
    // Context-window chunking: 64-token windows, 16-token overlap
    "tx_chunking" -> ((s, dir) =>
      Text.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 64, overlap = 16)),
    // URL parsing: per-doc host/apex/path/query-param extraction via
    // the native parse_url expression (the oracle re-derives each part
    // with anchored regexes over the identical rebuilt URL). Web-crawl
    // provenance is URL-keyed; this is the decode step.
    "tx_url_parse" -> ((s, dir) =>
      Tables.documents(s, dir).withColumn("url", syntheticUrl).select(
        col("doc_id"),
        expr("parse_url(url, 'HOST')").as("host"),
        regexp_extract(expr("parse_url(url, 'HOST')"),
          "([^.]+\\.[^.]+)$", 1).as("apex"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'ref')").as("ref"))),
    // Domain-level crawl stats: the curation roll-up that decides
    // which domains to keep/throttle (docs, distinct hosts and langs,
    // char mass per apex domain). One hash aggregate, map-side
    // combined; domain cardinality ≪ corpus so the shuffle is tiny.
    "tx_domain_stats" -> ((s, dir) =>
      Tables.documents(s, dir).withColumn("url", syntheticUrl)
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .groupBy(regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1)
          .as("apex"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))),
    // PII scan + redaction. The synthetic corpus carries no PII, so
    // the query plants deterministic emails/IPv4s/phones derived from
    // doc_id (the oracle rebuilds the identical augmented text) —
    // extraction counts and the redacted fingerprint then verify
    // non-vacuously. The operators themselves are pure regexp
    // composition: map-only, codegen'd, shuffle-free at any scale.
    "tx_pii_scan" -> ((s, dir) => {
      val aug = piiAugmented
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.piiCount(aug, Text.emailRe).as("n_email"),
        Text.piiCount(aug, Text.ipv4Re).as("n_ipv4"),
        Text.piiCount(aug, Text.phoneRe).as("n_phone"),
        length(Text.piiRedact(aug)).as("redacted_len"),
        md5(Text.piiRedact(aug)).as("redacted_fp"))
    }),
    // Unicode NFC normalization + control strip — the native
    // Catalyst-expression cleanup pass (graft.functions.UnicodeNorm:
    // codegen'd UnaryExpression, zero UDFs). The corpus is ASCII, so
    // denormalized sequences (combining accents) and a control char
    // are planted per doc_id; the oracle rebuilds the identical
    // augmented text and replays the clean via DuckDB's own
    // nfc_normalize — two independent UAX#15 implementations must
    // agree byte-for-byte (compared as md5, so UTF-16 vs code-point
    // length conventions never enter).
    "tx_unicode_clean" -> ((s, dir) => {
      val aug = unicodeAugmented
      val cleaned = graft.functions.UnicodeNorm.nfc(
        regexp_replace(aug, CtrlClass, ""))
      Tables.documents(s, dir).select(col("doc_id"),
        md5(cleaned).as("clean_fp"),
        length(cleaned).as("clean_len"),
        (cleaned =!= aug).as("changed"))
    }),
    // The Gopher/MassiveText rule battery (Rae et al. 2112.11446
    // table A1): 7 heuristic rules as ONE codegen'd Project — bullet
    // lines, ellipsis lines and symbol runs are planted per doc_id so
    // every rule fires both ways on the synthetic corpus.
    "tx_gopher_rules" -> ((s, dir) =>
      Gopher.report(Tables.documents(s, dir)
        .withColumn("gt", gopherAugmented), "doc_id", "gt")),
    // Encoding sanity triage. The synthetic corpus is clean ASCII, so
    // deterministic corruption is planted per doc_id (replacement
    // chars, C0 controls, CJK runs — the oracle rebuilds the identical
    // augmented text) and the per-lang rollup counts what a curation
    // gate would act on. Strip-and-measure counters: map-only,
    // codegen'd, one tiny keyed aggregate.
    "tx_encoding_qa" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0, " �caf�").otherwise(""),
        when(col("doc_id") % 5 === 0, "\u0007ctl\u0002").otherwise(""),
        when(col("doc_id") % 11 === 0, " 汉字テス")
          .otherwise(""))
      Tables.documents(s, dir)
        .select(col("lang"),
          Text.replacementChars(aug).as("repl"),
          Text.controlChars(aug).as("ctrl"),
          Text.nonAsciiRatio(aug).as("na"),
          Text.digitRatio(aug).as("dg"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("repl") === 0 && col("ctrl") === 0).cast("int"))
            .as("clean_docs"),
          sum(col("repl")).as("repl_chars"),
          sum(col("ctrl")).as("ctrl_chars"),
          roundHalfAway(avg(col("na")), 6).as("avg_nonascii"),
          roundHalfAway(avg(col("dg")), 6).as("avg_digit"))
    }),
    // BPE tokenizer TRAINING: learn the merge table from the corpus
    // (one corpus pass builds the weighted word vocabulary; merge
    // learning then runs over distinct words only, 48 merges in 6
    // batched pair-count passes — see text/Bpe.scala for the 100 TB
    // shape). The sequential merge recursion is not SQL-expressible,
    // so the ORACLE checks the learned table by CONTRACT (the a37
    // trick) — per merge rank:
    //  · count_pos: the merged pair was actually observed (count ≥ 1);
    //  · parts_known: each side is a base symbol (single char or the
    //    </w> marker) or the output of an EARLIER merge — the
    //    structural invariant that makes a merge table applicable;
    //  · counts_ranked: rank order matches the argmax order — each
    //    merge's count is ≥ the next NEW pair's count would be only if
    //    no later merge manufactured a bigger pair, which BPE does not
    //    guarantee; what IS guaranteed (and checked) is that rank 1
    //    holds the global best: count(1) ≥ count(k) for every k.
    // The exact merge table stays pinned by BpeSpec's in-memory
    // reference differential.
    // Corpus-scale application of the TRAINED merge table: encode is a
    // pure expression fold (12 nested merge rewrites, codegen'd, zero
    // UDFs), so applying the tokenizer to 100 TB is map-only — the
    // train/apply loop closed. Contract: every word round-trips
    // (concat(symbols) == word + </w>, so no merge loses characters)
    // and encoding never lengthens a word's symbol sequence; the
    // initial symbol mass (chars + end marker) is replayed exactly.
    "tx_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (merges, _) = Bpe.train(docs, "text", 12)
      require(merges.length == 12,
        s"tx_bpe_encode: corpus exhausted BPE merge candidates after " +
          s"${merges.length}/12 merges — see tx_bpe_train")
      val words = docs.select(col("doc_id"),
        explode(Text.tokens(lower(col("text")))).as("w"))
      words
        .withColumn("syms", Bpe.encode(col("w"), merges))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w")) + 1).as("n_init_syms"),
          (sum(size(col("syms"))) <= sum(length(col("w")) + 1))
            .as("compress_ok"),
          min(concat_ws("", col("syms")) ===
            concat(col("w"), lit(Bpe.EndOfWord))).as("roundtrip_ok"))
    }),
    // The tokenizer-ARTIFACT lifecycle: train → persist the merge
    // table → load it in a (conceptually separate) encode job → apply
    // to the corpus. The driver-side require pins the artifact
    // round-trip exactly; the corpus-side encode then carries the same
    // conservation/monotonicity contract as tx_bpe_encode — so a
    // corrupted or reordered artifact fails loudly, not as subtly
    // different tokens downstream.
    "tx_bpe_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (merges, _) = Bpe.trainBatched(docs, "text", 16, batch = 4)
      require(merges.length == 16,
        s"tx_bpe_persisted: corpus exhausted merges at ${merges.length}/16")
      val mdir = Scratch.dir("bpe_merges")
      Bpe.saveMerges(s, merges, mdir)
      val loaded = Bpe.loadMerges(s, mdir)
      require(loaded == merges,
        "persisted BPE merge table must round-trip rank-for-rank")
      val words = docs.select(col("doc_id"),
        explode(Text.tokens(lower(col("text")))).as("w"))
      words
        .withColumn("syms", Bpe.encode(col("w"), loaded))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w")) + 1).as("n_init_syms"),
          (sum(size(col("syms"))) <= sum(length(col("w")) + 1))
            .as("compress_ok"),
          min(concat_ws("", col("syms")) ===
            concat(col("w"), lit(Bpe.EndOfWord))).as("roundtrip_ok"))
    }),
    // vocabulary-scale ENCODE — the apply half of the 512-merge
    // train: every document's ▁-marked character stream is encoded by
    // the native rank-replay kernel (functions/BpeEncode) in ONE
    // map-only projection, where the nested-fold encode caps at ~16
    // merges. Contract per doc (the a37 trick): n_chars is exactly
    // recomputable in SQL; roundtrip_ok pins losslessness (the
    // encoded symbols concatenate back to the exact marked stream —
    // one dropped or doubled character anywhere fails the row);
    // syms_bounded pins 1 ≤ n_syms ≤ n_chars (encoding never
    // lengthens, never vanishes a non-empty doc). The exact symbol
    // sequence stays pinned by BpeSpec's replay differential.
    "tx_bpe_encode_full" -> ((s, dir) => {
      val (merges, _) = Bpe.trainBatchedPieces(Tables.documents(s, dir),
        "text", merges = 512, batch = 128)
      require(merges.length == 512,
        s"tx_bpe_encode_full: corpus exhausted merges at " +
          s"${merges.length}/512 — see tx_bpe_train")
      val marked = translate(lower(col("text")), " ", Bpe.SpaceMark)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(lower(col("text"))).cast("int").as("n_chars"),
          Bpe.encodeRanked(Bpe.pieceSymbols(col("text")), merges)
            .as("syms"), marked.as("marked"))
        .select(col("doc_id"), col("n_chars"),
          (concat_ws("", col("syms")) === col("marked"))
            .as("roundtrip_ok"),
          (size(col("syms")) >= least(lit(1), col("n_chars")) &&
            size(col("syms")) <= col("n_chars")).as("syms_bounded"))
    }),
    "tx_bpe_train" -> ((s, dir) => {
      // real-vocabulary-scale run of the BATCHED learner: 512 merges
      // in ~6 pair-count passes (up to 128 junction-free pairs per
      // pass, each pass applying its whole batch in ONE native
      // symbol-scan — Bpe.mergePairs), instead of 512 sequential
      // 1-row driver argmax round-trips. Units are
      // SentencePiece-style character streams (merges cross word
      // boundaries): the synthetic corpus holds ~31 distinct words,
      // so word-level BPE exhausts near 113 merges — the piece
      // stream is what a 512-merge vocabulary actually trains on
      val (merges, _) = Bpe.trainBatchedPieces(Tables.documents(s, dir),
        "text", merges = 512, batch = 128)
      import s.implicits._
      // the contract oracle pins ranks 1..512, so a corpus that
      // exhausts merge candidates early (tiny sf dir, degenerate
      // text) must fail with a MESSAGE here, not as a row-count/hash
      // mismatch at the gate — and an empty list would throw on .max
      require(merges.length == 512,
        s"tx_bpe_train: corpus exhausted BPE merge candidates after " +
          s"${merges.length}/512 merges — the contract oracle pins ranks " +
          "1..512; run on a larger corpus or lower the iteration count")
      val maxCount = merges.map(_.count).max
      val earlier = scala.collection.mutable.Set.empty[String]
      val rows = merges.map { m =>
        def known(t: String): Boolean =
          t.codePointCount(0, t.length) == 1 || t == "</w>" ||
            earlier.contains(t)
        val row = (m.rank, m.count >= 1, known(m.left) && known(m.right),
          merges.head.count == maxCount)
        earlier += (m.left + m.right)
        row
      }
      rows.toDF("rank", "count_pos", "parts_known", "counts_ranked")
    }),
    // Tokenizer-vocabulary build + OOV coverage: the vocab is the
    // top-V train-split tokens (total order (freq DESC, token ASC) so
    // the boundary cut is deterministic), then every split's tokens
    // are scored against it — the "how well does a vocab fit the
    // held-out data" check that precedes tokenizer training. Scale
    // shape: token explode is map-side; the vocab agg shuffles
    // O(vocab-domain) keys; the vocab itself (V rows) broadcasts back,
    // so the corpus-side probe never shuffles; final rollup is
    // O(splits × langs). V=16 of the corpus's 31-token domain keeps
    // the OOV signal non-vacuous.
    "tx_vocab_coverage" -> ((s, dir) => {
      val b = graft.functions.Binning.knuthBucket(col("doc_id"))
      val tok = Tables.documents(s, dir)
        .select(col("lang"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
            .as("split"),
          explode(Text.tokens(lower(col("text")))).as("w"))
      val vocab = tok.filter(col("split") === "train")
        .groupBy(col("w")).agg(count(lit(1)).as("vn"))
        .orderBy(col("vn").desc, col("w").asc).limit(VocabV)
        .select(col("w"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          roundHalfAway(sum(when(col("in_vocab").isNull, 1.0).otherwise(0.0)) /
            count(lit(1)), 6).as("oov_rate"),
          countDistinct(when(col("in_vocab").isNull, col("w")))
            .as("oov_types"))
    }),
    // Sequence packing: concatenate each shard's documents (id order)
    // into one token stream and cut it every `PackCapacity` tokens —
    // the GPT-style packing that turns a ragged corpus into
    // fixed-length training rows. The output is the per-doc placement
    // (start offset, first/last sequence, boundary-crossing flag);
    // everything is integer arithmetic over ONE per-shard window
    // cumsum, so the only exchange is the shard repartition and both
    // engines agree bit-for-bit. Shards are the scale unit: each
    // worker packs its own shard independently (window partitions
    // never see another shard's rows).
    "pipeline_pack_sequences" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(PackShards)).cast("int").as("shard"),
          Text.tokenCount(col("text")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("start_off",
          sum(col("n_tokens").cast("long")).over(w) - col("n_tokens"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start_off"),
          expr(s"start_off DIV $PackCapacity").as("seq_first"),
          expr(s"(start_off + n_tokens - 1) DIV $PackCapacity")
            .as("seq_last"))
        .withColumn("crosses", col("seq_last") > col("seq_first"))
    }))

  /** Vocab size for [[queries tx_vocab_coverage]]. */
  val VocabV = 16
  /** Tokens per packed training sequence / shard count for
    * [[queries pipeline_pack_sequences]].
    */
  val PackCapacity = 512
  val PackShards = 4

  /** Deterministic per-doc URL (no URLs in the synthetic corpus):
    * host fans out over source × shard × tld so apex/host/lang
    * cardinalities are all non-trivial; path and ?ref= exercise the
    * non-host parse_url parts.
    */
  private def syntheticUrl: org.apache.spark.sql.Column = concat(
    lit("https://"), col("source"), col("doc_id") % 50, lit(".example."),
    element_at(array(lit("com"), lit("org"), lit("net")),
      ((col("doc_id") % 3) + 1).cast("int")),
    lit("/"), col("lang"), lit("/doc-"), col("doc_id"),
    lit("?ref=r"), col("doc_id") % 9)

  /** Deterministic PII planting for [[queries tx_pii_scan]]: ~1/3 of
    * docs get an email, 1/4 an IPv4, 1/5 a phone (doc_id modulus), so
    * counts span 0..3 and every redaction arm fires somewhere.
    */
  private[graft] def piiAugmented: org.apache.spark.sql.Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact u"), col("doc_id"), lit("@mail"),
        col("doc_id") % 7, lit(".example.com"))).otherwise(lit("")),
    when(col("doc_id") % 4 === 0,
      concat(lit(" from 10."), col("doc_id") % 200, lit(".0."),
        col("doc_id") % 250)).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call +55 11 9"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit("-1234"))).otherwise(lit("")))

  /** Control chars to strip in `tx_unicode_clean` (C0 minus \t\n\r,
    * plus DEL) — identical char-class syntax in Java regex and RE2.
    */
  private[graft] val CtrlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Deterministic denormalized-Unicode planting: combining acute
    * (U+0301, composes with 'e' → é) on 1/3 of docs, combining ring
    * (U+030A, composes with 'A' → Å) on 1/4, a BEL control on 1/5 —
    * so the NFC pass and the control strip each fire somewhere and
    * `changed` varies.
    */
  private[graft] def unicodeAugmented: org.apache.spark.sql.Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit(" A\u030Angstro\u0308m"))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit("\u0007")).otherwise(lit("")))

  /** Gopher-rule planting: dense bullet blocks on 1/7 of docs (10+
    * bullet lines push short docs past the 90% line ratio), ellipsis
    * lines on 1/11, symbol runs on 1/13, single-char word floods on
    * 1/17 (drag short docs' mean word length under 3) — with the
    * natural word-count and stop-word variance, every rule in the
    * battery fires both ways somewhere on the corpus.
    */
  private[graft] def gopherAugmented: org.apache.spark.sql.Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 0, lit(
      (1 to 10).map(i => s"\n- bullet $i").mkString)).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      lit("\nto be continued...\nand then…")).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      lit(" ### tags ## here #")).otherwise(lit("")),
    when(col("doc_id") % 17 === 0,
      lit(" a b c d e" * 8)).otherwise(lit("")))

  /** Gopher-rule CTE chain, replaying [[Gopher.report]] stat-for-stat
    * over a preceding CTE `src` that supplies `(doc_id, t)`. Ends in
    * `grules` (all stats + flags + keep) so both the rule-battery
    * oracle and gated compositions (pipeline_selection_v1) share the
    * identical replay.
    */
  private[graft] def gopherRulesCtes(src: String): String =
    s"""gm AS (SELECT doc_id, t,
       |  list_filter(regexp_split_to_array(trim(t), '\\s+'),
       |              x -> x != '') AS toks,
       |  list_filter(regexp_split_to_array(trim(lower(t)), '\\s+'),
       |              x -> x != '') AS ltoks,
       |  string_split(t, chr(10)) AS lines FROM $src),
       |gc AS (SELECT doc_id,
       |  len(toks)::BIGINT AS words,
       |  coalesce(list_sum(list_transform(toks, x -> length(x))),
       |           0)::BIGINT AS chars,
       |  (length(t) - length(regexp_replace(t, '#', '', 'g'))
       |   + length(t) - length(regexp_replace(t, '…', '', 'g'))
       |   + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g')))
       |     // 3)::BIGINT AS symbols,
       |  len(lines)::BIGINT AS n_lines,
       |  len(list_filter(lines, l -> list_contains(['•', '-', '*'],
       |      substring(ltrim(l), 1, 1))))::BIGINT AS bullet_lines,
       |  len(list_filter(lines, l -> ends_with(rtrim(l), '...')
       |      OR ends_with(rtrim(l), '…')))::BIGINT AS ellipsis_lines,
       |  len(list_filter(toks,
       |      x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS alpha_words,
       |  len(list_filter(${sqlList(Gopher.StopWords)},
       |      w -> list_contains(ltoks, w)))::BIGINT AS stop_hits
       |  FROM gm),
       |gr AS (SELECT doc_id, words,
       |  CASE WHEN words > 0
       |       THEN round(chars::DOUBLE / words, 6) END AS mean_word_len,
       |  CASE WHEN words > 0
       |       THEN round(symbols::DOUBLE / words, 6) END AS symbol_ratio,
       |  round(bullet_lines::DOUBLE / n_lines, 6) AS bullet_ratio,
       |  round(ellipsis_lines::DOUBLE / n_lines, 6) AS ellipsis_ratio,
       |  CASE WHEN words > 0
       |       THEN round(alpha_words::DOUBLE / words, 6) END AS alpha_ratio,
       |  stop_hits FROM gc),
       |grules AS (SELECT doc_id, words, mean_word_len, symbol_ratio,
       |  bullet_ratio, ellipsis_ratio, alpha_ratio, stop_hits,
       |  (words >= ${Gopher.MinWords}
       |   AND words <= ${Gopher.MaxWords}) AS pass_words,
       |  coalesce(mean_word_len >= ${Gopher.MinMeanWordLen}::DOUBLE
       |   AND mean_word_len <= ${Gopher.MaxMeanWordLen}::DOUBLE,
       |   false) AS pass_mean_len,
       |  coalesce(symbol_ratio <= ${Gopher.MaxSymbolRatio}::DOUBLE,
       |   true) AS pass_symbols,
       |  bullet_ratio <= ${Gopher.MaxBulletLineRatio}::DOUBLE
       |    AS pass_bullets,
       |  ellipsis_ratio <= ${Gopher.MaxEllipsisLineRatio}::DOUBLE
       |    AS pass_ellipsis,
       |  coalesce(alpha_ratio >= ${Gopher.MinAlphaWordRatio}::DOUBLE,
       |   false) AS pass_alpha,
       |  stop_hits >= ${Gopher.MinStopHits} AS pass_stop,
       |  ((words >= ${Gopher.MinWords} AND words <= ${Gopher.MaxWords})
       |   AND coalesce(mean_word_len >= ${Gopher.MinMeanWordLen}::DOUBLE
       |       AND mean_word_len <= ${Gopher.MaxMeanWordLen}::DOUBLE, false)
       |   AND coalesce(symbol_ratio <= ${Gopher.MaxSymbolRatio}::DOUBLE,
       |       true)
       |   AND bullet_ratio <= ${Gopher.MaxBulletLineRatio}::DOUBLE
       |   AND ellipsis_ratio <= ${Gopher.MaxEllipsisLineRatio}::DOUBLE
       |   AND coalesce(alpha_ratio >= ${Gopher.MinAlphaWordRatio}::DOUBLE,
       |       false)
       |   AND stop_hits >= ${Gopher.MinStopHits}) AS keep
       |  FROM gr)""".stripMargin

  /** The quality-score expression as DuckDB SQL (mirrors
    * [[Text.qualityScore]] operation-for-operation) — shared with the
    * curation-pipeline oracle in [[graft.dedup.DedupQueries]].
    */
  def qualitySql: String =
    s"""0.4 * least(1.0, len($toks) / 100.0)
       |           + 0.3 * (1.0 - $punct)
       |           + 0.3 * (${stopRatio(allStop)})""".stripMargin

  private def sqlList(s: Seq[String]): String =
    s.map(w => s"'$w'").mkString("[", ", ", "]")

  private val toks =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '')"""
  private def hits(list: Seq[String]) =
    s"len(list_filter($toks, t -> list_contains(${sqlList(list)}, t)))"
  // zero-guarded like Text.punctRatio / stopwordRatio: empty input → 0.0
  private val punct =
    """CASE WHEN length(text) > 0
      |     THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
      |          / length(text)
      |     ELSE 0.0 END""".stripMargin
  private def stopRatio(list: Seq[String]) =
    s"""CASE WHEN len($toks) > 0
       |     THEN ${hits(list)}::DOUBLE / len($toks)
       |     ELSE 0.0 END""".stripMargin
  private val normFp =
    """md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))"""
  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"""
  // mirror of Text.stem — DuckDB backreference syntax is \1 (RE2);
  // $-anchored patterns make first-match == global-match
  private val stemSql =
    """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |regexp_replace(t, 'sses$', 'ss'), 'ies$', 'i'),
      |'([a-z]{3,})ing$', '\1'), '([a-z]{3,})ed$', '\1'),
      |'([a-z]{2,}[^s])s$', '\1')""".stripMargin

  // The PII patterns interpolate verbatim into single-quoted SQL:
  // they stay inside the Java∩RE2 common dialect and contain no
  // quotes. Single line: this fragment is re-stripMargin'd inside the
  // interpolating oracle literal, so a continuation line starting
  // with || would lose a pipe.
  private[graft] val augSql =
    "text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@mail' " +
      "|| (doc_id % 7) || '.example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 200) " +
      "|| '.0.' || (doc_id % 250) ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call +55 11 9' " +
      "|| lpad((doc_id % 10000)::VARCHAR, 4, '0') || '-1234' ELSE '' END"

  // single-line for the same nested-stripMargin reason as augSql
  private val urlSql =
    "'https://' || source || (doc_id % 50) || '.example.' || " +
      "(['com','org','net'])[(doc_id % 3) + 1] || " +
      "'/' || lang || '/doc-' || doc_id || '?ref=r' || (doc_id % 9)"

  val oracleSql: Map[String, String] = Map(
    // contract oracle (see the query's comment): fully literal — the
    // rank domain is pinned, every structural invariant must hold
    "tx_bpe_train" ->
      """SELECT unnest(range(1, 513))::INT AS rank, TRUE AS count_pos,
        |       TRUE AS parts_known, TRUE AS counts_ranked""".stripMargin,
    // encode contract: char count exact in SQL, losslessness and the
    // 1..n_chars symbol bound pinned as booleans (the sequential
    // merge replay itself is not SQL-expressible — BpeSpec pins it)
    "tx_bpe_encode_full" ->
      """SELECT doc_id, length(lower(text))::INT AS n_chars,
        |       TRUE AS roundtrip_ok, TRUE AS syms_bounded
        |FROM documents""".stripMargin,
    "sample_quality_weighted" ->
      s"""WITH k AS (
         |  SELECT source,
         |         (doc_id % 1000003 * 427799 % 1000003)::DOUBLE / 1000003.0
         |           AS u,
         |         $qualitySql AS q
         |  FROM documents)
         |SELECT source, count(*) AS n_total,
         |       sum(CASE WHEN u < q THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |       round(avg(CASE WHEN u < q THEN q END), 6)
         |         AS kept_avg_quality
         |FROM k GROUP BY 1""".stripMargin,
    "sample_temperature_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |m AS (SELECT min(n_s) AS n_min FROM s),
        |a AS (SELECT source, sqrt(n_min::DOUBLE / n_s) AS acc FROM s, m),
        |k AS (SELECT d.source,
        |             (d.doc_id % 1000003 * 427799 % 1000003)::DOUBLE / 1000003.0
        |               AS u,
        |             a.acc
        |      FROM documents d JOIN a USING (source))
        |SELECT source, count(*) AS n_total,
        |       sum(CASE WHEN u < acc THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       round(max(acc), 6) AS acc_rate
        |FROM k GROUP BY 1""".stripMargin,
    // both engines build e = sqrt(n_max/n_s) from exact integer inputs
    // (IEEE sqrt is correctly rounded) and the fractional-copy test
    // compares the same exact-integer unit hash against e - floor(e),
    // so the copy count is bit-identical — the same float discipline
    // sample_temperature_mix relies on
    "sample_source_epochs" ->
      """WITH s AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |m AS (SELECT max(n_l) AS n_max FROM s),
        |e AS (SELECT lang AS lng, sqrt(n_max::DOUBLE / n_l) AS e
        |      FROM s, m),
        |c AS (SELECT d.doc_id, d.lang,
        |             floor(e.e)::BIGINT
        |             + CASE WHEN (d.doc_id % 1000003 * 427799 % 1000003)::DOUBLE
        |                         / 1000003.0 < e.e - floor(e.e)
        |                    THEN 1 ELSE 0 END AS n_copies
        |      FROM documents d JOIN e ON d.lang = e.lng)
        |SELECT doc_id, lang,
        |       unnest(generate_series(1::BIGINT, n_copies)) AS epoch_idx
        |FROM c""".stripMargin,
    "tx_chunking" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
         |st AS (SELECT doc_id, w,
         |              unnest(generate_series(1, len(w), 48)) AS s
         |       FROM toks WHERE len(w) > 0)
         |SELECT doc_id, ((s - 1) // 48)::INT AS chunk_id,
         |       s::INT AS chunk_start,
         |       len(w[s : least(s + 63, len(w))])::INT AS n_tok,
         |       md5(array_to_string(w[s : least(s + 63, len(w))], ' '))
         |         AS chunk_fp
         |FROM st WHERE s = 1 OR len(w) >= s + 16""".stripMargin,
    "tx_url_parse" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents)
         |SELECT doc_id,
         |       regexp_extract(url, '^https://([^/]+)', 1) AS host,
         |       regexp_extract(regexp_extract(url, '^https://([^/]+)', 1),
         |                      '([^.]+\\.[^.]+)$$', 1) AS apex,
         |       regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
         |       regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref
         |FROM u""".stripMargin,
    "tx_domain_stats" ->
      s"""WITH u AS (SELECT doc_id, lang, n_chars, $urlSql AS url
         |           FROM documents),
         |h AS (SELECT *, regexp_extract(url, '^https://([^/]+)', 1) AS host
         |      FROM u)
         |SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS apex,
         |       count(*) AS n_docs,
         |       count(DISTINCT host) AS n_hosts,
         |       count(DISTINCT lang) AS n_langs,
         |       sum(n_chars)::BIGINT AS total_chars
         |FROM h GROUP BY 1""".stripMargin,
    "tx_pii_scan" ->
      s"""WITH aug AS (SELECT doc_id, $augSql AS t FROM documents),
         |red AS (
         |  SELECT doc_id, t,
         |         regexp_replace(regexp_replace(regexp_replace(t,
         |           '${Text.emailRe}', '<EMAIL>', 'g'),
         |           '${Text.ipv4Re}', '<IP>', 'g'),
         |           '${Text.phoneRe}', '<PHONE>', 'g') AS r
         |  FROM aug)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '${Text.emailRe}'))::INT AS n_email,
         |       len(regexp_extract_all(t, '${Text.ipv4Re}'))::INT AS n_ipv4,
         |       len(regexp_extract_all(t, '${Text.phoneRe}'))::INT AS n_phone,
         |       length(r)::INT AS redacted_len,
         |       md5(r) AS redacted_fp
         |FROM red""".stripMargin,
    // Independent UAX#15 implementation (utf8proc) must agree with the
    // JVM normalizer byte-for-byte — compared as md5 fingerprints
    "tx_unicode_clean" ->
      s"""WITH aug AS (SELECT doc_id,
         |  text || CASE WHEN doc_id % 3 = 0
         |               THEN ' cafe' || chr(769) ELSE '' END
         |       || CASE WHEN doc_id % 4 = 0
         |               THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
         |               ELSE '' END
         |       || CASE WHEN doc_id % 5 = 0 THEN chr(7) ELSE '' END AS t
         |  FROM documents),
         |cl AS (SELECT doc_id, t,
         |  nfc_normalize(regexp_replace(t, '$CtrlClass', '', 'g')) AS c
         |  FROM aug)
         |SELECT doc_id, md5(c) AS clean_fp, length(c)::INT AS clean_len,
         |       c != t AS changed
         |FROM cl""".stripMargin,
    "tx_gopher_rules" ->
      s"""WITH aug AS (SELECT doc_id,
         |  text || CASE WHEN doc_id % 7 = 0
         |               THEN ${(1 to 10).map(i =>
                s"chr(10) || '- bullet $i'").mkString(" || ")}
         |               ELSE '' END
         |       || CASE WHEN doc_id % 11 = 0
         |               THEN chr(10) || 'to be continued...' || chr(10) ||
         |                    'and then…' ELSE '' END
         |       || CASE WHEN doc_id % 13 = 0
         |               THEN ' ### tags ## here #' ELSE '' END
         |       || CASE WHEN doc_id % 17 = 0
         |               THEN repeat(' a b c d e', 8) ELSE '' END AS t
         |  FROM documents),
         |${gopherRulesCtes("aug")}
         |SELECT doc_id, words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_ratio, stop_hits, pass_words,
         |  pass_mean_len, pass_symbols, pass_bullets, pass_ellipsis,
         |  pass_alpha, pass_stop, keep
         |FROM grules""".stripMargin,
    "tx_encoding_qa" ->
      """WITH aug AS (
        |  SELECT lang,
        |         text ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' �caf�' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN chr(7) || 'ctl' || chr(2) ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' 汉字テス' ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT lang,
        |         length(t) - length(regexp_replace(t, '�', '', 'g')) AS repl,
        |         length(t) - length(regexp_replace(t,
        |           '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctrl,
        |         CASE WHEN length(t) = 0 THEN 0.0 ELSE
        |           (length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '',
        |            'g')))::DOUBLE / length(t) END AS na,
        |         CASE WHEN length(t) = 0 THEN 0.0 ELSE
        |           (length(t) - length(regexp_replace(t, '[0-9]', '',
        |            'g')))::DOUBLE / length(t) END AS dg
        |  FROM aug)
        |SELECT lang, count(*) AS n_docs,
        |       sum(CASE WHEN repl = 0 AND ctrl = 0
        |                THEN 1 ELSE 0 END)::BIGINT AS clean_docs,
        |       sum(repl)::BIGINT AS repl_chars,
        |       sum(ctrl)::BIGINT AS ctrl_chars,
        |       round(avg(na), 6) AS avg_nonascii,
        |       round(avg(dg), 6) AS avg_digit
        |FROM m GROUP BY 1""".stripMargin,
    "tx_token_stats" ->
      s"""SELECT doc_id, len($toks)::INT AS n_tokens,
         |       round($punct, 6) AS punct_ratio,
         |       round(${stopRatio(allStop)}, 6) AS stopword_ratio
         |FROM documents""".stripMargin,
    "tx_lang_id" ->
      s"""SELECT doc_id,
         |       ${hits(Text.enStop)}::INT AS en_votes,
         |       ${hits(Text.ptStop)}::INT AS pt_votes,
         |       ${hits(Text.esStop)}::INT AS es_votes,
         |       CASE WHEN ${hits(Text.enStop)} >= ${hits(Text.ptStop)}
         |             AND ${hits(Text.enStop)} >= ${hits(Text.esStop)} THEN 'en'
         |            WHEN ${hits(Text.ptStop)} >= ${hits(Text.esStop)} THEN 'pt'
         |            ELSE 'es' END AS lang_guess
         |FROM documents""".stripMargin,
    "tx_quality" ->
      s"""SELECT doc_id,
         |       round($qualitySql, 6) AS quality
         |FROM documents""".stripMargin,
    "tx_fingerprint" ->
      s"SELECT doc_id, $normFp AS fp FROM documents",
    "dedup_exact" ->
      s"""SELECT $normFp AS fp, count(*) AS n, min(doc_id) AS keeper
         |FROM documents GROUP BY 1""".stripMargin,
    "tx_tfidf_topterms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, term,
         |         round(tf * (ln((n_docs + 1.0) / (df_t + 1.0)) + 1.0), 6)
         |           AS tfidf
         |  FROM tf JOIN dft USING (term), n),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY tfidf DESC, term ASC)::INT AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 3""".stripMargin,
    "tx_word_freq" ->
      s"""WITH ex AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(0, len($toks)),
         |                i -> {'pos': i, 'w': ($toks)[i + 1]})) AS st
         |  FROM documents)
         |SELECT st.w AS w, count(*) AS n,
         |       round(avg(st.pos), 4) AS avg_pos
         |FROM ex GROUP BY 1""".stripMargin,
    "tx_stem_freq" ->
      s"""WITH ex AS (SELECT unnest($toksLower) AS t FROM documents)
         |SELECT $stemSql AS stem, count(*) AS n
         |FROM ex GROUP BY 1 HAVING count(*) >= 10""".stripMargin,
    "tx_bigram_lm" ->
      s"""WITH docs AS (SELECT doc_id, $toks AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, list_extract(w, i) AS w1,
         |         list_extract(w, i + 1) AS w2
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM docs)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS v
         |      FROM (SELECT unnest($toks) AS t FROM documents))
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(avg(ln((c12 + 1.0) / (c1 + v))), 6) AS avg_logp
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
         |GROUP BY doc_id""".stripMargin,
    // the MG sketch only bounds WHICH items get exact-counted; its
    // superset guarantee makes the verified result equal plain
    // GROUP BY/HAVING (both engines multiply the same long by the
    // same double literal, so the threshold compare is bit-identical)
    "tx_heavy_hitters" ->
      s"""WITH ex AS (SELECT unnest($toks) AS item FROM documents),
         |n AS (SELECT count(*) AS n_total FROM ex)
         |SELECT item, count(*) AS cnt
         |FROM ex, n GROUP BY item, n_total
         |HAVING count(*) >= n_total * 0.01""".stripMargin,
    // PMI arithmetic replayed with the identical operation order
    // ((c_ab/B) / ((c_a/T)(c_b/T)), then ln, then round) so the two
    // engines agree bit-for-bit after rounding; ranking compares the
    // rounded value
    "tx_collocations" ->
      s"""WITH d2 AS (SELECT $toks AS w FROM documents WHERE len($toks) >= 2),
         |tot AS (SELECT sum(len(w))::DOUBLE AS t,
         |               sum(len(w) - 1)::DOUBLE AS bt FROM d2),
         |ucnt AS (SELECT tok, count(*)::DOUBLE AS cw
         |         FROM (SELECT unnest(w) AS tok FROM d2) GROUP BY 1),
         |big AS (SELECT unnest(list_transform(range(1, len(w)),
         |                                     i -> [w[i], w[i+1]])) AS p
         |        FROM d2),
         |cnt AS (SELECT p[1] AS a, p[2] AS b, count(*) AS n
         |        FROM big GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT a || ' ' || b AS bigram, n,
         |       round(ln((n::DOUBLE / t.bt)
         |                / ((ca.cw / t.t) * (cb.cw / t.t))), 4) AS pmi
         |FROM cnt
         |JOIN ucnt ca ON cnt.a = ca.tok
         |JOIN ucnt cb ON cnt.b = cb.tok
         |CROSS JOIN tot t
         |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin,
    "tx_zipf_fit" ->
      s"""WITH ex AS (SELECT unnest($toksLower) AS w FROM documents),
         |wf AS (SELECT w, count(*) AS n FROM ex GROUP BY 1),
         |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, w ASC)
         |              AS rank
         |       FROM wf)
         |SELECT count(*) AS n_words,
         |       round(regr_slope(ln(n), ln(rank)), 4) AS slope,
         |       round(regr_intercept(ln(n), ln(rank)), 4) AS intercept,
         |       round(corr(ln(n), ln(rank)), 4) AS r
         |FROM rk""".stripMargin,
    "tx_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
         |base AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |         greatest(len(w) - 2, 0) AS tri_total,
         |         len(list_distinct(list_transform(range(1, len(w) - 1),
         |           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS tri_d
         |  FROM t),
         |wc AS (
         |  SELECT doc_id, max(c) AS top_c FROM (
         |    SELECT doc_id, w2, count(*) AS c
         |    FROM (SELECT doc_id, unnest(w) AS w2 FROM t)
         |    GROUP BY 1, 2) GROUP BY 1)
         |SELECT base.doc_id, n_tokens::INT AS n_tokens,
         |       CASE WHEN tri_total > 0
         |            THEN round((tri_total - tri_d)::DOUBLE / tri_total, 6)
         |            ELSE 0.0 END AS dup_trigram_frac,
         |       CASE WHEN n_tokens > 0
         |            THEN round(top_c::DOUBLE / n_tokens, 6)
         |            ELSE 0.0 END AS top_word_frac
         |FROM base LEFT JOIN wc ON base.doc_id = wc.doc_id""".stripMargin,
    // contract: initial symbol mass replayed exactly; the merge-fold's
    // conservation and monotonicity land as in-plan booleans
    "tx_bpe_encode" ->
      s"""SELECT doc_id,
         |       len($toksLower)::BIGINT AS n_words,
         |       list_sum(list_transform($toksLower,
         |         w -> length(w) + 1))::BIGINT AS n_init_syms,
         |       true AS compress_ok,
         |       true AS roundtrip_ok
         |FROM documents WHERE len($toksLower) > 0""".stripMargin,
    // same contract through the persisted-artifact path (the exact
    // table round-trip is a driver-side require in the query)
    "tx_bpe_persisted" ->
      s"""SELECT doc_id,
         |       len($toksLower)::BIGINT AS n_words,
         |       list_sum(list_transform($toksLower,
         |         w -> length(w) + 1))::BIGINT AS n_init_syms,
         |       true AS compress_ok,
         |       true AS roundtrip_ok
         |FROM documents WHERE len($toksLower) > 0""".stripMargin,
    "tx_bpe_tokens" -> {
      val pat = Text.BpePattern.replace("'", "''")
      s"""SELECT doc_id, len($toks)::INT AS n_ws,
         |       len(regexp_extract_all(text, '$pat'))::INT AS n_bpe,
         |       CASE WHEN len($toks) > 0
         |            THEN round(len(regexp_extract_all(text, '$pat'))::DOUBLE
         |                       / len($toks), 6)
         |            ELSE 0.0 END AS bpe_per_word
         |FROM documents""".stripMargin
    },
    "tx_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT lang,
         |         CASE WHEN (doc_id % 100) * 61 % 100 < 80 THEN 'train'
         |              WHEN (doc_id % 100) * 61 % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split,
         |         unnest($toksLower) AS w
         |  FROM documents),
         |v AS (
         |  SELECT w FROM (
         |    SELECT w, count(*) AS vn FROM tok
         |    WHERE split = 'train' GROUP BY 1)
         |  ORDER BY vn DESC, w ASC LIMIT $VocabV)
         |SELECT t.split, t.lang, count(*)::BIGINT AS n_tokens,
         |       sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT
         |         AS n_oov,
         |       round(sum(CASE WHEN v.w IS NULL THEN 1.0 ELSE 0.0
         |                 END)::DOUBLE / count(*), 6) AS oov_rate,
         |       count(DISTINCT CASE WHEN v.w IS NULL THEN t.w END)::BIGINT
         |         AS oov_types
         |FROM tok t LEFT JOIN v ON t.w = v.w
         |GROUP BY 1, 2""".stripMargin,
    "pipeline_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, (doc_id % $PackShards)::INT AS shard,
         |         len($toks)::INT AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, shard, n_tokens,
         |         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          - n_tokens)::BIGINT AS start_off
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, shard, n_tokens, start_off,
         |       (start_off // $PackCapacity)::BIGINT AS seq_first,
         |       ((start_off + n_tokens - 1) // $PackCapacity)::BIGINT
         |         AS seq_last,
         |       (start_off + n_tokens - 1) // $PackCapacity >
         |         start_off // $PackCapacity AS crosses
         |FROM p""".stripMargin)
}
