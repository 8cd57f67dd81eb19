package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.Scratch
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the [[LangModel]] perplexity
  * family — CCNet-style LM quality filtering (train a bigram LM on a
  * reference split, score everything else by mean NLL):
  *
  *  - `tx_lm_perplexity` — train in-plan on the 80% reference split,
  *    score the held-out 20% with full add-one backoff. The oracle
  *    replays training AND scoring from the raw table: counts are
  *    exact integers, each bigram's log-prob is quantized to long
  *    micro-nats, the per-doc total is a sum of longs (order-free),
  *    and the mean is one long÷long IEEE division — bit-replayable
  *    end to end.
  *  - `tx_lm_persisted` — the artifact lifecycle: train →
  *    [[LangModel.save]] → validated [[LangModel.load]] (meta total
  *    cross-checked against the counts actually read) → score. Same
  *    output, oracle shared verbatim with `tx_lm_perplexity` — the
  *    round trip through parquet must change nothing.
  *
  * The streaming admission twin (`s26_stream_perplexity_gate`) is
  * registered with the other `s*` queries in
  * [[graft.streaming.StreamingQueries]] and shares this oracle
  * derivation restricted to the admitted set.
  */
object LmQueries {

  /** Holdout = every 5th doc (20%); modulus split so every SF keeps
    * both sides populated.
    */
  private[graft] val Mod = 5
  /** Admission gate in nats/token — mean NLL under the reference LM.
    * The synthetic corpus is near-uniform (holdout NLL spans only
    * ~3.34–3.54 nats at sf0.01), so the gate sits at the observed
    * median to stay DISCRIMINATING on the test tables — a threshold
    * outside that band would make `admit` a constant and the gate
    * queries vacuous. Real CCNet deployments pick this the same way:
    * a quantile of the reference-scored distribution, not an a-priori
    * number.
    */
  private[graft] val NllThreshold = 3.42

  private[graft] def refSplit(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Mod)) =!= 0)
  private[graft] def holdoutSplit(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Mod)) === 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_lm_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ref = refSplit(docs)
      LangModel.perplexity(holdoutSplit(docs), "doc_id", "text",
        LangModel.bigramCounts(ref, "text"),
        LangModel.vocabSize(ref, "text"), NllThreshold)
    }),
    "tx_lm_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ref = refSplit(docs)
      val mdir = Scratch.dir("lm_model")
      LangModel.save(LangModel.bigramCounts(ref, "text"),
        LangModel.vocabSize(ref, "text"), ref.count(), mdir)
      val (bigrams, v) = LangModel.load(s, mdir)
      LangModel.perplexity(holdoutSplit(docs), "doc_id", "text",
        bigrams, v, NllThreshold)
    }),

    // DSIR importance weights: target = the English slice, pool =
    // everything; w_q is one exact long subtraction of two quantized
    // LM totals, computed off a SINGLE bigram stream over the pool
    "sample_dsir_weights" -> ((s, dir) =>
      dsirWeights(Tables.documents(s, dir))),

    // The resample itself: Gumbel-top-k with hash-derived noise —
    // deterministic importance sampling without replacement; `lang`
    // rides along to make the selection's target-skew inspectable
    "sample_dsir_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dsir.resample(dsirWeights(docs), "doc_id", DsirK)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("w_q"), col("key"))
    }),

    // Naive-Bayes language ID: one bigram LM per language, holdout
    // docs labeled by exact-long likelihood argmax (ties → smallest
    // language name) — bit-replayable classification. NOTE the
    // synthetic corpus draws every lang's text from ONE shared token
    // distribution, so holdout accuracy ≈ chance (0.20 at sf0.01) is
    // the CORRECT output here — the oracle pins the computation, and
    // LangClassifierSpec pins the discrimination story on fixtures
    // that carry real per-language signal
    "tx_langid_nb" -> ((s, dir) =>
      langidLabels(Tables.documents(s, dir))),

    // The quality view a curation run reads: confusion census of
    // true lang × predicted lang over the holdout
    "tx_langid_confusion" -> ((s, dir) =>
      langidLabels(Tables.documents(s, dir))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))),

    // The selection pipeline closed end to end: Gopher structural
    // gate (multilingual config — the English-only stop-word rule
    // applies to en docs alone, relaxed to ≥1 hit because the
    // synthetic vocabulary carries only 'the'; the corpus-calibrated
    // choice, like NllThreshold) → DSIR fits on the SURVIVORS
    // (target = the en slice) → deterministic Gumbel-top-k draw.
    // Gate, fits, weights, and the draw all replay in one oracle.
    "pipeline_selection_v1" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val surv = Gopher.report(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang"), col("text")),
          Seq("doc_id"))
        .filter(col("pass_words") && col("pass_mean_len") &&
          col("pass_symbols") && col("pass_bullets") &&
          col("pass_ellipsis") && col("pass_alpha") &&
          (col("lang") =!= TargetLang || col("stop_hits") >= 1))
        .select(col("doc_id"), col("lang"), col("text"))
      val tgt = surv.filter(col("lang") === TargetLang)
      val tc = Dsir.featureCounts(tgt, "doc_id", "text")
      val pc = Dsir.featureCounts(surv, "doc_id", "text")
      Dsir.resample(Dsir.weights(surv, "doc_id", "text",
          tc, Dsir.featureTotal(tc), pc, Dsir.featureTotal(pc)),
          "doc_id", SelectK)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("w_q"), col("key"))
    }),

    // CCNet head/middle/tail: score the holdout under the reference
    // LM, cut at the char-weighted tertiles of the milli-nat bin
    // histogram (≤30k driver scalars), label map-only
    "tx_ppl_buckets" -> ((s, dir) =>
      pplBucketLabels(Tables.documents(s, dir))),

    // The thirds check: per-bucket doc count, char mass, and share of
    // the labeled total (the scalar joins as a broadcast 1-row table)
    "tx_ppl_bucket_census" -> ((s, dir) => {
      val lab = pplBucketLabels(Tables.documents(s, dir))
        .filter(col("bucket").isNotNull)
      val tot = lab.agg(sum(col("chars")).cast("long").as("t"))
      lab.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("chars")).cast("long").as("chars_total"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_docs"), col("chars_total"),
          roundHalfAway(col("chars_total") / col("t"), 6).as("share"))
    }))

  /** Shared DSIR weighting: target model fitted on the `lang = 'en'`
    * slice, pool model on the whole corpus, weights for every pool
    * doc — both multinomials over the same hashed-bigram buckets.
    */
  private[graft] def dsirWeights(docs: DataFrame): DataFrame = {
    val tgt = docs.filter(col("lang") === TargetLang)
    val tc = Dsir.featureCounts(tgt, "doc_id", "text")
    val sc = Dsir.featureCounts(docs, "doc_id", "text")
    Dsir.weights(docs, "doc_id", "text",
      tc, Dsir.featureTotal(tc), sc, Dsir.featureTotal(sc))
  }

  /** The testdata's language set — pins the registered queries' class
    * list (the operator API takes any set).
    */
  private[graft] val IdLangs = Seq("de", "en", "es", "fr", "zh")

  /** Shared language-ID pipeline: per-language LMs on the 80% split,
    * holdout classified by exact-long argmax, true label joined back.
    */
  private[graft] def langidLabels(docs: DataFrame): DataFrame = {
    val models = LangClassifier.fit(refSplit(docs), "text", "lang", IdLangs)
    LangClassifier.classify(holdoutSplit(docs), "doc_id", "text", models)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("pred").as("pred_lang"),
        when(col("pred").isNotNull, col("pred") === col("lang"))
          .as("correct"))
  }

  /** Shared bucketing pipeline: reference LM on the 80% split, score
    * the holdout, char-weighted tertile cut at milli-nat bin grain.
    */
  private[graft] def pplBucketLabels(docs: DataFrame): DataFrame = {
    val ref = refSplit(docs)
    val ho = holdoutSplit(docs)
    val scored = LangModel.perplexity(ho, "doc_id", "text",
        LangModel.bigramCounts(ref, "text"),
        LangModel.vocabSize(ref, "text"), NllThreshold)
      .join(ho.select(col("doc_id"),
        length(col("text")).cast("long").as("chars")), Seq("doc_id"))
    PplBuckets.assign(scored, "chars")
      .select(col("doc_id"), col("nll"), col("bin"), col("chars"),
        col("bucket"))
  }

  private[graft] val TargetLang = "en"
  private[graft] val DsirK = 100
  /** pipeline_selection_v1 draw size. */
  private[graft] val SelectK = 50
  /** Streaming admission gate on the per-bigram mean log importance
    * ratio (nats). 0 = "more target-like than the pool average".
    */
  private[graft] val DsirGate = 0.0

  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"""

  /** The shared LM train+score CTE chain (through `agg`): reused by
    * the perplexity and bucketing oracles so the replay of the model
    * itself is literally the same SQL. `hoChars` carries the holdout
    * docs' char lengths for the bucket weighting.
    */
  private def lmCtes(hoChars: Boolean): String = {
    val chars = if (hoChars) ", length(text) AS chars" else ""
    s"""tr AS (SELECT $toksLower AS w FROM documents
       |            WHERE doc_id % $Mod != 0),
       |bgt AS (SELECT list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2
       |        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgt GROUP BY 1, 2),
       |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
       |v AS (SELECT count(DISTINCT t)::BIGINT AS v
       |      FROM (SELECT unnest(w) AS t FROM tr)),
       |ho AS (SELECT doc_id, $toksLower AS w$chars FROM documents
       |       WHERE doc_id % $Mod = 0),
       |hb AS (SELECT doc_id, list_extract(w, i) AS w1,
       |              list_extract(w, i + 1) AS w2
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM ho)),
       |terms AS (
       |  SELECT hb.doc_id,
       |         CASE WHEN c12.c12 IS NOT NULL
       |              THEN round(ln((c12.c12 + 1.0::DOUBLE) / (c1.c1 + v.v))
       |                         * 1000000.0::DOUBLE, 0)::BIGINT
       |              WHEN c1.c1 IS NOT NULL
       |              THEN round(ln(1.0::DOUBLE / (c1.c1 + v.v))
       |                         * 1000000.0::DOUBLE, 0)::BIGINT
       |              ELSE round(ln(1.0::DOUBLE / v.v)
       |                         * 1000000.0::DOUBLE, 0)::BIGINT END AS lq
       |  FROM hb LEFT JOIN c12 ON hb.w1 = c12.w1 AND hb.w2 = c12.w2
       |          LEFT JOIN c1 ON hb.w1 = c1.w1, v),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lq)::BIGINT AS sum_lq
       |        FROM terms GROUP BY 1)""".stripMargin
  }

  /** The full train+score replay; `admittedOnly` appends the gate
    * filter for the streaming twin.
    */
  private[graft] def perplexityOracle(admittedOnly: Boolean): String = {
    val gate = if (admittedOnly) "WHERE admit" else ""
    s"""WITH ${lmCtes(hoChars = false)}
       |SELECT * FROM (
       |  SELECT ho.doc_id,
       |         coalesce(agg.n_bigrams, 0) AS n_bigrams,
       |         coalesce(agg.sum_lq, 0) AS sum_lq,
       |         CASE WHEN agg.n_bigrams > 0
       |              THEN round(((-agg.sum_lq) / agg.n_bigrams)
       |                         / 1000000.0::DOUBLE, 6) END AS nll,
       |         coalesce(CASE WHEN agg.n_bigrams > 0
       |              THEN round(((-agg.sum_lq) / agg.n_bigrams)
       |                         / 1000000.0::DOUBLE, 6) END
       |            < ${NllThreshold}::DOUBLE, false) AS admit
       |  FROM ho LEFT JOIN agg USING (doc_id)) $gate""".stripMargin
  }

  /** Language-ID replay: one LM fit chain per language (counts,
    * derived context totals, vocab size), every holdout bigram scored
    * under ALL models off one stream, per-doc exact-long sums, and
    * the argmax CASE in sorted-language order (ties → smallest name,
    * matching the classifier's first-match fold). `shape` picks the
    * per-doc table ("docs") or the confusion census ("confusion").
    */
  private[graft] def langidOracle(shape: String): String = {
    val ls = IdLangs.sorted
    val fits = ls.map { l =>
      s"""tr_$l AS (SELECT $toksLower AS w FROM documents
         |          WHERE doc_id % $Mod != 0 AND lang = '$l'),
         |bg_$l AS (SELECT list_extract(w, i) AS w1,
         |                 list_extract(w, i + 1) AS w2
         |          FROM (SELECT w, unnest(range(1, len(w))) AS i
         |                FROM tr_$l)),
         |c12_$l AS (SELECT w1, w2, count(*) AS c FROM bg_$l GROUP BY 1, 2),
         |c1_$l AS (SELECT w1, sum(c)::BIGINT AS c1 FROM c12_$l GROUP BY 1),
         |v_$l AS (SELECT count(DISTINCT t)::BIGINT AS v
         |         FROM (SELECT unnest(w) AS t FROM tr_$l))""".stripMargin
    }.mkString(",\n")
    val arms = ls.map { l =>
      s"""CASE WHEN c12_$l.c IS NOT NULL
         |     THEN round(ln((c12_$l.c + 1.0::DOUBLE) / (c1_$l.c1 + v_$l.v))
         |                * 1000000.0::DOUBLE, 0)::BIGINT
         |     WHEN c1_$l.c1 IS NOT NULL
         |     THEN round(ln(1.0::DOUBLE / (c1_$l.c1 + v_$l.v))
         |                * 1000000.0::DOUBLE, 0)::BIGINT
         |     ELSE round(ln(1.0::DOUBLE / v_$l.v)
         |                * 1000000.0::DOUBLE, 0)::BIGINT END AS lq_$l"""
        .stripMargin
    }.mkString(",\n")
    val joins = ls.map(l =>
      s"""LEFT JOIN c12_$l ON hb.w1 = c12_$l.w1 AND hb.w2 = c12_$l.w2
         |  LEFT JOIN c1_$l ON hb.w1 = c1_$l.w1""".stripMargin)
      .mkString("\n  ")
    val vTables = ls.map(l => s"v_$l").mkString(", ")
    val sums = ls.map(l =>
      s"coalesce(sum(lq_$l)::BIGINT, 0) AS s_$l").mkString(", ")
    val zeroSums = ls.map(l => s"coalesce(agg.s_$l, 0) AS s_$l")
      .mkString(", ")
    val great = s"greatest(${ls.map(l => s"s_$l").mkString(", ")})"
    val predCase = "CASE " + ls.map(l =>
      s"WHEN s_$l = $great THEN '$l'").mkString(" ") + " END"
    val tail = shape match {
      case "docs" =>
        "SELECT doc_id, lang, pred_lang, correct FROM lab"
      case "confusion" =>
        "SELECT lang, pred_lang, count(*) AS n FROM lab GROUP BY 1, 2"
    }
    s"""WITH $fits,
       |ho AS (SELECT doc_id, $toksLower AS w FROM documents
       |       WHERE doc_id % $Mod = 0),
       |hb AS (SELECT doc_id, list_extract(w, i) AS w1,
       |              list_extract(w, i + 1) AS w2
       |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
       |             FROM ho)),
       |terms AS (
       |  SELECT hb.doc_id,
       |$arms
       |  FROM hb
       |  $joins, $vTables),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, $sums
       |        FROM terms GROUP BY 1),
       |w AS (SELECT ho.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
       |             $zeroSums
       |      FROM ho LEFT JOIN agg USING (doc_id)),
       |lab AS (
       |  SELECT w.doc_id, d.lang,
       |         CASE WHEN w.n_bigrams > 0 THEN $predCase END AS pred_lang,
       |         CASE WHEN w.n_bigrams > 0
       |              THEN ($predCase) = d.lang END AS correct
       |  FROM w JOIN documents d ON w.doc_id = d.doc_id)
       |$tail""".stripMargin
  }

  /** Full selection-pipeline replay: the Gopher rule chain over raw
    * text ([[TextQueries.gopherRulesCtes]] — shared verbatim with the
    * rule-battery oracle), the multilingual gate, both DSIR fits over
    * the survivor set, the exact-long weights, and the Gumbel-top-k
    * draw.
    */
  private[graft] def selectionOracle: String =
    s"""WITH raw AS (SELECT doc_id, text AS t FROM documents),
       |${TextQueries.gopherRulesCtes("raw")},
       |surv AS (SELECT d.doc_id, d.lang, d.text FROM grules g
       |         JOIN documents d ON g.doc_id = d.doc_id
       |         WHERE g.pass_words AND g.pass_mean_len AND g.pass_symbols
       |           AND g.pass_bullets AND g.pass_ellipsis AND g.pass_alpha
       |           AND (d.lang != '$TargetLang' OR g.stop_hits >= 1)),
       |${dsirCtes("surv", s"lang = '$TargetLang'")}
       |SELECT w.doc_id, d.lang, w.n_bigrams, w.w_q, $gumbelKeySql AS key
       |FROM w JOIN documents d ON w.doc_id = d.doc_id
       |ORDER BY key DESC, w.doc_id LIMIT $SelectK""".stripMargin

  /** CCNet bucketing replay: the shared LM score chain, the milli-nat
    * bin quantization, the char-weighted bin histogram, exact-long
    * tertile cutoffs (`cum · 3 ≥ total`), and the label. `shape` picks
    * the per-doc table ("docs") or the thirds census ("census").
    */
  private[graft] def bucketsOracle(shape: String): String = {
    val grain = PplBuckets.BinPerNat
    val maxBin = PplBuckets.MaxBin
    val tail = shape match {
      case "docs" =>
        "SELECT doc_id, nll, bin, chars, bucket FROM lab"
      case "census" =>
        s"""SELECT bucket, count(*) AS n_docs,
           |       sum(chars)::BIGINT AS chars_total,
           |       round(sum(chars)::DOUBLE / t.t, 6) AS share
           |FROM lab, (SELECT sum(chars)::BIGINT AS t FROM lab
           |           WHERE bucket IS NOT NULL) t
           |WHERE bucket IS NOT NULL GROUP BY bucket, t.t""".stripMargin
    }
    s"""WITH ${lmCtes(hoChars = true)},
       |b AS (
       |  SELECT ho.doc_id, ho.chars,
       |         CASE WHEN agg.n_bigrams > 0
       |              THEN round(((-agg.sum_lq) / agg.n_bigrams)
       |                         / 1000000.0::DOUBLE, 6) END AS nll,
       |         CASE WHEN agg.n_bigrams > 0
       |              THEN least(greatest(
       |                     round(round(((-agg.sum_lq) / agg.n_bigrams)
       |                                 / 1000000.0::DOUBLE, 6)
       |                           * ${grain}::DOUBLE, 0),
       |                     0.0::DOUBLE), ${maxBin}.0::DOUBLE)::INT
       |         END AS bin
       |  FROM ho LEFT JOIN agg USING (doc_id)),
       |hist AS (SELECT bin, sum(chars)::BIGINT AS w FROM b
       |         WHERE bin IS NOT NULL GROUP BY 1),
       |tot AS (SELECT sum(w)::BIGINT AS t FROM hist),
       |cum AS (SELECT bin, sum(w) OVER (ORDER BY bin)::BIGINT AS cw
       |        FROM hist),
       |cut1 AS (SELECT min(bin) AS v FROM cum, tot WHERE cw * 3 >= t),
       |cut2 AS (SELECT min(bin) AS v FROM cum, tot WHERE cw * 3 >= 2 * t),
       |lab AS (
       |  SELECT b.doc_id, b.nll, b.bin, b.chars,
       |         CASE WHEN b.bin IS NULL THEN NULL
       |              WHEN b.bin <= cut1.v THEN 'head'
       |              WHEN b.bin <= cut2.v THEN 'middle'
       |              ELSE 'tail' END AS bucket
       |  FROM b, cut1, cut2)
       |$tail""".stripMargin
  }

  /** Full DSIR replay: both hashed-multinomial fits (bucket counts +
    * totals over the SHARED feature space), the smoothed
    * log-frequency under each model per pool bigram occurrence, the
    * exact long difference, and — for the resample — the
    * hash-derived Gumbel key and the top-k cut.
    */
  private[graft] def dsirOracle(shape: String): String = {
    val tail = shape match {
      case "weights" =>
        "SELECT doc_id, n_bigrams, w_q, logratio FROM w"
      case "admitted" =>
        s"SELECT doc_id, n_bigrams, w_q, logratio FROM w " +
          s"WHERE logratio > ${DsirGate}::DOUBLE"
      case "topk" =>
        s"""SELECT w.doc_id, d.lang, w.n_bigrams, w.w_q, $gumbelKeySql AS key
           |FROM w JOIN documents d ON w.doc_id = d.doc_id
           |ORDER BY key DESC, w.doc_id LIMIT $DsirK""".stripMargin
    }
    s"""WITH ${dsirCtes("documents", s"lang = '$TargetLang'")}
       |$tail""".stripMargin
  }

  /** The hash-derived Gumbel perturbed key over the `w` CTE. */
  private def gumbelKeySql: String =
    s"""round(w.w_q / 1000000.0::DOUBLE +
       |             -ln(-ln((('0x' || substring(md5(w.doc_id::VARCHAR), 1, 8))
       |                      ::UBIGINT % ${Dsir.HashGrain} + 0.5::DOUBLE)
       |                     / ${Dsir.HashGrain})), 6)""".stripMargin

  /** The DSIR CTE chain (both fits + per-doc weights, ending in `w`)
    * over a source relation `src` supplying `(doc_id, lang, text)`;
    * `tgtPred` selects the target-domain slice of `src`. Shared by
    * the standalone DSIR oracles (src = documents) and gated
    * compositions (src = a survivors CTE).
    */
  private[graft] def dsirCtes(src: String, tgtPred: String): String = {
    val B = Dsir.Buckets
    def lqUnder(cTbl: String, tTbl: String) =
      s"""round(ln((coalesce($cTbl.c, 0) + 0.01::DOUBLE)
         |         / ($tTbl.t + 0.01::DOUBLE * $B))
         |      * 1000000.0::DOUBLE, 0)::BIGINT""".stripMargin
    s"""tb AS (
       |  SELECT ('0x' || substring(md5(list_extract(w, i) || ' ' ||
       |            list_extract(w, i + 1)), 1, 8))::UBIGINT % $B AS bucket
       |  FROM (SELECT w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT $toksLower AS w FROM $src
       |              WHERE $tgtPred))),
       |tc AS (SELECT bucket, count(*) AS c FROM tb GROUP BY 1),
       |tt AS (SELECT count(*) AS t FROM tb),
       |sb AS (
       |  SELECT ('0x' || substring(md5(list_extract(w, i) || ' ' ||
       |            list_extract(w, i + 1)), 1, 8))::UBIGINT % $B AS bucket
       |  FROM (SELECT w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT $toksLower AS w FROM $src))),
       |sc AS (SELECT bucket, count(*) AS c FROM sb GROUP BY 1),
       |st AS (SELECT count(*) AS t FROM sb),
       |pb AS (
       |  SELECT doc_id, ('0x' || substring(md5(list_extract(w, i) || ' ' ||
       |            list_extract(w, i + 1)), 1, 8))::UBIGINT % $B AS bucket
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
       |        FROM (SELECT doc_id, $toksLower AS w FROM $src))),
       |terms AS (
       |  SELECT pb.doc_id, ${lqUnder("tc", "tt")} AS lq_t,
       |         ${lqUnder("sc", "st")} AS lq_s
       |  FROM pb LEFT JOIN tc ON pb.bucket = tc.bucket
       |          LEFT JOIN sc ON pb.bucket = sc.bucket, tt, st),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |               sum(lq_t)::BIGINT AS st, sum(lq_s)::BIGINT AS ss
       |        FROM terms GROUP BY 1),
       |w AS (SELECT p.doc_id,
       |             coalesce(agg.n_bigrams, 0) AS n_bigrams,
       |             coalesce(agg.st, 0) - coalesce(agg.ss, 0) AS w_q,
       |             CASE WHEN agg.n_bigrams > 0
       |                  THEN round(((coalesce(agg.st, 0) - coalesce(agg.ss, 0))
       |                              / agg.n_bigrams) / 1000000.0::DOUBLE, 6)
       |             END AS logratio
       |      FROM (SELECT doc_id FROM $src) p
       |      LEFT JOIN agg USING (doc_id))""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "tx_lm_perplexity" -> perplexityOracle(admittedOnly = false),
    "tx_lm_persisted" -> perplexityOracle(admittedOnly = false),
    "sample_dsir_weights" -> dsirOracle("weights"),
    "sample_dsir_topk" -> dsirOracle("topk"),
    "tx_ppl_buckets" -> bucketsOracle("docs"),
    "tx_ppl_bucket_census" -> bucketsOracle("census"),
    "tx_langid_nb" -> langidOracle("docs"),
    "tx_langid_confusion" -> langidOracle("confusion"),
    "pipeline_selection_v1" -> selectionOracle)
}
