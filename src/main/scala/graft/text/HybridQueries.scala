package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.Scratch
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the round-7 retrieval/cleaning/
  * training extensions:
  *
  *  - `tx_hybrid_rrf` — hybrid retrieval: the BM25 more-like-this leg
  *    (stored posting index) and the embedding-cosine leg fused by
  *    reciprocal rank fusion ([[Retrieval.rrfFuse]]). The oracle
  *    replays BOTH legs end-to-end in DuckDB (the existing
  *    mlt/bruteforce oracle derivations, restricted to the shared
  *    corpus split) and then the integer-rank fusion — RRF's ranks-only
  *    arithmetic is why the whole cascade stays bit-replayable.
  *  - `dedup_strip_boilerplate` / `dedup_strip_incremental` —
  *    substring-level boilerplate REMOVAL
  *    ([[graft.dedup.Boilerplate.stripSpans]]): every occurrence of
  *    every word n-gram shared by ≥ minDf docs is masked out of the
  *    token stream (full token-level replay in SQL); the incremental
  *    form mines through the persisted gram-df index
  *    (build / O(delta) append / threshold-time fold) and must strip
  *    identically — oracle shared verbatim.
  *  - `pipeline_curation_v3` — the mine→mask→curate loop in one plan:
  *    strip, collapse the exact dups cleaning exposes, quality-gate
  *    the CLEANED text, per-split budgets.
  *  - `tx_quality_train` / `tx_quality_persisted` — the classifier
  *    trained in-engine ([[QualityModel.train]], quantized GD whose
  *    every update the oracle replays CTE-for-CTE) and the artifact
  *    lifecycle (save → validated load → score).
  *
  * Everything composes operators the engine already trusts (posting
  * index, brute-force cosine, native TopK, commonNgrams, the scoring
  * dataflow) — the new surface is the composition, so the oracles
  * deliberately re-derive everything from the raw tables rather than
  * trusting any intermediate.
  */
object HybridQueries {

  /** Query docs: ids below the split; corpus: the rest (same split as
    * tx_mlt_topk so the two lexical derivations stay comparable).
    */
  private[graft] val Split = 100
  private[graft] val HK = 5
  /** IVF geometry for the `_ivf` hybrid variant: 16 first-N-seeded
    * cells over the corpus embeddings, 4 probed per query — the same
    * geometry `ann_ivf_persisted` pins, so cell assignment replays in
    * the oracle. At real scale nCells grows with the corpus to hold
    * per-cell occupancy (and so per-probe work) constant.
    */
  private[graft] val IvfCells = 16
  private[graft] val IvfProbe = 4
  private val NGram = 5
  private val MinDf = 2
  private[graft] val TrainSteps = 3
  private[graft] val TrainLr = 1.0

  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"""
  private val toksRaw =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '')"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val ix = Scratch.dir("hybrid_index")
      Bm25.indexBuild(docs.filter(col("doc_id") >= Split),
        "doc_id", "text", ix)
      // localized probe (r9): the query side is micro-batch-sized and
      // broadcast by the probe anyway — one driver collect replaces
      // the bucket-list job and two broadcast-build jobs
      val lex = Bm25.moreLikeThisFromIndex(s,
          docs.filter(col("doc_id") < Split), "doc_id", "text", ix, HK,
          localizeProbe = true)
        .select(col("qid"), col("doc_id").as("doc"), col("rank"))
      val vec = graft.similarity.Ann.bruteForceTopK(
          emb.filter(col("vec_id") < Split),
          emb.filter(col("vec_id") >= Split), "vec_id", "embedding", HK)
        .select(col("qid"), col("vid").as("doc"), col("rank"))
      Retrieval.rrfFuse(lex, vec, HK)
    }),

    // The hybrid fusion with the SCALE-SAFE vector leg (r10): the
    // brute-force broadcast cosine above is the exact baseline, but
    // its per-query cost is corpus-proportional; this variant probes
    // a persisted IVF index instead — cell-partition-pruned reads,
    // O(queries × nProbe × corpus/nCells) — which is the leg a 100 TB
    // deployment runs. Deterministic first-N seeding + round-6 sims
    // make the approximate leg itself bit-replayable, so the oracle
    // replays the full cascade (assignment → probe → fusion), not a
    // recall bound.
    "tx_hybrid_rrf_ivf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val base = Scratch.dir("hybrid_ivf")
      Bm25.indexBuild(docs.filter(col("doc_id") >= Split),
        "doc_id", "text", s"$base/bm")
      // build returns the centroid set it stored (frozen until a
      // refresh): probing with it skips the centroid-table
      // read+collect this same process would otherwise re-pay
      val cents = graft.similarity.Ann.ivfIndexBuild(
        emb.filter(col("vec_id") >= Split), "vec_id", "embedding",
        IvfCells, s"$base/ivf")
      val lex = Bm25.moreLikeThisFromIndex(s,
          docs.filter(col("doc_id") < Split), "doc_id", "text",
          s"$base/bm", HK, localizeProbe = true)
        .select(col("qid"), col("doc_id").as("doc"), col("rank"))
      val vec = graft.similarity.Ann.ivfTopKFromIndex(
          emb.filter(col("vec_id") < Split), "vec_id", "embedding",
          s"$base/ivf", HK, IvfProbe, cents = Some(cents),
          pruneCells = true)
        .select(col("qid"), col("vid").as("doc"), col("rank"))
      Retrieval.rrfFuse(lex, vec, HK)
    }),

    "dedup_strip_boilerplate" -> ((s, dir) =>
      graft.dedup.Boilerplate.stripSpans(
        Tables.documents(s, dir), "doc_id", "text", NGram, MinDf)),

    // The mine made incremental: gram-df index built on one corpus
    // slice, grown by an O(delta) append of the other, boiler set
    // folded from the stored partials at threshold time — must strip
    // EXACTLY like the one-shot self-mine (oracle shared verbatim),
    // proving the partial-df fold (disjoint appends ⇒ sum = union df)
    "dedup_strip_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ix = Scratch.dir("gramix")
      graft.dedup.Boilerplate.gramIndexBuild(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", NGram, ix)
      graft.dedup.Boilerplate.gramIndexAppend(
        docs.filter(col("doc_id") < 250), "doc_id", "text", NGram, ix)
      graft.dedup.Boilerplate.stripWithBoiler(docs, "doc_id", "text",
        NGram, graft.dedup.Boilerplate.boilerFromIndex(s, ix, MinDf))
    }),

    // The quality classifier TRAINED in-engine: 3 full-batch
    // quantized-GD steps distilling the heuristic rule into the
    // hashed-linear model, labels and features both derived in-plan;
    // the oracle replays every update CTE-for-CTE (round-6 weights
    // make every sum order-free — see QualityModel.train scaladoc)
    "tx_quality_train" -> ((s, dir) => {
      import s.implicits._
      val (w, b) = QualityModel.train(Tables.documents(s, dir), "text",
        TrainSteps, TrainLr)
      (w.zipWithIndex.map { case (wt, i) => (i, wt) } :+ (-1 -> b))
        .toDF("slot", "weight")
    }),

    // Artifact lifecycle closed: train → persist → load → score.
    // The loaded weight table must score every doc exactly as the
    // in-memory result of training would (validated read, same
    // one-Project scoring plan)
    "tx_quality_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = Scratch.dir("qmodel")
      val (w0, b0) = QualityModel.train(docs, "text", TrainSteps, TrainLr)
      QualityModel.saveModel(s, w0, b0, m)
      val (w, b) = QualityModel.loadModel(s, m)
      val q6 = roundHalfAway(QualityModel.scoreWith(col("text"), w, b), 6)
      docs.select(col("doc_id"), q6.as("clf_quality"),
        (q6 > 0.5).as("clf_keep"))
    }),

    // The mine→mask→curate loop closed as ONE declarative plan:
    // boilerplate strip → drop fully-stripped docs → collapse the
    // exact duplicates the CLEANING ITSELF exposes (two docs that
    // differed only in boilerplate become identical — the Lee et al.
    // motivation, and non-degenerate here: 45 of 500 sf0.01 docs
    // collapse) → quality gate on the CLEANED text → per-split
    // doc/token budgets with the drop census.
    "pipeline_curation_v3" -> ((s, dir) => {
      val stripped = graft.dedup.Boilerplate.stripSpans(
          Tables.documents(s, dir), "doc_id", "text", NGram, MinDf)
        .filter(col("clean_text") =!= "")
      val keepers = stripped.groupBy(col("clean_text"))
        .agg(min(col("doc")).as("doc"))
        .select(col("doc"), lit(true).as("is_keeper"))
      val b = graft.functions.Binning.knuthBucket(col("doc"))
      val q = graft.text.Text.qualityScore(col("clean_text"))
      stripped.join(keepers, Seq("doc"), "left")
        .withColumn("is_keeper", coalesce(col("is_keeper"), lit(false)))
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(
          sum(when(col("is_keeper") && q >= 0.45, 1L).otherwise(0L))
            .as("n_docs"),
          sum(when(!col("is_keeper"), 1L).otherwise(0L))
            .as("n_exact_collapsed"),
          sum(when(col("is_keeper") && q < 0.45, 1L).otherwise(0L))
            .as("n_quality_dropped"),
          sum(when(col("is_keeper") && q >= 0.45,
            (col("n_tokens") - col("n_removed")).cast("long"))
            .otherwise(0L)).as("ws_tokens"),
          sum(when(col("is_keeper") && q >= 0.45,
            graft.text.Text.bpeTokenCount(col("clean_text")).cast("long"))
            .otherwise(0L)).as("bpe_tokens"))
    }))

  val oracleSql: Map[String, String] = Map(
    "tx_hybrid_rrf" -> hybridRrfOracle(
      s"""sims AS (SELECT q.vec_id AS qid, c2.vec_id AS doc,
         |           round(list_dot_product(q.v, c2.v)
         |             / (q.nrm * c2.nrm), 6) AS sim
         |         FROM nv q JOIN nv c2
         |           ON q.vec_id < $Split AND c2.vec_id >= $Split),
         |vec AS (SELECT qid, doc, rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, doc) AS INT) AS rank FROM sims)
         |  WHERE rank <= $HK)""".stripMargin),

    // same lexical leg + fusion; the vector leg replays the IVF
    // cascade (first-N seeding, idx-DESC tie on assignment, nProbe
    // probed cells, round-6 candidate sims) — the ann_ivf_persisted
    // derivation restricted to the hybrid corpus split
    "tx_hybrid_rrf_ivf" -> hybridRrfOracle(
      s"""cents AS (
         |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS idx,
         |         v AS cv, nrm AS cn
         |  FROM nv WHERE vec_id >= $Split ORDER BY vec_id LIMIT $IvfCells),
         |csims AS (
         |  SELECT nv.vec_id, cents.idx,
         |         list_dot_product(nv.v, cents.cv) / (nv.nrm * cents.cn)
         |           AS sim
         |  FROM nv, cents),
         |assigned AS (
         |  SELECT vec_id, idx AS cell FROM (
         |    SELECT vec_id, idx, row_number() OVER (
         |             PARTITION BY vec_id ORDER BY sim DESC, idx DESC) AS rn
         |    FROM csims WHERE vec_id >= $Split) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS qid, idx AS cell FROM (
         |    SELECT vec_id, idx, row_number() OVER (
         |             PARTITION BY vec_id ORDER BY sim DESC, idx DESC) AS rn
         |    FROM csims WHERE vec_id < $Split) WHERE rn <= $IvfProbe),
         |cand AS (
         |  SELECT DISTINCT p.qid, a.vec_id AS doc,
         |         round(list_dot_product(q.v, c2.v) / (q.nrm * c2.nrm), 6)
         |           AS sim
         |  FROM probes p
         |  JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.qid
         |  JOIN nv q ON q.vec_id = p.qid
         |  JOIN nv c2 ON c2.vec_id = a.vec_id),
         |vec AS (SELECT qid, doc, rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, doc) AS INT) AS rank FROM cand)
         |  WHERE rank <= $HK)""".stripMargin),

    "dedup_strip_boilerplate" -> stripOracle,

    // full replay of the 3-step quantized GD: step 1 closed-form
    // (w=0, b=0 ⇒ p = 0.5 exactly), steps 2-3 recompute z from the
    // previous weight table. Every sum is over exact 1e-6 multiples
    // (round-before-sum + round-6 weight updates), so no GROUP BY
    // order anywhere can move a value — see QualityModel.train.
    "tx_quality_train" -> {
      val B = QualityModel.Buckets
      s"""WITH $trainCtes
         |SELECT r.i::INT AS slot, coalesce(w3.w, 0.0) AS weight
         |FROM range(0, $B) r(i) LEFT JOIN w3 ON w3.slot = r.i
         |UNION ALL
         |SELECT -1, (SELECT b FROM b3v)""".stripMargin
    },

    // train → persist → load → score: the loaded artifact must score
    // every doc exactly as the in-memory trained weights would —
    // the oracle chains the full training replay into the scoring
    // replay (w3 weights are round-6 multiples, so the per-doc sum
    // is order-free and plain SUM/GROUP BY replays the HOF fold)
    "tx_quality_persisted" ->
      s"""WITH $trainCtes,
         |sw4 AS (SELECT doc_id, sum(coalesce(w3.w, 0.0)) AS sw
         |        FROM stok LEFT JOIN w3 USING (slot) GROUP BY 1),
         |alld AS (SELECT doc_id, len($toksLower)::BIGINT AS n
         |         FROM documents),
         |q AS (SELECT alld.doc_id,
         |        round(1.0 / (1.0 + exp(-(CASE WHEN alld.n > 0
         |          THEN (SELECT b FROM b3v) + coalesce(sw4.sw, 0.0) / alld.n
         |          ELSE (SELECT b FROM b3v) END))), 6) AS qv
         |      FROM alld LEFT JOIN sw4 USING (doc_id))
         |SELECT doc_id, qv AS clf_quality, qv > 0.5 AS clf_keep
         |FROM q""".stripMargin,

    // the grown index must mine the identical boiler set, so the
    // strip replay is shared verbatim with the one-shot form
    "dedup_strip_incremental" -> stripOracle,


    "pipeline_curation_v3" -> {
      val bpePat = Text.BpePattern.replace("'", "''")
      s"""WITH strip AS ($stripOracle),
         |ne AS (SELECT doc, n_tokens, n_removed, clean_text
         |       FROM strip WHERE clean_text != ''),
         |k AS (SELECT clean_text, min(doc) AS kdoc FROM ne GROUP BY 1),
         |f0 AS (SELECT ne.doc, ne.n_tokens, ne.n_removed,
         |         ne.clean_text AS text, (ne.doc = k.kdoc) AS is_keeper
         |       FROM ne JOIN k USING (clean_text)),
         |f AS (SELECT *, (${graft.text.TextQueries.qualitySql}) AS qv,
         |        CASE WHEN (doc % 100) * 61 % 100 < 80 THEN 'train'
         |             WHEN (doc % 100) * 61 % 100 < 90 THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM f0)
         |SELECT split,
         |  sum(CASE WHEN is_keeper AND qv >= 0.45 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n_docs,
         |  sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END)
         |    ::BIGINT AS n_exact_collapsed,
         |  sum(CASE WHEN is_keeper AND qv < 0.45 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n_quality_dropped,
         |  sum(CASE WHEN is_keeper AND qv >= 0.45
         |           THEN n_tokens - n_removed ELSE 0 END)
         |    ::BIGINT AS ws_tokens,
         |  sum(CASE WHEN is_keeper AND qv >= 0.45
         |           THEN len(regexp_extract_all(text, '$bpePat'))
         |           ELSE 0 END)::BIGINT AS bpe_tokens
         |FROM f GROUP BY 1""".stripMargin
    })

  /** The hybrid-RRF replay, parameterized on the VECTOR leg: `vecCtes`
    * must be a CTE chain ending in `vec(qid, doc, rank ≤ HK)` and may
    * reference the normalized-embedding CTE `nv`. The lexical BM25
    * leg and the integer-rank RRF fusion are shared verbatim between
    * the brute-force and IVF variants — only the candidate generation
    * differs, which is exactly the engine-side contract too.
    */
  private def hybridRrfOracle(vecCtes: String): String =
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |           WHERE doc_id >= $Split),
       |p0 AS (SELECT doc_id, len($toksLower)::BIGINT AS dl,
       |         unnest($toksLower) AS term FROM c),
       |p AS (SELECT term, doc_id, dl, count(*)::BIGINT AS tf
       |      FROM p0 GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |                 avg(len($toksLower))::DOUBLE AS avgdl
       |          FROM c),
       |df AS (SELECT term, count(*)::DOUBLE AS qdf FROM p GROUP BY 1),
       |qt AS (SELECT doc_id AS qid,
       |         unnest(list_distinct($toksLower)) AS term
       |       FROM documents WHERE doc_id < $Split),
       |contrib AS (
       |  SELECT qt.qid, p.doc_id AS doc,
       |         round(ln(1.0 + (n - qdf + 0.5) / (qdf + 0.5)) * tf
       |           * (${Bm25.K1} + 1.0)
       |           / (tf + ${Bm25.K1} * (1.0 - ${Bm25.B}
       |              + ${Bm25.B} * dl / avgdl)), 6) AS cr
       |  FROM qt JOIN p USING (term) JOIN df USING (term)
       |  CROSS JOIN stats),
       |sc AS (SELECT qid, doc, round(sum(cr), 6) AS score
       |       FROM contrib GROUP BY 1, 2),
       |lex AS (SELECT qid, doc, rank FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc) AS INT) AS rank FROM sc)
       |  WHERE rank <= $HK),
       |nv AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |                               embedding::DOUBLE[])) AS nrm
       |       FROM embeddings),
       |$vecCtes,
       |f AS (SELECT coalesce(l.qid, v.qid) AS qid,
       |        coalesce(l.doc, v.doc) AS doc,
       |        coalesce(l.rank, 0) AS lex_rank,
       |        coalesce(v.rank, 0) AS vec_rank,
       |        coalesce((1.0::DOUBLE) / (l.rank + ${Retrieval.RrfC}),
       |                 0.0::DOUBLE)
       |        + coalesce((1.0::DOUBLE) / (v.rank + ${Retrieval.RrfC}),
       |                   0.0::DOUBLE) AS rrf_raw
       |      FROM lex l FULL JOIN vec v
       |        ON l.qid = v.qid AND l.doc = v.doc)
       |SELECT qid, doc, lex_rank, vec_rank,
       |       round(rrf_raw, 6) AS rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf_raw DESC, doc) AS INT) AS rank FROM f)
       |WHERE rank <= $HK""".stripMargin

  /** The 3-step quantized-GD replay as a reusable CTE chain (through
    * `w3`/`b3v`): shared by the weight-table oracle and the
    * persisted-artifact scoring oracle.
    */
  private lazy val trainCtes: String = {
      val lr = TrainLr
      val B = QualityModel.Buckets
      s"""d AS (
         |  SELECT doc_id, $toksLower AS tk, len($toksLower)::BIGINT AS n,
         |         (CASE WHEN (${TextQueries.qualitySql}) >= 0.45
         |               THEN 1.0 ELSE 0.0 END) AS y
         |  FROM documents WHERE len($toksLower) > 0),
         |nn AS (SELECT count(*)::DOUBLE AS nd FROM d),
         |stok AS (
         |  SELECT doc_id, y, n,
         |         (('0x' || substring(md5(t), 1, 8))::UBIGINT % $B)::INT
         |           AS slot
         |  FROM (SELECT doc_id, y, n, unnest(tk) AS t FROM d)),
         |g1 AS (SELECT slot, sum(round((0.5 - y) / n, 6)) AS g
         |       FROM stok GROUP BY 1),
         |w1 AS (SELECT slot, round(0.0 - $lr * g / nd, 6) AS w
         |       FROM g1, nn),
         |b1v AS (SELECT round(0.0 - $lr *
         |          (SELECT sum(round(0.5 - y, 6)) FROM d) / nd, 6) AS b
         |        FROM nn),
         |sw2 AS (SELECT doc_id, sum(coalesce(w1.w, 0.0)) AS sw
         |        FROM stok LEFT JOIN w1 USING (slot) GROUP BY 1),
         |e2 AS (SELECT d.doc_id, d.y, d.n,
         |         round(1.0 / (1.0 + exp(-((SELECT b FROM b1v)
         |           + sw2.sw / d.n))), 6) - d.y AS err
         |       FROM d JOIN sw2 USING (doc_id)),
         |g2 AS (SELECT s.slot, sum(round(e2.err / e2.n, 6)) AS g
         |       FROM stok s JOIN e2 USING (doc_id) GROUP BY 1),
         |w2 AS (SELECT coalesce(w1.slot, g2.slot) AS slot,
         |         round(coalesce(w1.w, 0.0)
         |           - $lr * coalesce(g2.g, 0.0) / nd, 6) AS w
         |       FROM w1 FULL JOIN g2 ON w1.slot = g2.slot, nn),
         |b2v AS (SELECT round((SELECT b FROM b1v) - $lr *
         |          (SELECT sum(round(err, 6)) FROM e2) / nd, 6) AS b
         |        FROM nn),
         |sw3 AS (SELECT doc_id, sum(coalesce(w2.w, 0.0)) AS sw
         |        FROM stok LEFT JOIN w2 USING (slot) GROUP BY 1),
         |e3 AS (SELECT d.doc_id, d.y, d.n,
         |         round(1.0 / (1.0 + exp(-((SELECT b FROM b2v)
         |           + sw3.sw / d.n))), 6) - d.y AS err
         |       FROM d JOIN sw3 USING (doc_id)),
         |g3 AS (SELECT s.slot, sum(round(e3.err / e3.n, 6)) AS g
         |       FROM stok s JOIN e3 USING (doc_id) GROUP BY 1),
         |w3 AS (SELECT coalesce(w2.slot, g3.slot) AS slot,
         |         round(coalesce(w2.w, 0.0)
         |           - $lr * coalesce(g3.g, 0.0) / nd, 6) AS w
         |       FROM w2 FULL JOIN g3 ON w2.slot = g3.slot, nn),
         |b3v AS (SELECT round((SELECT b FROM b2v) - $lr *
         |          (SELECT sum(round(err, 6)) FROM e3) / nd, 6) AS b
         |        FROM nn)""".stripMargin
  }

  private lazy val stripOracle: String =
    stripOracleFor(NGram, MinDf, "TRUE", "TRUE")

  /** Full token-level strip replay, parameterized: the boiler set is
    * mined over `mineFilter` docs and the strip applied to
    * `stripFilter` docs (both TRUE for the batch self-mine form; a
    * split pair for the streaming-admission twin).
    */
  private[graft] def stripOracleFor(n: Int, minDf: Int,
                                    mineFilter: String,
                                    stripFilter: String): String =
      s"""WITH t AS (SELECT doc_id, $toksRaw AS tk FROM documents),
         |g AS (SELECT doc_id, (i - 1)::BIGINT AS start,
         |        list_aggregate(tk[i:i+${n - 1}], 'string_agg', ' ')
         |          AS ngram
         |      FROM t, unnest(range(1, len(tk) - ${n - 2})) AS u(i)),
         |boiler AS (SELECT ngram FROM (
         |    SELECT ngram, count(DISTINCT doc_id) AS nd FROM g
         |    WHERE $mineFilter GROUP BY 1)
         |  WHERE nd >= $minDf),
         |sg AS (SELECT * FROM g WHERE $stripFilter),
         |hits AS (SELECT sg.doc_id, sg.ngram, sg.start
         |         FROM sg JOIN boiler USING (ngram)),
         |cov AS (SELECT doc_id, p
         |        FROM hits, unnest(range(start, start + $n)) AS r(p)
         |        GROUP BY 1, 2),
         |spans AS (SELECT doc_id, count(DISTINCT ngram)::INT AS n_spans
         |          FROM hits GROUP BY 1),
         |st AS (SELECT * FROM t WHERE $stripFilter),
         |pos AS (SELECT doc_id, (i - 1)::BIGINT AS p, tk[i] AS tok
         |        FROM st, unnest(range(1, len(tk) + 1)) AS u(i)),
         |kept AS (SELECT pos.doc_id, pos.p, pos.tok
         |         FROM pos LEFT JOIN cov
         |           ON pos.doc_id = cov.doc_id AND pos.p = cov.p
         |         WHERE cov.p IS NULL),
         |agg AS (SELECT doc_id,
         |          string_agg(tok, ' ' ORDER BY p) AS clean_text
         |        FROM kept GROUP BY 1),
         |rm AS (SELECT doc_id, count(*)::INT AS n_removed
         |       FROM cov GROUP BY 1)
         |SELECT st.doc_id AS doc, len(st.tk)::INT AS n_tokens,
         |       coalesce(rm.n_removed, 0) AS n_removed,
         |       coalesce(spans.n_spans, 0) AS n_spans,
         |       coalesce(agg.clean_text, '') AS clean_text
         |FROM st LEFT JOIN rm USING (doc_id)
         |LEFT JOIN spans USING (doc_id)
         |LEFT JOIN agg USING (doc_id)""".stripMargin
}
