package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.Scratch
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the assembly layer between a
  * curated corpus and a training run: sequence packing, token-budget
  * dataset mixing, line-level corpus dedup, BM25 retrieval (from
  * scratch, from the persisted posting index, and the more-like-this
  * doc-as-query form), and the hashed-linear quality classifier.
  *
  * Oracle style: everything except pack_first_fit re-derives the full
  * computation in DuckDB SQL (window cumsums, inverted index, BM25
  * formula, md5-bucketed model scoring) and hash-matches row-for-row.
  * pack_first_fit is partitioning-dependent in its bin ids, so its
  * oracle is a CONTRACT: the invariants first-fit guarantees
  * (doc/token conservation, zero cap violations, ≤ one half-empty bin
  * per partition, the exact oversize census) are computed in-plan and
  * compared against the oracle's independent derivation — the same
  * in-plan-literal technique as a37/a24.
  */
object PackingQueries {

  private val SeqLen = 512
  private val Cap = 96L
  private val Parts = 32
  private val Budget = 800L
  private val NTerms = 20
  private val K = 5
  private[graft] val MltSplit = 100
  private[graft] val MltK = 3

  private val bpeTok: String = {
    val pat = Text.BpePattern.replace("'", "''")
    s"len(regexp_extract_all(text, '$pat'))::BIGINT"
  }
  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"""
  private def sqlList(s: Seq[String]): String =
    s.map(w => s"'$w'").mkString("[", ", ", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GPT-style concat-and-chunk placement over the corpus token stream
    "pack_concat_chunk" -> ((s, dir) =>
      Packing.concatChunk(Tables.documents(s, dir), "doc_id", "text", SeqLen)),

    // Deterministic epoch shuffle: reproducible pseudo-random training
    // order, positions assigned by the distributed-rank shape (no
    // global sort/window); the oracle replays the identical md5-prefix
    // key and a global ROW_NUMBER over (key, id)
    "sample_epoch_shuffle" -> ((s, dir) =>
      Packing.epochShuffle(Tables.documents(s, dir), "doc_id", epoch = 3)
        .select(col("doc_id"), col("skey"), col("pos"))),

    // Partition-local first-fit-decreasing packing; contract output
    "pack_first_fit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), Text.bpeTokenCount(col("text")).as("n_tok"))
      val packed = Packing.firstFitPack(docs, "doc_id", "n_tok", Cap, Parts)
      val bins = packed.groupBy("bin_id").agg(
        sum("n_tokens").as("fill"), count(lit(1)).as("n_in_bin"))
      bins.agg(
        sum(col("n_in_bin")).as("n_docs"),
        sum(col("fill")).as("total_tokens"),
        // a multi-doc bin over cap is a first-fit bug (singleton
        // over-cap bins are the documented oversize route)
        sum(when(col("fill") > Cap && col("n_in_bin") > 1, 1L).otherwise(0L))
          .as("cap_violations"),
        // first-fit invariant: two bins ≤ half-cap in one partition
        // would have merged when the second opened
        (sum(when(col("fill") <= Cap / 2, 1L).otherwise(0L)) <= Parts)
          .as("low_fill_bins_ok"),
        sum(when(col("fill") > Cap && col("n_in_bin") === 1, col("n_in_bin"))
          .otherwise(0L)).as("oversize_docs"))
    }),

    // Per-source quality-ranked admission under a token budget,
    // threshold-refined (see Packing.mixTokenBudget scaladoc)
    "mix_token_budget" -> ((s, dir) =>
      Packing.mixTokenBudget(
        Tables.documents(s, dir)
          .withColumn("n_tok", Text.bpeTokenCount(col("text"))),
        "source", "doc_id", Text.qualityScore(col("text")), "n_tok",
        Budget)),

    // Line-level exact dedup census per document
    "dedup_paragraphs" -> ((s, dir) =>
      graft.dedup.LineDedup.docStats(Tables.documents(s, dir), "doc_id", "text")),

    // BM25 top-k retrieval for the auto-generated query-term workload
    "tx_bm25_topk" -> ((s, dir) =>
      Bm25.topK(Tables.documents(s, dir), "doc_id", "text", NTerms, K)
        .select(col("term"), col("doc_id"), col("score"), col("tf"),
          col("dl"), col("rank"))),

    // Persisted posting-index lifecycle: build + O(delta) append, then
    // a bucket-pruned probe — must score identically to the
    // from-scratch BM25 (same oracle), proving the stats fold and the
    // stored-df derivation
    "tx_bm25_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ix = Scratch.dir("bm25_index")
      Bm25.indexBuild(docs.filter(col("doc_id") < 400), "doc_id", "text", ix)
      Bm25.indexAppend(docs.filter(col("doc_id") >= 400), "doc_id", "text", ix)
      Bm25.topKFromIndex(s, Bm25.indexQueryTerms(s, ix, NTerms), ix, K)
        .select(col("term"), col("doc_id"), col("score"), col("tf"),
          col("dl"), col("rank"))
    }),

    // BM25 more-like-this: incoming docs retrieve their lexically
    // closest corpus docs from the stored posting index — fuzzy-dedup
    // candidate generation; per-term contributions rounded BEFORE the
    // sum so both engines total exact 6-decimal values in any order
    "tx_mlt_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ix = Scratch.dir("mlt_index")
      Bm25.indexBuild(docs.filter(col("doc_id") >= MltSplit),
        "doc_id", "text", ix)
      Bm25.moreLikeThisFromIndex(s,
        docs.filter(col("doc_id") < MltSplit), "doc_id", "text", ix, MltK,
        localizeProbe = true)
        .select(col("qid"), col("doc_id").as("cdoc"), col("score"),
          col("n_shared"), col("rank"))
    }),

    // Model-based quality scoring: hashed-linear classifier, map-only
    "tx_quality_model" -> ((s, dir) => {
      val q6 = roundHalfAway(QualityModel.score(col("text")), 6)
      Tables.documents(s, dir).select(col("doc_id"),
        q6.as("clf_quality"), (q6 > 0.5).as("clf_keep"))
    }))

  val oracleSql: Map[String, String] = Map(
    "sample_epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         ('0x' || substring(md5(doc_id::VARCHAR || ':3'), 1, 8))
        |           ::UBIGINT::BIGINT AS skey
        |  FROM documents)
        |SELECT doc_id, skey,
        |       (row_number() OVER (ORDER BY skey, doc_id) - 1)::BIGINT
        |         AS pos
        |FROM k""".stripMargin,
    "pack_concat_chunk" ->
      s"""WITH t AS (SELECT doc_id, $bpeTok AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        (sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS tok_start
         |      FROM t)
         |SELECT doc_id, n_tokens, tok_start,
         |       (tok_start // $SeqLen)::BIGINT AS first_seq,
         |       (CASE WHEN n_tokens > 0
         |             THEN (tok_start + n_tokens - 1) // $SeqLen
         |             ELSE tok_start // $SeqLen END)::BIGINT AS last_seq,
         |       (CASE WHEN n_tokens > 0
         |             THEN (tok_start + n_tokens - 1) // $SeqLen
         |             ELSE tok_start // $SeqLen END
         |        - tok_start // $SeqLen + 1)::BIGINT AS n_seqs
         |FROM c""".stripMargin,
    "pack_first_fit" ->
      s"""WITH t AS (SELECT $bpeTok AS n FROM documents)
         |SELECT count(*)::BIGINT AS n_docs,
         |       sum(n)::BIGINT AS total_tokens,
         |       0::BIGINT AS cap_violations,
         |       true AS low_fill_bins_ok,
         |       sum(CASE WHEN n > $Cap THEN 1 ELSE 0 END)::BIGINT
         |         AS oversize_docs
         |FROM t""".stripMargin,
    "mix_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             round(${TextQueries.qualitySql}, 6) AS q6,
         |             $bpeTok AS n_tokens
         |           FROM documents),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
         |        ORDER BY q6 DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT source, doc_id, q6, n_tokens
         |FROM c WHERE cum <= $Budget""".stripMargin,
    "dedup_paragraphs" ->
      """WITH a AS (SELECT doc_id, regexp_split_to_array(text, chr(10)) AS arr
        |           FROM documents),
        |l0 AS (SELECT doc_id, arr,
        |         unnest(range(1, len(arr) + 1)) AS i FROM a),
        |l AS (SELECT doc_id, (i - 1)::BIGINT AS pos, arr[i] AS line
        |      FROM l0 WHERE trim(arr[i]) != ''),
        |k AS (SELECT doc_id, pos, length(line)::BIGINT AS line_chars,
        |        row_number() OVER (PARTITION BY line
        |          ORDER BY doc_id, pos) = 1 AS kept
        |      FROM l)
        |SELECT doc_id, count(*)::BIGINT AS n_lines,
        |       sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dup_removed,
        |       sum(CASE WHEN kept THEN 0 ELSE line_chars END)::BIGINT
        |         AS chars_removed
        |FROM k GROUP BY 1""".stripMargin,
    // end-to-end replay of the hashed-linear scoring: md5 bucket →
    // weight → IN-ORDER mean pool (list_sum folds left-to-right like
    // Spark's aggregate, so the double sum is bit-identical) → sigmoid;
    // the keep label compares the ROUNDED score so a libm exp() ulp
    // can't flip it on one engine only
    "tx_quality_model" -> {
      val b = QualityModel.Buckets
      val w = s"((('0x' || substring(md5(t), 1, 8))::UBIGINT % $b)" +
        s"::DOUBLE / $b - 0.5)"
      s"""WITH s AS (
         |  SELECT doc_id, $toksLower AS tk FROM documents),
         |z AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tk) > 0
         |              THEN ${QualityModel.Bias} +
         |                   list_sum(list_transform(tk, t -> $w)) / len(tk)
         |              ELSE ${QualityModel.Bias} END AS zv
         |  FROM s)
         |SELECT doc_id,
         |       round(1.0 / (1.0 + exp(-zv)), 6) AS clf_quality,
         |       round(1.0 / (1.0 + exp(-zv)), 6) > 0.5 AS clf_keep
         |FROM z""".stripMargin
    },
    // the stored-index probe replays the identical from-scratch BM25
    "tx_bm25_persisted" -> bm25Oracle,
    "tx_bm25_topk" -> bm25Oracle,
    "tx_mlt_topk" -> mltOracle)

  /** Full replay of moreLikeThisFromIndex: corpus = docs >= MltSplit,
    * queries = docs < MltSplit, per-term contribution rounded before
    * the sum (exact 6-decimal addition on both engines).
    */
  private[graft] lazy val mltOracle: String =
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |           WHERE doc_id >= $MltSplit),
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
       |       FROM documents WHERE doc_id < $MltSplit),
       |contrib AS (
       |  SELECT qt.qid, p.doc_id AS cdoc,
       |         round(ln(1.0 + (n - qdf + 0.5) / (qdf + 0.5)) * tf
       |           * (${Bm25.K1} + 1.0)
       |           / (tf + ${Bm25.K1} * (1.0 - ${Bm25.B}
       |              + ${Bm25.B} * dl / avgdl)), 6) AS cr
       |  FROM qt JOIN p USING (term) JOIN df USING (term)
       |  CROSS JOIN stats),
       |sc AS (SELECT qid, cdoc, round(sum(cr), 6) AS score,
       |              count(*)::BIGINT AS n_shared
       |       FROM contrib GROUP BY 1, 2)
       |SELECT qid, cdoc, score, n_shared, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, cdoc) AS INT) AS rank FROM sc)
       |WHERE rank <= $MltK""".stripMargin

  private lazy val bm25Oracle: String = {
      val stop = sqlList(Text.enStop ++ Text.ptStop ++ Text.esStop)
      s"""WITH p0 AS (SELECT doc_id, len($toksLower)::BIGINT AS dl,
         |              unnest($toksLower) AS term FROM documents),
         |p AS (SELECT term, doc_id, dl, count(*)::BIGINT AS tf
         |      FROM p0 GROUP BY 1, 2, 3),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 avg(len($toksLower))::DOUBLE AS avgdl
         |          FROM documents),
         |q AS (SELECT term, count(*)::DOUBLE AS qdf FROM p
         |      WHERE NOT list_contains($stop, term) AND length(term) >= 4
         |      GROUP BY 1 ORDER BY count(*) DESC, term LIMIT $NTerms),
         |sc AS (SELECT p.term, p.doc_id,
         |         round(ln(1.0 + (n - qdf + 0.5) / (qdf + 0.5)) * tf
         |           * (${Bm25.K1} + 1.0)
         |           / (tf + ${Bm25.K1} * (1.0 - ${Bm25.B}
         |              + ${Bm25.B} * dl / avgdl)), 6) AS score,
         |         p.tf, p.dl
         |       FROM p JOIN q USING (term) CROSS JOIN stats)
         |SELECT term, doc_id, score, tf, dl, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY term
         |    ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
         |WHERE rank <= $K""".stripMargin
  }
}
