package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** The Gopher / MassiveText quality-rule battery (Rae et al.,
  * arXiv:2112.11446, table A1) — the de-facto standard heuristic
  * filter set for pretraining corpora, of which the reference repo's
  * fixed thresholds (containers/spark-etl/streaming_etl.py:115-153) are
  * a two-rule special case. Every rule is a higher-order-function
  * fold over the tokens/lines of ONE row: the whole battery is a
  * single codegen'd Project — map-only, zero shuffles, zero UDFs —
  * so at 100 TB it costs one pass over the text column, fused by
  * whole-stage codegen with whatever scan feeds it.
  *
  * Ratios are rounded to 6 decimals BEFORE the threshold compare
  * (and before publication), so the flags and the published numbers
  * are bit-identical across engines — the [[Text.qualityScore]]
  * discipline.
  */
object Gopher {

  val MinWords = 50
  val MaxWords = 100000
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 10.0
  /** Max share of words that are '#' or ellipsis symbols. */
  val MaxSymbolRatio = 0.1
  /** Max share of lines starting with a bullet. */
  val MaxBulletLineRatio = 0.9
  /** Max share of lines ending with an ellipsis. */
  val MaxEllipsisLineRatio = 0.3
  /** Min share of words containing ≥1 alphabetic char. */
  val MinAlphaWordRatio = 0.8
  /** Doc must contain at least [[MinStopHits]] distinct of these. */
  val StopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val MinStopHits = 2

  /** Per-doc rule report: the measured statistics (ratios rounded to
    * 6), one boolean per rule, and the conjunction `keep`. Totality:
    * token-free docs fail the word-count, mean-length, alpha and
    * stop-word rules (no evidence of quality ≠ quality) and pass the
    * purely-negative symbol/bullet/ellipsis screens vacuously.
    */
  def report(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = Text.tokens(t)
    val ltoks = Text.tokens(lower(t))
    val lines = split(t, "\n")
    val words = size(toks).cast("long")
    val chars = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val dots3 = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", "")))
      / lit(3)).cast("long")
    val uniEll = length(t) - length(regexp_replace(t, "…", ""))
    val symbols = (hashes + uniEll).cast("long") + dots3
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("•", "-", "*"))).cast("long")
    val ellipsisLines = size(filter(lines, l =>
      endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
      .cast("long")
    val alphaWords = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(filter(
      array(StopWords.map(lit): _*), w => array_contains(ltoks, w)))
      .cast("long")

    val meanLen = when(words > 0, roundHalfAway(chars / words, 6))
    val symbolRatio = when(words > 0, roundHalfAway(symbols / words, 6))
    val bulletRatio = roundHalfAway(bulletLines / nLines, 6) // nLines ≥ 1 always
    val ellipsisRatio = roundHalfAway(ellipsisLines / nLines, 6)
    val alphaRatio = when(words > 0, roundHalfAway(alphaWords / words, 6))

    val passWords = words >= MinWords && words <= MaxWords
    val passMeanLen = coalesce(
      meanLen >= MinMeanWordLen && meanLen <= MaxMeanWordLen, lit(false))
    val passSymbols = coalesce(symbolRatio <= MaxSymbolRatio, lit(true))
    val passBullets = bulletRatio <= MaxBulletLineRatio
    val passEllipsis = ellipsisRatio <= MaxEllipsisLineRatio
    val passAlpha = coalesce(alphaRatio >= MinAlphaWordRatio, lit(false))
    val passStop = stopHits >= MinStopHits

    docs.select(col(idCol).as("doc_id"),
      words.as("words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_ratio"),
      ellipsisRatio.as("ellipsis_ratio"), alphaRatio.as("alpha_ratio"),
      stopHits.as("stop_hits"),
      passWords.as("pass_words"), passMeanLen.as("pass_mean_len"),
      passSymbols.as("pass_symbols"), passBullets.as("pass_bullets"),
      passEllipsis.as("pass_ellipsis"), passAlpha.as("pass_alpha"),
      passStop.as("pass_stop"),
      (passWords && passMeanLen && passSymbols && passBullets &&
        passEllipsis && passAlpha && passStop).as("keep"))
  }
}
