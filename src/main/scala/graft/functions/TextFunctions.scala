package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for the training-data pipeline: token counting,
  * language-ID (stopword n-gram heuristic), quality scoring, and document
  * fingerprinting. The counts come from one native codegen kernel,
  * [[graft.expressions.TextStatsExpr]] (see [[textStatsCol]]); the
  * arithmetic on top of them is built-in expression trees with
  * DuckDB-mirrorable semantics, so every query has a SQL oracle. The
  * fingerprint is the native
  * [[graft.expressions.GraftFunctions.rollingFingerprint]].
  *
  * Reference analogues: full-text assembly + cleaning
  * (service/HtmlContentExtractionService.java:148-189), content analysis
  * (service/XmlValidationService.java:320-334).
  */
object TextFunctions {

  // Stopword inventories for the n-gram language heuristic. Kept tiny and
  // high-frequency so the scan stays cheap at 100 TB scale.
  val EnStop = Seq("the", "and", "of", "to", "is", "in", "that", "with", "for", "was")
  val DeStop = Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "für", "den")
  val FrStop = Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des")

  /** The fused per-row stats array (ExprOps.textStats — `[n_chars,
    * n_alpha, n_punct, n_toks, n_bpe, en, de, fr]`): ONE native pass
    * instead of ~9 interpreted regex traversals per row. Every function
    * below derives from it; the double arithmetic and null behavior are
    * those of the regex chains it replaced (FunctionsSpec pins the whole
    * family against them on corpus + hostile rows).
    *
    * Inline, the derived CASE expressions read the array from
    * conditional branches, which codegen subexpression elimination does
    * not share, so each such reference is its own kernel call. A query that
    * derives SEVERAL of these functions from one row therefore projects
    * the array once behind the plan barrier —
    * `KernelBarrier.withKernel(df, "st__" -> textStatsCol(col("text")))`
    * — and uses the `...FromStats` variants against the `st__` column. */
  def textStatsCol(text: Column): Column =
    graft.expressions.GraftFunctions.textStats(text, EnStop, DeStop, FrStop)

  /** Whitespace token count; blank → 0. */
  def tokenCount(text: Column): Column = tokenCountFromStats(textStatsCol(text))

  def tokenCountFromStats(st: Column): Column =
    element_at(st, 4).cast("int")

  /** BPE-ish subword-count estimate: letter runs, digits, and individual
    * punctuation marks each count as one token. */
  def bpeTokenCount(text: Column): Column = bpeTokenCountFromStats(textStatsCol(text))

  def bpeTokenCountFromStats(st: Column): Column =
    element_at(st, 5).cast("int")

  /** Language-ID by stopword evidence; ties / no evidence → "unknown".
    * Priority on exact ties: en > de > fr (deterministic). */
  def langId(text: Column): Column = langIdFromStats(text, textStatsCol(text))

  def langIdFromStats(text: Column, st: Column): Column = {
    val en = element_at(st, 6)
    val de = element_at(st, 7)
    val fr = element_at(st, 8)
    when(text.isNull, lit("unknown"))
      .when(en === 0 && de === 0 && fr === 0, lit("unknown"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Quality score in [0,1]: alpha-char ratio, punctuation penalty,
    * stopword evidence, and a length sanity term. Deterministic double,
    * rounded to 4 decimals so the DuckDB oracle hashes identically. */
  def qualityScore(text: Column): Column = {
    val st = textStatsCol(text)
    val len = element_at(st, 1).cast("double")
    val alpha = element_at(st, 2).cast("double")
    val punct = element_at(st, 3).cast("double")
    val toks = element_at(st, 4).cast("double")
    val stops = (element_at(st, 6) + element_at(st, 7) + element_at(st, 8))
      .cast("double")
    val alphaRatio = when(len === 0, 0.0).otherwise(alpha / len)
    val punctPenalty = when(len === 0, 1.0).otherwise(least(punct * 10.0 / len, lit(1.0)))
    val stopRatio = when(toks === 0, 0.0).otherwise(least(stops * 4.0 / toks, lit(1.0)))
    val lenOk = when(len >= 200 && len <= 20000, 1.0)
      .when(len >= 50, 0.5).otherwise(0.0)
    round(alphaRatio * 0.35 + (lit(1.0) - punctPenalty) * 0.15 +
      stopRatio * 0.3 + lenOk * 0.2, 4)
  }

  /** [[qualityScore]] scaled to ×10⁴ integer space with explicit half-up
    * rounding (`floor(x·10⁴ + 0.5)`) instead of `round(double, 4)`:
    * `round` is half-up in Spark but build-dependent in DuckDB, so a score
    * sitting on a 5th-decimal ulp boundary flips the 4th decimal between
    * engines (observed: spark=0.5388 vs oracle=0.5387). `floor` on the
    * identical IEEE double is bit-deterministic in both. The double itself
    * is identical because both sides compute the same formula in the same
    * operation order (the r06 kernel swap changed only where the INTEGER
    * counts come from, not one double op). */
  def qualityScoreX1e4(text: Column): Column =
    qualityScoreX1e4FromStats(textStatsCol(text))

  def qualityScoreX1e4FromStats(st: Column): Column = {
    val len = element_at(st, 1).cast("double")
    val alpha = element_at(st, 2).cast("double")
    val punct = element_at(st, 3).cast("double")
    val toks = element_at(st, 4).cast("double")
    val stops = (element_at(st, 6) + element_at(st, 7) + element_at(st, 8))
      .cast("double")
    val alphaTerm = when(len === 0, 0.0).otherwise(alpha / len * 0.35)
    val punctTerm = when(len === 0, 0.0)
      .otherwise((lit(1.0) - least(punct * 10.0 / len, lit(1.0))) * 0.15)
    val stopTerm = when(toks === 0, 0.0)
      .otherwise(least(stops * 4.0 / toks, lit(1.0)) * 0.3)
    val lenTerm = when(len >= 200 && len <= 20000, 0.2)
      .when(len >= 50, 0.1).otherwise(0.0)
    floor((alphaTerm + punctTerm + stopTerm + lenTerm) * 10000.0 + 0.5)
      .cast("bigint")
  }

  /** Shift-tolerant 64-bit content fingerprint (native codegen expr). */
  def fingerprint(text: Column, window: Int = 16): Column =
    graft.expressions.GraftFunctions.rollingFingerprint(text, window)
}
