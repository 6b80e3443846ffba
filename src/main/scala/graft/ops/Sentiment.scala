package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lexicon-average sentiment (SURVEY.md §2 op 10; reference
  * reddit_etl_proj/etl_pipeline.py:78 — TextBlob mean token polarity).
  *
  * Same algorithm shape as the reference (mean per-token polarity, 0.0 when
  * no token matches), but over a small deterministic lexicon that ships as
  * code, so the DuckDB oracle reproduces it exactly (SURVEY.md §7.4).
  *
  * Physical design: NOT explode + join + groupBy (that costs a shuffle per
  * pass). The lexicon is tiny, so we inline it as a map literal and score
  * each row with `transform`/`filter`/`aggregate` over the token array —
  * one codegen'd projection, zero shuffles, linear scan at any scale.
  *
  * Scores are exact binary fractions (eighths) so summation is exact and
  * order-insensitive — Spark and DuckDB produce bit-identical doubles.
  */
object Sentiment {

  /** (word, polarity) — polarities are multiples of 1/8 in [-1, 1]. */
  val Lexicon: Seq[(String, Double)] = Seq(
    "fast" -> 0.875, "good" -> 0.75, "great" -> 0.875, "spark" -> 0.5,
    "merge" -> 0.25, "stream" -> 0.125, "big" -> 0.375, "value" -> 0.25,
    "slow" -> -0.875, "bad" -> -0.75, "error" -> -0.875, "dup" -> -0.5,
    "small" -> -0.25, "drop" -> -0.375, "fail" -> -0.75, "dirty" -> -0.625)

  private val lexMap: Column =
    map(Lexicon.flatMap { case (w, s) => Seq(lit(w), lit(s)) }: _*)

  /** Mean polarity of lexicon tokens in [-1, 1]; 0.0 when none match.
    * Input is expected to be cleaned text (Text.cleanText).
    *
    * Single `aggregate` pass with a (sum, count) struct accumulator: a
    * filter-then-average formulation would reference the matched-scores
    * array three times, and Catalyst does not hoist loop-invariant
    * subexpressions out of lambda bodies — the whole tokenize pipeline
    * would re-run per reference. Adding 0.0 for unmatched tokens is exact
    * (scores are binary fractions), so the result is bit-identical to the
    * oracle's filter-then-average.
    */
  def score(cleaned: Column): Column =
    Num.floorAt(
      aggregate(Text.tokens(cleaned),
        struct(lit(0.0).as("s"), lit(0).as("n")),
        (acc, t) => {
          val v = element_at(lexMap, t)
          struct(
            (acc.getField("s") + coalesce(v, lit(0.0))).as("s"),
            (acc.getField("n") + when(v.isNotNull, 1).otherwise(0)).as("n"))
        },
        acc => when(acc.getField("n") > 0,
          acc.getField("s") / acc.getField("n")).otherwise(lit(0.0))),
      4)

  /** Full DuckDB expression (no lateral needed): computes the matched-score
    * list inline. `cleanedExpr` must be a DuckDB expression yielding the
    * cleaned text. Mirrors `score` exactly.
    */
  def scoreSqlInline(cleanedExpr: String): String = {
    val caseExpr = Lexicon.map { case (w, s) =>
      s"WHEN '$w' THEN CAST($s AS DOUBLE)"
    }.mkString(" ")
    val matched =
      s"list_filter(list_transform(list_filter(string_split($cleanedExpr, ' '), t -> t <> ''), t -> CASE t $caseExpr ELSE NULL END), s -> s IS NOT NULL)"
    Num.floorAtSql(
      s"CASE WHEN len($matched) > 0 THEN list_sum($matched) / len($matched) ELSE 0.0 END",
      4)
  }
}
