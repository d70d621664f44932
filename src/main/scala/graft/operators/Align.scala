package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.spans

/**
 * Snap character spans to a tokenization
 * (`TokenSpanArray.align_to_tokens`, reference: array/token_span.py:729-802).
 *
 * Exactly the reference's algorithm, which is already relational: two
 * equi-joins on `(doc_id, char offset)` — token begin == span begin and
 * token end == span end — with zero-length tokens dropped first
 * (token_span.py:767) and a validation pass for spans that don't land on
 * token boundaries (the reference's `indicator=True` anti-join check,
 * token_span.py:774-791). Both joins shuffle on `doc_id` once; Catalyst
 * broadcasts the smaller side when possible.
 */
object Align {

  /**
   * @param tokens   standard tokens relation (doc_id, token_id, span)
   * @param spansDf  relation with doc_id and a char-span column `on`
   * @param validate when true (the DEFAULT, matching the reference's
   *                 ValueError semantics), throw if any span fails to align.
   *                 This is an EXTRA eager pass over the join — scale-
   *                 sensitive callers opt out with `validate = false`, which
   *                 silently drops misaligned spans (documented contract).
   * @return `spansDf` with `on` replaced by a token-span struct
   */
  def alignToTokens(tokens: DataFrame, spansDf: DataFrame, on: String = "span",
      validate: Boolean = true): DataFrame = {
    val toks = tokens.filter(col("span")("begin") < col("span")("end"))
    val beginToks = toks.select(col("doc_id").as("b_doc_id"),
      col("token_id").as("begin_tok"), col("span")("begin").as("b_off"))
    val endToks = toks.select(col("doc_id").as("e_doc_id"),
      (col("token_id") + 1).as("end_tok"), col("span")("end").as("e_off"))

    // Both sides scale with the corpus, and the token side is explode-
    // derived: Catalyst's Generate passes its CHILD's size estimate
    // through, so a multi-GiB token projection can be estimated under the
    // static broadcast threshold. MEASURED at the 100x smoke tier: a
    // 2.6 GiB driver broadcast (or an outright driver OOM) right here —
    // 209 s vs 86 s once broadcast was off. Pin these two joins to
    // sort-merge: the plan that is correct at every scale. Cost at bench
    // scale (sf0.1): ~1.3x on the queries through this path — accepted;
    // a plan that is fast in a scale window and OOMs outside it is wrong.
    // (README gives the config-level guard for the general class.)
    val joined = spansDf
      .join(beginToks.hint("merge"), col("doc_id") === col("b_doc_id") &&
        col(on)("begin") === col("b_off"), "left")
      .join(endToks.hint("merge"), col("doc_id") === col("e_doc_id") &&
        col(on)("end") === col("e_off"), "left")

    if (validate) {
      val bad = joined.filter(col("begin_tok").isNull || col("end_tok").isNull)
      val n = bad.limit(1).count()
      if (n > 0) {
        val ex = bad.select(col("doc_id"), col(on)).take(5).mkString(", ")
        throw new IllegalArgumentException(
          s"Some spans are not aligned to token boundaries, e.g.: $ex")
      }
    }

    val keep = spansDf.columns.filter(_ != on).map(col)
    joined.filter(col("begin_tok").isNotNull && col("end_tok").isNotNull)
      .select(keep.toIndexedSeq :+ spans.tokenSpan(col("begin_tok"), col("end_tok"),
        col(on)("begin"), col(on)("end")).as(on): _*)
  }
}
