package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spans

/**
 * Span-predicate (theta/interval) joins (reference: spanner/join.py). Each
 * operator is a plain declarative inner join: `doc_id` equality plus the
 * span predicate.
 *
 * The reference reduces these joins to equi-joins by blocking; here the
 * [[graft.plans.SpanJoinRewrite]] optimizer rule does that, and
 * [[graft.GraftExtensions]] injects it into every engine session. The rule
 * explodes both sides into fixed-width character blocks (overlap, contains)
 * or replicates one side per gap value (adjacency), so Catalyst plans a hash
 * join on `(doc_id, key)` instead of comparing every span pair within a
 * document. Without the extension the results are the same, but the join is
 * not blocked.
 */
object SpanJoin {

  /**
   * Pairs (first, second) of token spans with
   * `first.end_tok + gap == second.begin_tok`, `gap ∈ [minGap, maxGap]`
   * (`adjacent_join`, reference: spanner/join.py:28-85).
   *
   * Inputs: DataFrames with `doc_id` and a token-span struct column.
   * Output: doc_id, first, second.
   */
  def adjacentJoin(first: DataFrame, second: DataFrame,
      minGap: Int = 0, maxGap: Int = 0,
      firstCol: String = "span", secondCol: String = "span"): DataFrame =
    spanJoin(first, second, firstCol, secondCol, Nil, (a, b) => {
      val gap = b("begin_tok") - a("end_tok")
      gap >= minGap && gap <= maxGap
    })

  /**
   * All pairs of overlapping spans (`overlap_join`, reference:
   * spanner/join.py:88-171), one output row per overlapping input row pair.
   *
   * @param carryCols extra FIRST-side columns carried through the join
   *        (narrow payload like an entity type). Carrying them costs only
   *        their width times the ~1-2 block fan-out; recovering them
   *        afterwards costs a whole extra join of the first relation onto
   *        the (larger) pair output — carry wins whenever the payload is
   *        small.
   */
  def overlapJoin(first: DataFrame, second: DataFrame,
      firstCol: String = "span", secondCol: String = "span",
      carryCols: Seq[String] = Nil): DataFrame =
    spanJoin(first, second, firstCol, secondCol, carryCols, spans.overlaps)

  /**
   * All pairs where the first span contains the second (`contain_join`,
   * reference: spanner/join.py:174-203): overlap and contains.
   */
  def containJoin(first: DataFrame, second: DataFrame,
      firstCol: String = "span", secondCol: String = "span"): DataFrame =
    spanJoin(first, second, firstCol, secondCol, Nil,
      (a, b) => spans.overlaps(a, b) && spans.containsSpan(a, b))

  private def spanJoin(first: DataFrame, second: DataFrame,
      firstCol: String, secondCol: String, carryCols: Seq[String],
      predicate: (Column, Column) => Column): DataFrame = {
    val f = first.select(
      col("doc_id") +: col(firstCol).as("first") +: carryCols.map(col): _*)
    val s = second.select(col("doc_id").as("doc_id2"), col(secondCol).as("second"))
    f.join(s, col("doc_id") === col("doc_id2") &&
        predicate(col("first"), col("second")))
      .select(col("doc_id") +: col("first") +: col("second") +:
        carryCols.map(col): _*)
  }

  /**
   * Shift every span of a span column from region-relative to
   * document-relative offsets (`unpack_semijoin`, reference:
   * spanner/join.py:206-244), given a column holding the region begin.
   */
  def unpackSemijoin(df: DataFrame, spanCol: String, offsetCol: String): DataFrame =
    df.withColumn(spanCol, spans.shift(col(spanCol), col(offsetCol)))
}
