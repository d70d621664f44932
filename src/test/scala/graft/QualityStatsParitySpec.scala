package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The fused quality-stats scalars must reproduce the four separate
  * passes they replaced bit-for-bit: punct ratio (regex-replace
  * length), mean word length (aggregate over the word array), and the
  * composite quality score — including null text, empty text, all-punct
  * text and unicode. */
class QualityStatsParitySpec extends GraftSuite {

  private lazy val df = {
    import spark.implicits._
    Seq(
      "",
      " ",
      "plain words here and the of to in",
      "punct!only?::;;",
      "no stopwords whatsoever xylophone quartz",
      "the the the the the",
      "MIXED Case With THE stopword",
      "unicode café naïve 世界 the",
      "a b c d e f",
      "supercalifragilisticexpialidocious antidisestablishmentarianism",
      ("the quick brown fox jumps over the lazy dog " * 30).trim,
      (0 until 127).map(_.toChar).mkString,
      null.asInstanceOf[String]
    ).toDF("text")
  }

  private def collectCol(c: org.apache.spark.sql.Column): Seq[Any] =
    df.select(c.as("v")).collect().map(_.get(0)).toSeq

  test("punctRatio == regex form") {
    assert(collectCol(TextAnalysis.punctRatio(col("text"))) ==
      collectCol(TextAnalysis.punctRatioRegex(col("text"))))
  }

  test("meanWordLen == aggregate form") {
    assert(collectCol(TextAnalysis.meanWordLen(col("text"))) ==
      collectCol(TextAnalysis.meanWordLenAgg(col("text"))))
  }

  test("qualityScore == four-pass form") {
    assert(collectCol(TextAnalysis.qualityScore(col("text"))) ==
      collectCol(TextAnalysis.qualityScoreRegex(col("text"))))
  }

  // the motivating context: the score used as a FILTER predicate (where
  // whole-stage codegen does no subexpression elimination) must select
  // the same rows as the four-pass form
  test("qualityScore as a filter predicate selects identical rows") {
    val a = df.filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      .collect().map(_.getString(0)).toSeq
    val b = df.filter(TextAnalysis.qualityScoreRegex(col("text")) >= 0.5)
      .collect().map(_.getString(0)).toSeq
    assert(a == b && a.nonEmpty)
  }
}
