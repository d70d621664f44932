// Bridge package: see PortableHash.scala — Column↔Expression construction
// requires sql-package access in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared shape of the round-22 fused SCALAR quality expressions: one
  * double out, never null, NULL input handled inside the kernel (the
  * replaced Column forms fold NULL text through when/least into a
  * non-null default, so `nullSafeEval` would be wrong here). */
abstract class QualityScalarExpr extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  /** Fully-qualified static kernel, e.g. "...QualityStatsExpr.scoreRawOf". */
  protected def kernel: String
  protected def evalKernel(s: UTF8String): Double

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    evalKernel(child.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        double ${ev.value} = $kernel(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
}

/**
 * Fused UNROUNDED quality score (round-22): the exact arithmetic of
 * [[graft.operators.TextAnalysis.qualityScore]] — length credit,
 * punctuation penalty, word-shape and stopword credits — computed in the
 * counting pass itself. The round-21 form put the counts in a struct and
 * referenced it ~9 times; whole-stage codegen eliminates common
 * subexpressions only inside ProjectExec, so every FILTER consumer
 * (cleanDocs, q88/q145/q146-style quality gates) re-scanned the document
 * ~9× per row (measured: q69 0.37→0.77 s). One expression, one scan. The
 * final `round(_, 4)` stays at Column level (single reference now), so
 * Spark's own Round does the rounding — nothing numeric is re-implemented.
 *
 * NULL text mirrors the Column form's fold exactly: `least(NULL/200, 1.0)`
 * = 1.0 and every `when` falls to its otherwise → 0.84 before rounding.
 * QualityStatsParitySpec pins scalar == regex.
 */
case class QualityScoreRawExpr(child: Expression) extends QualityScalarExpr {
  override protected def kernel: String =
    "org.apache.spark.sql.graft.QualityStatsExpr.scoreRawOf"
  override protected def evalKernel(s: UTF8String): Double =
    QualityStatsExpr.scoreRawOf(s)
  override protected def withNewChildInternal(newChild: Expression): QualityScoreRawExpr =
    copy(child = newChild)
}

/** Fused punctuation ratio — `when(n_chars > 0, n_punct/n_chars).otherwise(0.0)`
  * in one byte scan (no word extraction at all). NULL text → 0.0, exactly
  * the when-fold. */
case class PunctRatioExpr(child: Expression) extends QualityScalarExpr {
  override protected def kernel: String =
    "org.apache.spark.sql.graft.QualityStatsExpr.punctRatioOf"
  override protected def evalKernel(s: UTF8String): Double =
    QualityStatsExpr.punctRatioOf(s)
  override protected def withNewChildInternal(newChild: Expression): PunctRatioExpr =
    copy(child = newChild)
}

/** Fused mean word length — `when(n_words > 0, word_len_sum/n_words)
  * .otherwise(0.0)` in one lowered-byte scan (no punct/stopword work).
  * NULL text → 0.0. */
case class MeanWordLenExpr(child: Expression) extends QualityScalarExpr {
  override protected def kernel: String =
    "org.apache.spark.sql.graft.QualityStatsExpr.meanWordLenOf"
  override protected def evalKernel(s: UTF8String): Double =
    QualityStatsExpr.meanWordLenOf(s)
  override protected def withNewChildInternal(newChild: Expression): MeanWordLenExpr =
    copy(child = newChild)
}

/**
 * Single-pass corpus-quality kernels behind the fused scalar expressions.
 * They replace four separate passes per document — a words regex, a
 * `regexp_replace(text, "[^P]", "")` measured by length, an `aggregate`
 * over the word array, and an `array_contains` stopword filter per word.
 *
 * Count semantics, each matching the replaced form exactly:
 *  - n_chars   = length(text)  (code points of the ORIGINAL text);
 *  - n_punct   = ASCII-punctuation chars of the original text (the char
 *    class of Tokenize.PunctClass; multi-byte code points can never
 *    match, so a byte scan is exact);
 *  - n_words / word_len_sum / n_stop_en over [[WordShingles.wordsOf]]
 *    (identical word extraction to `words()` — same lowercase, same
 *    [a-z0-9] runs; words are ASCII so byte length == char length).
 */
object QualityStatsExpr {

  /** StopwordsEn as byte arrays for allocation-free comparison. */
  private lazy val stopsEn: Array[Array[Byte]] =
    graft.operators.TextAnalysis.StopwordsEn
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  /** Punctuation count: one byte scan of the ORIGINAL text (the class is
    * pure ASCII, so multi-byte code points can never match). */
  private def punctCount(s: UTF8String): Long = {
    var nPunct = 0L
    val nb = s.numBytes()
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b >= 33 && TokenizeGenerator.isPunct(b.toChar)) nPunct += 1
      i += 1
    }
    nPunct
  }

  private def isStopEn(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    var i = 0
    while (i < stopsEn.length) {
      val st = stopsEn(i)
      if (st.length == len) {
        var j = 0
        while (j < len && bytes(off + j) == st(j)) j += 1
        if (j == len) return true
      }
      i += 1
    }
    false
  }

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** (n_words, word_len_sum, n_stop_en) over the lowered byte run scan —
    * identical word extraction to [[WordShingles.wordsOf]] (same
    * UTF8String.toLowerCase, same [a-z0-9] runs), without materializing
    * the word views. Words are ASCII by construction: bytes == chars. */
  private def wordCounts(s: UTF8String, withStops: Boolean): (Long, Long, Long) = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    var nWords = 0L
    var lenSum = 0L
    var nStop = 0L
    var i = 0
    while (i < n) {
      if (isWordByte(bytes(i))) {
        val b = i
        i += 1
        while (i < n && isWordByte(bytes(i))) i += 1
        nWords += 1
        lenSum += i - b
        if (withStops && isStopEn(bytes, b, i - b)) nStop += 1
      } else i += 1
    }
    (nWords, lenSum, nStop)
  }

  /** [[QualityScoreRawExpr]] kernel — the score arithmetic with the
    * `round(_, 4)` left to the Column layer. NULL text follows the Column
    * form's fold: least(NULL, 1.0)=1.0, every `when` → otherwise. */
  def scoreRawOf(s: UTF8String): Double = {
    var lengthCredit = 1.0 // least(NULL/200, 1.0) = 1.0 on NULL text
    var pr = 0.0
    var mwl = 0.0
    var sr = 0.0
    if (s != null) {
      val (nWords, lenSum, nStop) = wordCounts(s, withStops = true)
      val nChars = s.numChars().toLong
      lengthCredit = math.min(nWords.toDouble / 200.0, 1.0)
      if (nChars > 0) pr = punctCount(s).toDouble / nChars.toDouble
      if (nWords > 0) {
        mwl = lenSum.toDouble / nWords.toDouble
        sr = nStop.toDouble / nWords.toDouble
      }
    }
    val punctPenalty = math.max(0.0, 1.0 - pr * 5.0)
    val wordShape = if (mwl >= 2.0 && mwl <= 12.0) 1.0 else 0.5
    val stopCredit = if (sr > 0.05) 1.0 else 0.7
    lengthCredit * 0.4 + punctPenalty * 0.2 + wordShape * 0.2 + stopCredit * 0.2
  }

  /** [[PunctRatioExpr]] kernel. NULL text → 0.0 (the when-fold). */
  def punctRatioOf(s: UTF8String): Double =
    if (s == null) 0.0
    else {
      val nChars = s.numChars().toLong
      if (nChars > 0) punctCount(s).toDouble / nChars.toDouble else 0.0
    }

  /** [[MeanWordLenExpr]] kernel. NULL text → 0.0 (the when-fold). */
  def meanWordLenOf(s: UTF8String): Double =
    if (s == null) 0.0
    else {
      val (nWords, lenSum, _) = wordCounts(s, withStops = false)
      if (nWords > 0) lenSum.toDouble / nWords.toDouble else 0.0
    }

  def scoreRaw(c: Column): Column =
    ExpressionUtils.column(QualityScoreRawExpr(ExpressionUtils.expression(c)))
  def punctRatio(c: Column): Column =
    ExpressionUtils.column(PunctRatioExpr(ExpressionUtils.expression(c)))
  def meanWordLen(c: Column): Column =
    ExpressionUtils.column(MeanWordLenExpr(ExpressionUtils.expression(c)))
}
