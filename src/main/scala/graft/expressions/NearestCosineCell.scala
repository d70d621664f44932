// Bridge package: see PortableHash.scala — Column↔Expression construction
// requires sql-package access in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * MAX-COSINE cell routing against a small fixed centroid matrix — the
 * coarse-quantizer assignment kernel of every IVF-PQ index build (raw,
 * residual and OPQ). [[NearestCentroid]]'s shape (matrix as one
 * referenced object, single tree node, two-level primitive loop)
 * applied to the cosine metric the IVF family routes by: as an
 * expression, routing + residual + encode stay one shuffle-free
 * projection, with the raw vector never crossing an exchange.
 *
 * Arithmetic parity (strict-oracle contract): cosine is
 * [[CosineSim.cos]]'s interleaved left-to-right fold (dot, |a|², |b|²
 * accumulated per dim; zero norm → 0.0), identical to the DuckDB
 * oracle's list_reduce mirror; ties go to the smallest cell id (the
 * oracle's `ORDER BY cos DESC, cell_id` rn=1). Null vector → null.
 */
case class NearestCosineCell(child: Expression, cents: Seq[(Int, Seq[Double])])
    extends UnaryExpression with ExpectsInputTypes {

  require(cents.nonEmpty, "centroid matrix must not be empty")
  require(cents.map(_._2.length).distinct.size == 1,
    "coarse-quantizer centroids must share one dimension, got lengths " +
      cents.map(_._2.length).distinct.sorted.mkString(","))

  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  @transient private lazy val ids: Array[Int] = cents.map(_._1).toArray
  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_._2.toArray).toArray

  override protected def nullSafeEval(v: Any): Any =
    NearestCosineCell.nearest(v.asInstanceOf[ArrayData], ids, matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("cids", ids, "int[]")
    val matRef = ctx.addReferenceObj("cents", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.NearestCosineCell.nearest($v, $idsRef, $matRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCosineCell =
    copy(child = newChild)
}

object NearestCosineCell {

  /** cell id of the max-cosine centroid; [[CosineSim.cos]]'s fold per
    * centroid, ties to the smallest cell id. A vector whose dimension
    * differs from the quantizer's FAILS here rather than routing on a
    * truncated prefix — silent truncation would build a wrong (and
    * oracle-divergent) index from the first mismatched row (ADVICE r18). */
  def nearest(vec: ArrayData, ids: Array[Int], matrix: Array[Array[Double]]): Int = {
    if (vec.numElements() != matrix(0).length)
      throw new IllegalArgumentException(
        s"NearestCosineCell: vector dimension ${vec.numElements()} != " +
          s"coarse-quantizer dimension ${matrix(0).length}")
    var bestC = Double.NegativeInfinity
    var bestCid = Int.MaxValue
    var j = 0
    while (j < matrix.length) {
      val c = matrix(j)
      var dab = 0.0
      var daa = 0.0
      var dbb = 0.0
      var i = 0
      val n = c.length
      while (i < n) {
        val x = vec.getDouble(i)
        val y = c(i)
        dab += x * y
        daa += x * x
        dbb += y * y
        i += 1
      }
      val d = math.sqrt(daa) * math.sqrt(dbb)
      val cosv = if (d > 0) dab / d else 0.0
      if (cosv > bestC || (cosv == bestC && ids(j) < bestCid)) {
        bestC = cosv
        bestCid = ids(j)
      }
      j += 1
    }
    bestCid
  }

  /** Column wrapper: the engine's public surface for the expression. */
  def apply(vec: Column, cents: Seq[(Int, Array[Double])]): Column =
    ExpressionUtils.column(NearestCosineCell(
      ExpressionUtils.expression(vec), cents.map { case (c, v) => (c, v.toSeq) }))
}
