package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.Similarity

/** The one IVF cell-routing rule every IVF-PQ index build shares: max
  * cosine, ties to the smallest cell id, checked on [[Similarity.ivfPqIndex]]
  * against a driver-side brute force — exact ties, an all-zero vector, a
  * NULL vector and a repeated id included. */
class IvfRoutingSpec extends GraftSuite {

  private val Dim = 8

  /** Max cosine by the interleaved left fold (dot, |a|², |b|² per dim;
    * zero norm → 0.0), ties to the smallest cell id. */
  private def bruteCell(v: Array[Double], cents: Seq[(Int, Array[Double])]): Int =
    cents.map { case (cid, c) =>
      var dab = 0.0; var daa = 0.0; var dbb = 0.0
      var i = 0
      while (i < v.length) {
        dab += v(i) * c(i); daa += v(i) * v(i); dbb += c(i) * c(i); i += 1
      }
      val d = math.sqrt(daa) * math.sqrt(dbb)
      (if (d > 0) dab / d else 0.0, cid)
    }.reduce((a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)._2

  test("ivfPqIndex routes like a brute-force max-cosine, smallest-id scan " +
      "and carries pqEncode's codes, one row per input row") {
    val rng = new scala.util.Random(41)
    def rand(): Array[Double] = Array.fill(Dim)(rng.nextDouble() * 2 - 1)
    val shared = rand()
    // cells 6 and 2 share one centroid (listed larger id first): a vector
    // on it ties exactly at cosine 1 and must route to cell 2
    val cents = Seq((6, shared), (0, rand()), (4, rand()), (2, shared.clone),
      (1, rand()))
    val vecs: Seq[(Long, Array[Double])] =
      (0L until 120L).map(i => (i, rand())) ++
        Seq((200L, shared.clone), (201L, shared.map(_ * 3)),
          (202L, Array.fill(Dim)(0.0)), // cosine 0 to every cell → cell 0
          (5L, rand()))                 // a repeated id keeps its own row
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val rows = vecs.map { case (i, v) => Row(i, v.toSeq) } :+ Row(300L, null)
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val centDf = spark.createDataFrame(spark.sparkContext.parallelize(
      cents.map { case (c, v) => Row(c, v.toSeq) }, 1),
      StructType(Seq(StructField("cell_id", IntegerType),
        StructField("centroid", ArrayType(DoubleType)))))
    val books = Similarity.pqFitCodebooks(corpus.filter("embedding IS NOT NULL"),
      m = 2, ksub = 4, iters = 2)

    def key(r: Row): (Long, Option[Int], Seq[Option[Int]]) =
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]),
        (2 until r.length).map(j => Option(r.get(j)).map(_.asInstanceOf[Int])))
    val got = Similarity.ivfPqIndex(corpus, centDf, books).collect().map(key)

    // routing: brute force per input row, NULL vector → NULL cell
    val wantCells = vecs.map { case (i, v) => (i, Option(bruteCell(v, cents))) } :+
      ((300L, None))
    assert(got.map(r => (r._1, r._2)).sorted.toSeq == wantCells.sorted)
    assert(wantCells.count(_._1 == 5L) == 2)
    assert(Seq(200L, 201L).forall(i => wantCells.contains((i, Some(2)))) &&
      wantCells.contains((202L, Some(0))), "tie premises do not hold")

    // codes: pqEncode's per-subspace assignment of the same rows
    val wantCodes = Similarity.pqEncode(corpus, books).collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Int])))
      .toSeq.sorted
    val gotCodes = got.toSeq.flatMap { case (id, _, cs) =>
      cs.zipWithIndex.map { case (c, s) => (id, s, c) } }.sorted
    assert(wantCodes.nonEmpty && gotCodes == wantCodes)
  }
}
