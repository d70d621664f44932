// Bridge package: see PortableHash.scala — Column↔Expression construction
// requires sql-package access in Spark 4.
package org.apache.spark.sql.graft

import graft.operators.Bert
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst `Generator` behind [[Bert.conllToBert]] and
 * [[Bert.makeBertTokens]]: one document row → one row per BERT piece, with
 * everything the document's pieces need computed in ONE call.
 *
 * `children` is the document text, optionally followed by the document's
 * entities as `array<struct<begin: int, end: int, ent_type: string>>`
 * (char offsets; NULL = no entities). Per document it
 *   1. tokenizes the text once with the pluggable `tokenizer`;
 *   2. (with entities) aligns each entity to pieces and tags every piece
 *      B/I/O — the same result as `Align.alignToTokens(validate = false)`
 *      followed by `Iob.spansToIob`, see [[BertDocGenerator.tag]];
 *   3. (with a `model`) runs the model over `Bert.seqToWindows` of the
 *      document's input ids and stitches the output back with
 *      `Bert.windowsToSeq` — what `Bert.addEmbeddings` does per group.
 *
 * The tokenizer and model are held the way a `ScalaUDF` holds its
 * function: plain serializable Scala functions shipped with the plan. The
 * pieces never cross the object/row boundary more than once: no
 * `Row`-encoded `mapPartitions`, no `groupByKey` regroup, no re-derived
 * token relation per join.
 */
case class BertDocGenerator(children: Seq[Expression], tokenizer: Bert.BertTokenizer,
    model: Option[Bert.BertModel], overlap: Int, nonOverlap: Int)
    extends Expression with Generator with CodegenFallback {

  require(children.length == 1 || children.length == 2,
    "BertDocGenerator takes (text) or (text, entities)")

  private def tagged: Boolean = children.length == 2

  private lazy val width = elementSchema.length

  override def elementSchema: StructType = StructType(Seq(
      StructField("token_id", IntegerType, nullable = false),
      StructField("span", graft.types.spanType, nullable = false),
      StructField("input_id", LongType, nullable = false),
      StructField("token_type_id", IntegerType, nullable = false),
      StructField("attention_mask", IntegerType, nullable = false),
      StructField("special_tokens_mask", BooleanType, nullable = false)) ++
    (if (tagged) Seq(StructField("ent_iob", StringType, nullable = false),
      StructField("ent_type", StringType)) else Nil) ++
    model.map(_ => StructField("embedding", ArrayType(FloatType))))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = children.head.eval(input)
    val toks = tokenizer(if (t == null) null else t.toString).toArray
    val n = toks.length
    if (n == 0) return Iterator.empty
    val tags = if (tagged)
      BertDocGenerator.tag(toks, children(1).eval(input).asInstanceOf[ArrayData])
    else null
    val emb = model.map { m =>
      val (windows, masks) = Bert.seqToWindows(toks.map(_.inputId), overlap, nonOverlap)
      Bert.windowsToSeq(n, m(windows, masks), overlap, nonOverlap)
    }.orNull
    Iterator.tabulate(n) { i =>
      val p = toks(i)
      val v = new Array[Any](width)
      v(0) = i
      v(1) = InternalRow(p.begin, p.end)
      v(2) = p.inputId
      v(3) = p.tokenTypeId
      v(4) = p.attentionMask
      v(5) = p.special
      var k = 6
      if (tags != null) {
        v(k) = tags.iob(i)
        v(k + 1) = tags.typ(i)
        k += 2
      }
      if (emb != null) v(k) = UnsafeArrayData.fromPrimitiveArray(emb(i))
      new GenericInternalRow(v)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BertDocGenerator = copy(children = newChildren)
}

object BertDocGenerator {

  /** Per-piece tags of one document: the IOB letter and the entity type. */
  final class Tags(val iob: Array[UTF8String], val typ: Array[UTF8String])

  private val B = UTF8String.fromString("B")
  private val I = UTF8String.fromString("I")
  private val O = UTF8String.fromString("O")

  /**
   * B/I/O tags of `pieces` for char-offset `entities` (struct begin, end,
   * ent_type). An entity aligns when a non-empty piece begins at its char
   * begin and a non-empty piece ends at its char end; every such (begin
   * piece, end piece) pair is a candidate token span `[b, e + 1)`, which
   * is the fan-out of `alignToTokens`' two equi-joins when pieces overlap.
   * An entity with no such pair is dropped, as `validate = false` drops
   * it. Each piece keeps the smallest covering `(begin_tok, end_tok,
   * ent_type)` (NULL type first, types in binary order) — the `min(struct)`
   * of `spansToIob` — and is `B` at that span's begin, `I` inside it, `O`
   * when no span covers it.
   */
  def tag(pieces: Array[Bert.BertTok], entities: ArrayData): Tags = {
    val n = pieces.length
    val bestB = Array.fill(n)(-1)
    val bestE = new Array[Int](n)
    val bestT = new Array[UTF8String](n)
    val ne = if (entities == null) 0 else entities.numElements()
    if (ne > 0) {
      val starts = scala.collection.mutable.HashMap.empty[Int, List[Int]]
      val ends = scala.collection.mutable.HashMap.empty[Int, List[Int]]
      var i = n - 1
      while (i >= 0) {
        val p = pieces(i)
        if (p.begin < p.end) {
          starts(p.begin) = i :: starts.getOrElse(p.begin, Nil)
          ends(p.end) = i :: ends.getOrElse(p.end, Nil)
        }
        i -= 1
      }
      var k = 0
      while (k < ne) {
        if (!entities.isNullAt(k)) {
          val e = entities.getStruct(k, 3)
          if (!e.isNullAt(0) && !e.isNullAt(1)) {
            val ty = if (e.isNullAt(2)) null else e.getUTF8String(2).clone()
            for (b <- starts.getOrElse(e.getInt(0), Nil);
                 last <- ends.getOrElse(e.getInt(1), Nil) if last >= b) {
              val end = last + 1
              var t = b
              while (t < end) {
                if (bestB(t) < 0 || b < bestB(t) || (b == bestB(t) &&
                    (end < bestE(t) || (end == bestE(t) && typeBefore(ty, bestT(t)))))) {
                  bestB(t) = b; bestE(t) = end; bestT(t) = ty
                }
                t += 1
              }
            }
          }
        }
        k += 1
      }
    }
    new Tags(Array.tabulate(n)(t => if (bestB(t) < 0) O else if (bestB(t) == t) B else I),
      bestT)
  }

  /** Spark's ascending struct-field order on a nullable string: NULL first. */
  private def typeBefore(a: UTF8String, b: UTF8String): Boolean =
    if (a == null) b != null else b != null && a.compareTo(b) < 0

  /** Column wrapper: `df.select(col("doc_id"), BertDocGenerator(...))`
    * yields the piece columns of [[BertDocGenerator.elementSchema]].
    * `entities` must be `array<struct<begin: int, end: int, ent_type:
    * string>>` in that field order. */
  def apply(text: Column, entities: Option[Column], tokenizer: Bert.BertTokenizer,
      model: Option[Bert.BertModel], overlap: Int, nonOverlap: Int): Column =
    ExpressionUtils.column(BertDocGenerator(
      (text +: entities.toSeq).map(ExpressionUtils.expression),
      tokenizer, model, overlap, nonOverlap))
}
