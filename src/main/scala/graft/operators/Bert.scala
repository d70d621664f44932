package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BertDocGenerator
import org.apache.spark.sql.types._
import scala.reflect.ClassTag

/**
 * BERT tokenization + embedding surface (reference: io/bert.py).
 *
 * The model-independent core — overlapping-window construction and the
 * inverse stitch (`seq_to_windows` / `windows_to_seq`, reference:
 * io/bert.py:254-302, 305-364, padding math 367-396) — is ported as pure
 * array arithmetic and unit-tested against goldens generated from the
 * reference implementation.
 *
 * The tokenizer and the embedding model are PLUGGABLE host functions (the
 * reference does the same with lazy `transformers`/`torch` imports,
 * io/bert.py:74-76, 141-143): this sandbox has no JVM BERT runtime, so the
 * defaults are clearly-marked deterministic stubs — the Spark-side
 * plumbing (schema, per-document pass, batched windows, stitch-back) is
 * real and is what a user swaps a DJL/ONNX model into.
 *
 * Scale notes: the unit of parallelism is the document. [[conllToBert]]
 * and [[makeBertTokens]] run one native generator per document
 * (`BertDocGenerator`) that tokenizes once and, for `conllToBert`, tags
 * and embeds the pieces in the same call; the only shuffles are the ones
 * that bring each document's entity spans to its text. [[addEmbeddings]]
 * keeps its own one-shuffle form for callers that hold a token relation.
 */
object Bert {

  // ---- window/stitch arithmetic (pure; reference io/bert.py:367-396) ----

  /** (window_length, pre_padding, post_padding) for a sequence length. */
  def computePadding(seqLen: Int, overlap: Int, nonOverlap: Int): (Int, Int, Int) = {
    require(overlap % 2 == 0, s"Non-even overlaps not implemented; got $overlap")
    val windowLength = 2 * overlap + nonOverlap
    val prePadding = overlap
    val remainder = (seqLen + prePadding) % (overlap + nonOverlap)
    val postPadding0 = windowLength - remainder
    val postPadding =
      if (postPadding0 == windowLength) postPadding0 - (overlap + nonOverlap)
      else postPadding0
    (windowLength, prePadding, postPadding)
  }

  /** Fixed-length overlapping windows + attention masks over a sequence,
    * zero-padded (reference: io/bert.py:254-302). */
  def seqToWindows(seq: Array[Long], overlap: Int,
      nonOverlap: Int): (Array[Array[Long]], Array[Array[Int]]) = {
    val (windowLength, pre, post) = computePadding(seq.length, overlap, nonOverlap)
    val paddedLength = seq.length + pre + post
    val buf = new Array[Long](paddedLength)
    System.arraycopy(seq, 0, buf, pre, seq.length)
    val maskBuf = new Array[Int](paddedLength)
    java.util.Arrays.fill(maskBuf, pre, pre + seq.length, 1)
    val stride = overlap + nonOverlap
    val numWindows = paddedLength / stride
    val windows = Array.tabulate(numWindows)(i => buf.slice(i * stride, i * stride + windowLength))
    val masks = Array.tabulate(numWindows)(i => maskBuf.slice(i * stride, i * stride + windowLength))
    (windows, masks)
  }

  /** Inverse of [[seqToWindows]]: pick the per-element values out of the
    * (transformed) windows that line up with the original sequence
    * (reference: io/bert.py:305-364). Element type is generic so the same
    * code stitches token ids (tests) and embedding vectors (runtime). */
  def windowsToSeq[T: ClassTag](seqLen: Int, windows: Array[Array[T]],
      overlap: Int, nonOverlap: Int): Array[T] = {
    val (_, _, post) = computePadding(seqLen, overlap, nonOverlap)
    val half = overlap / 2
    if (seqLen <= nonOverlap + half)
      return windows(0).slice(overlap, overlap + seqLen)
    val result = new Array[T](seqLen)
    Array.copy(windows(0), overlap, result, 0, nonOverlap + half)
    val numFromLast = half + overlap + nonOverlap - post
    if (numFromLast > 0)
      Array.copy(windows(windows.length - 1), half, result, seqLen - numFromLast, numFromLast)
    var i = 1
    while (i < windows.length - 1) {
      val destStart = half + nonOverlap + (i - 1) * (overlap + nonOverlap)
      val numToCopy = math.max(0, math.min(nonOverlap + overlap, seqLen - destStart))
      Array.copy(windows(i), half, result, destStart, numToCopy)
      i += 1
    }
    result
  }

  // ---- pluggable tokenizer host (make_bert_tokens, io/bert.py:51-120) ----

  /** One BERT token: char span (zero-length for special tokens), model
    * input id, and the standard mask columns. */
  case class BertTok(begin: Int, end: Int, inputId: Long, tokenTypeId: Int,
    attentionMask: Int, special: Boolean)

  type BertTokenizer = String => Seq[BertTok]

  val ClsId = 101L
  val SepId = 102L
  val VocabSize = 30522L

  /**
   * STUB tokenizer (deterministic, no model): [CLS] + wordpiece-ish pieces
   * (maximal 4-char chunks of each word) + [SEP]; piece input_id = portable
   * rolling hash mod vocab size. Real deployments pass a HuggingFace-fast
   * JNI or DJL tokenizer with this same signature.
   */
  val stubTokenizer: BertTokenizer = (text: String) => {
    if (text == null) Seq.empty
    else {
      val pieces = scala.collection.mutable.ArrayBuffer.empty[BertTok]
      pieces += BertTok(0, 0, ClsId, 0, 1, special = true)
      for ((b, e) <- Tokenize.tokenOffsets(text); pb <- b until e by 4) {
        val pe = math.min(pb + 4, e)
        val h = text.substring(pb, pe).foldLeft(0L)((acc, c) => (acc * 31 + c) % 2147483647L)
        pieces += BertTok(pb, pe, 1000L + h % (VocabSize - 1000L), 0, 1, special = false)
      }
      val endOff = if (text.isEmpty) 0 else text.length
      pieces += BertTok(endOff, endOff, SepId, 0, 1, special = true)
      pieces.toSeq
    }
  }

  /**
   * Tokenize documents for BERT: one output row per token with span,
   * input_id and mask columns (reference make_bert_tokens schema,
   * io/bert.py:110-119). One native generator per document — no shuffle,
   * no row encoder; the tokenizer ships with the plan.
   */
  def makeBertTokens(docs: DataFrame, tokenizer: BertTokenizer = stubTokenizer): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      BertDocGenerator(col("text"), None, tokenizer, None, 0, 0))

  // ---- pluggable embedding host (add_embeddings, io/bert.py:123-157) ----

  /** Batched model: (windows of input ids, attention masks) => per-window
    * per-position embedding vectors. */
  type BertModel = (Array[Array[Long]], Array[Array[Int]]) => Array[Array[Array[Float]]]

  /** STUB model (deterministic, no torch): embedding[d] =
    * sin-free portable arithmetic over (input_id, d), masked positions 0. */
  def stubModel(dim: Int): BertModel = (windows, masks) =>
    windows.zip(masks).map { case (w, m) =>
      w.zip(m).map { case (id, mask) =>
        Array.tabulate(dim)(d =>
          if (mask == 0) 0.0f
          else (((id * 31 + d) % 997L).toFloat / 997.0f))
      }
    }

  /**
   * Add a per-token embedding column by running the model over overlapping
   * fixed-size windows of each document's input ids and stitching the
   * windowed outputs back to one vector per token (reference
   * add_embeddings, io/bert.py:123-157). One shuffle (group by doc_id);
   * model calls are batched per document. Extra input columns (IOB tags,
   * token classes, ...) pass through untouched — the output schema is the
   * input's plus `embedding`, like the reference's `df.copy()`.
   */
  def addEmbeddings(bertToks: DataFrame, model: BertModel = stubModel(8),
      overlap: Int = 32, nonOverlap: Int = 64): DataFrame = {
    val spark = bertToks.sparkSession
    import spark.implicits._
    val embSchema = StructType(bertToks.schema.fields :+
      StructField("embedding", ArrayType(FloatType)))
    val cols = bertToks.columns
    val tokIdx = cols.indexOf("token_id")
    val inputIdx = cols.indexOf("input_id")
    val docIdx = cols.indexOf("doc_id")
    bertToks.groupByKey(r => r.getLong(docIdx))(Encoders.scalaLong)
      .flatMapGroups { (_, rows) =>
        val sorted = rows.toArray.sortBy(_.getInt(tokIdx))
        val ids = sorted.map(_.getLong(inputIdx))
        val (windows, masks) = seqToWindows(ids, overlap, nonOverlap)
        val hidden = model(windows, masks)
        val perTok = windowsToSeq(ids.length, hidden, overlap, nonOverlap)
        sorted.zip(perTok).iterator.map { case (r, emb) =>
          Row.fromSeq(r.toSeq :+ (emb.toSeq: Seq[Float]))
        }
      }(Encoders.row(embSchema))
  }

  // ---- BERT-model output ↔ corpus tokenization bridge ----

  /**
   * Expand entity spans from a BERT-based model so they align with the
   * corpus's original tokenization (`align_bert_tokens_to_corpus_tokens`,
   * reference: io/bert.py:202-251). The reference's pandas pipeline —
   * overlap_join, merge, groupby {corpus_token: sum, ent_type: first},
   * consolidate, align_to_tokens — maps operator-for-operator onto this
   * engine's relational kernels; every step is a doc_id-keyed equi-join or
   * partial-aggregatable groupBy, so the plan scales with the corpus.
   *
   * @param spansDf    entities: doc_id, char-span column `spansTokenCol`,
   *                   entity type column `entityTypeCol`; other columns
   *                   ignored (reference contract)
   * @param corpusToks corpus tokenization: doc_id, token_id, char-span
   *                   column `corpusTokenCol`
   * @return doc_id, span (token span over the CORPUS tokenization),
   *         `entityTypeCol`
   *
   * Where the reference's groupby takes the FIRST ent_type in pandas row
   * order (bert.py:240-243) — positional, so undefined under a shuffle —
   * duplicate spans with conflicting types resolve here by `min`, which is
   * deterministic on any cluster layout (equal results when spans are
   * unique, the reference's operating regime).
   */
  def alignBertTokensToCorpusTokens(spansDf: DataFrame, corpusToks: DataFrame,
      spansTokenCol: String = "span", corpusTokenCol: String = "span",
      entityTypeCol: String = "ent_type"): DataFrame = {
    // Zero-length spans ([CLS]/[SEP]-style special tokens) overlap nothing —
    // the reference drops them before aligning (token_span.py:767). Filter
    // BOTH overlap-join inputs before the block explode so special tokens
    // never ride the join.
    val ents = spansDf.select(col("doc_id"), col(spansTokenCol).as("span"),
      col(entityTypeCol))
      .filter(col("span")("begin") < col("span")("end"))
    // pairs: (entity span `first`) x (corpus token span `second`)
    // overlapping. The entity type rides the block join as a carry column
    // (the reference merges it back onto spans_df afterwards, bert.py:
    // 233-238 — that merge was a whole extra sort-merge join of the
    // entity relation onto the pair output here until round 10).
    val pairs = SpanJoin.overlapJoin(ents,
      corpusToks.select(col("doc_id"), col(corpusTokenCol).as("span"))
        .filter(col("span")("begin") < col("span")("end")),
      carryCols = Seq(entityTypeCol))
    // span-sum of the covered corpus tokens per entity + min type (same
    // min the re-attach join produced: each first span carries one type)
    val grown = pairs.groupBy(col("doc_id"), col("first"))
      .agg(min(col("second")("begin")).as("__b"), max(col("second")("end")).as("__e"),
        min(col(entityTypeCol)).as(entityTypeCol))
      .select(col("doc_id"), graft.spans.span(col("__b"), col("__e")).as("span"),
        col(entityTypeCol))
    // overlapping grown spans resolve left-to-right, then snap to token ids;
    // the grown bounds are corpus token boundaries by construction, so the
    // alignment join cannot miss (validate=false skips the extra pass)
    Align.alignToTokens(corpusToks, Consolidate.consolidate(grown), validate = false)
  }

  /**
   * One-call corpus→BERT-features composition (`conll_to_bert`, reference:
   * io/bert.py:160-199): IOB-tagged corpus tokens → entity spans → BERT
   * tokenization → entity alignment onto BERT tokens → per-BERT-token IOB
   * tags → token classes → (optionally) embeddings.
   *
   * One pass per document: the entity spans ([[Iob.iobToSpans]]) are
   * collected per document as `array<struct<begin, end, ent_type>>`,
   * left-joined onto `docs` on doc_id, and one `BertDocGenerator` call per
   * document tokenizes its text once, aligns and tags the entities and runs
   * the model over its windows. The result equals the composition of the
   * public pieces — [[makeBertTokens]] → `Align.alignToTokens(validate =
   * false)` → [[Iob.spansToIob]] → [[Iob.addTokenClasses]] →
   * [[addEmbeddings]] — which `BertSpec` pins; an entity whose char bounds
   * are not piece bounds is dropped, as there. [[Iob.addTokenClasses]]
   * stays the projection on top.
   *
   * @param corpusToks corpus tokens with doc_id, token_id, span, ent_iob
   *                   (IOB2), ent_type
   * @param docs       doc_id, text (the BERT tokenizer input)
   * @param entityTypes entity-type domain for [[Iob.makeIobTagCategories]]
   */
  def conllToBert(corpusToks: DataFrame, docs: DataFrame, entityTypes: Seq[String],
      tokenizer: BertTokenizer = stubTokenizer, model: BertModel = stubModel(8),
      computeEmbeddings: Boolean = true,
      overlap: Int = 32, nonOverlap: Int = 64): DataFrame = {
    val ents = Iob.iobToSpans(corpusToks)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span")("begin").as("begin"),
        col("span")("end").as("end"), col("ent_type"))).as("__ents"))
      .select(col("doc_id").cast("long").as("__e_doc"), col("__ents"))
    val withEnts = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(ents, col("doc_id") === col("__e_doc"), "left")
    val tagged = withEnts.select(col("doc_id"),
      BertDocGenerator(col("text"), Some(col("__ents")), tokenizer,
        if (computeEmbeddings) Some(model) else None, overlap, nonOverlap))
    val classed = Iob.addTokenClasses(tagged, Iob.makeIobTagCategories(entityTypes))
    if (computeEmbeddings) classed.select((classed.columns.filter(_ != "embedding") :+
      "embedding").map(col).toIndexedSeq: _*)
    else classed
  }

  /**
   * Flat relation of the window construction — the declared-query surface
   * for the differential oracle: one row per (doc, window, position) with
   * the buffer content index and attention mask. `token_idx` is the
   * position in the document's token sequence (0-padded like the
   * reference's zero-filled buffer).
   */
  def windowRows(tokens: DataFrame, overlap: Int, nonOverlap: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("window_id", IntegerType),
      StructField("pos", IntegerType),
      StructField("token_idx", LongType),
      StructField("mask", IntegerType)))
    val docIdx = tokens.columns.indexOf("doc_id")
    val tokIdx = tokens.columns.indexOf("token_id")
    tokens.groupByKey(r => r.getLong(docIdx))(Encoders.scalaLong)
      .flatMapGroups { (docId, rows) =>
        val seq = rows.map(_.getInt(tokIdx)).toArray.sorted.map(_.toLong)
        val (windows, masks) = seqToWindows(seq, overlap, nonOverlap)
        for {
          w <- windows.indices.iterator
          p <- windows(w).indices.iterator
        } yield Row(docId, w, p, windows(w)(p), masks(w)(p))
      }(Encoders.row(outSchema))
  }
}
