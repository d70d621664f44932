package graft

import graft.operators.Bert
import org.apache.spark.sql.functions.col

/**
 * Goldens generated by running the reference implementation
 * (io/bert.py:254-396) over `seq = 1..n` for several (n, overlap,
 * non_overlap) shapes — the windowing/stitch math is model-free.
 */
class BertSpec extends GraftSuite {

  test("compute_padding goldens (io/bert.py:367-396)") {
    assert(Bert.computePadding(5, 2, 4) == ((8, 2, 7)))
    assert(Bert.computePadding(13, 2, 4) == ((8, 2, 5)))
    assert(Bert.computePadding(40, 4, 8) == ((16, 4, 8)))
    assert(Bert.computePadding(100, 32, 64) == ((128, 32, 92)))
    assert(Bert.computePadding(1, 2, 4) == ((8, 2, 5)))
    assert(Bert.computePadding(70, 2, 4) == ((8, 2, 2)))
  }

  test("seq_to_windows goldens (io/bert.py:254-302)") {
    val (w5, m5) = Bert.seqToWindows((1L to 5L).toArray, 2, 4)
    assert(w5.map(_.toSeq).toSeq == Seq(
      Seq(0L, 0, 1, 2, 3, 4, 5, 0), Seq(5L, 0, 0, 0, 0, 0, 0, 0)))
    assert(m5.map(_.toSeq).toSeq == Seq(
      Seq(0, 0, 1, 1, 1, 1, 1, 0), Seq(1, 0, 0, 0, 0, 0, 0, 0)))

    val (w13, m13) = Bert.seqToWindows((1L to 13L).toArray, 2, 4)
    assert(w13.map(_.toSeq).toSeq == Seq(
      Seq(0L, 0, 1, 2, 3, 4, 5, 6),
      Seq(5L, 6, 7, 8, 9, 10, 11, 12),
      Seq(11L, 12, 13, 0, 0, 0, 0, 0)))
    assert(m13.map(_.toSeq).toSeq == Seq(
      Seq(0, 0, 1, 1, 1, 1, 1, 1),
      Seq(1, 1, 1, 1, 1, 1, 1, 1),
      Seq(1, 1, 1, 0, 0, 0, 0, 0)))
  }

  test("windows_to_seq inverts seq_to_windows on all golden shapes") {
    for ((n, ov, nov) <- Seq((5, 2, 4), (13, 2, 4), (40, 4, 8), (100, 32, 64),
        (1, 2, 4), (70, 2, 4), (64, 32, 64), (3, 2, 4))) {
      val seq = (1L to n.toLong).toArray
      val (w, _) = Bert.seqToWindows(seq, ov, nov)
      val back = Bert.windowsToSeq(n, w, ov, nov)
      assert(back.toSeq == seq.toSeq, s"round trip failed for n=$n ov=$ov nov=$nov")
    }
  }

  test("make_bert_tokens: special tokens are zero-length spans (io/bert.py:89-107)") {
    import spark.implicits._
    val docs = Seq((0L, "hello worlds"), (1L, "ab")).toDF("doc_id", "text")
    val toks = Bert.makeBertTokens(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    val d0 = toks(0L)
    // [CLS] zero-length at 0, pieces hel|lo... 4-char chunks, [SEP] zero-length at end
    assert(d0.head.getStruct(2).getInt(0) == 0 && d0.head.getStruct(2).getInt(1) == 0)
    assert(d0.head.getBoolean(6) && d0.head.getLong(3) == Bert.ClsId)
    assert(d0.last.getStruct(2).getInt(0) == 12 && d0.last.getStruct(2).getInt(1) == 12)
    assert(d0.last.getLong(3) == Bert.SepId)
    val pieces = d0.filter(!_.getBoolean(6)).map(r =>
      (r.getStruct(2).getInt(0), r.getStruct(2).getInt(1)))
    assert(pieces.toSeq == Seq((0, 4), (4, 5), (6, 10), (10, 12)))
  }

  test("add_embeddings: stitched per-token embeddings match direct model output") {
    import spark.implicits._
    val text = (1 to 30).map(i => "w" + i).mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val bt = Bert.makeBertTokens(docs)
    val out = Bert.addEmbeddings(bt, Bert.stubModel(4), overlap = 2, nonOverlap = 4)
      .orderBy("token_id").collect()
    val ids = bt.orderBy("token_id").collect().map(_.getLong(3))
    // the stub model is position-independent, so the stitched embedding of
    // token i must equal the stub applied to its input id directly
    out.zip(ids).foreach { case (r, id) =>
      val emb = r.getSeq[Float](r.length - 1)
      val expect = (0 until 4).map(d => ((id * 31 + d) % 997L).toFloat / 997.0f)
      assert(emb == expect, s"embedding mismatch for input_id $id")
    }
  }

  test("trained Word2Vec adapter drives the embedding host end to end") {
    import spark.implicits._
    import graft.operators.{Embeddings, WordPiece}
    // small corpus with enough repetition for word2vec to learn something
    val docs = (0L until 12L)
      .map(i => (i, s"the spark engine scales the spark plan ${i % 3}"))
      .toDF("doc_id", "text")
    val tok = WordPiece.miniVocabTokenizer
    val model = Embeddings.word2vecModel(docs, tok, dim = 6)
    val out = Bert.addEmbeddings(
      Bert.makeBertTokens(docs, tok), model, overlap = 2, nonOverlap = 4)
    val rows = out.select("doc_id", "input_id", "special_tokens_mask", "embedding")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val emb = r.getSeq[Float](3)
      assert(emb.length == 6)
      // non-special pieces seen in training must have a LEARNED (non-zero)
      // vector; the same input_id always maps to the same vector
      if (!r.getBoolean(2)) assert(emb.exists(_ != 0.0f),
        s"input_id ${r.getLong(1)} has no learned vector")
    }
    val byId = rows.filterNot(_.getBoolean(2))
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getSeq[Float](3)).distinct)
    assert(byId.values.forall(_.size == 1), "lookup must be a function of input_id")
    // determinism: retraining with the same seed reproduces the table
    val model2 = Embeddings.word2vecModel(docs, tok, dim = 6)
    val w = Array(Array(1000L, 1001L)); val m = Array(Array(1, 1))
    assert(model(w, m).map(_.toSeq.map(_.toSeq)).toSeq ==
      model2(w, m).map(_.toSeq.map(_.toSeq)).toSeq)
  }

  test("align_bert_tokens_to_corpus_tokens expands, consolidates, snaps " +
      "(io/bert.py:202-251)") {
    import spark.implicits._
    import graft.spans
    // corpus "aaa bbb ccc ddd": tokens (0,3)(4,7)(8,11)(12,15)
    val corpus = Seq((9L, 0, 0, 3), (9L, 1, 4, 7), (9L, 2, 8, 11), (9L, 3, 12, 15))
      .toDF("doc_id", "token_id", "b", "e")
      .select(col("doc_id"), col("token_id"), spans.span(col("b"), col("e")).as("span"))
    // model spans cut into tokens: X(1,6) grows to (0,7); Y(5,10) grows to
    // (4,11) and is consolidated away (starts inside kept X); Z(12,14)
    // grows to (12,15)
    val ents = Seq((9L, 1, 6, "X"), (9L, 5, 10, "Y"), (9L, 12, 14, "Z"))
      .toDF("doc_id", "b", "e", "ent_type")
      .select(col("doc_id"), spans.span(col("b"), col("e")).as("span"), col("ent_type"))
    val out = Bert.alignBertTokensToCorpusTokens(ents, corpus)
      .orderBy(col("span")("begin_tok"))
      .select(col("span")("begin_tok"), col("span")("end_tok"),
        col("span")("begin"), col("span")("end"), col("ent_type"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(out.toSeq == Seq((0, 2, 0, 7, "X"), (3, 4, 12, 15, "Z")))
  }

  test("conll_to_bert composes tags, classes and embeddings (io/bert.py:160-199)") {
    import spark.implicits._
    import graft.spans
    import graft.operators.Iob
    val text = "alpha key value beta"
    val docs = Seq((4L, text)).toDF("doc_id", "text")
    // corpus word tokens with IOB2 tags: 'key value' is one K entity
    val corpus = Seq(
      (4L, 0, 0, 5, "O", null.asInstanceOf[String]),
      (4L, 1, 6, 9, "B", "K"),
      (4L, 2, 10, 15, "I", "K"),
      (4L, 3, 16, 20, "O", null.asInstanceOf[String]))
      .toDF("doc_id", "token_id", "b", "e", "ent_iob", "ent_type")
      .select(col("doc_id"), col("token_id"), spans.span(col("b"), col("e")).as("span"),
        col("ent_iob"), col("ent_type"))
    val out = Bert.conllToBert(corpus, docs, entityTypes = Seq("K"),
        overlap = 2, nonOverlap = 4)
      .orderBy("token_id").collect()
    val sch = out.head.schema
    def s(r: org.apache.spark.sql.Row, n: String) = r.getAs[String](sch.fieldIndex(n))
    // stub pieces: CLS alph a key valu e beta SEP; entity chars (6,15)
    // cover pieces 3..5 → B at 'key', I at 'valu'/'e', O elsewhere
    assert(out.map(r => s(r, "ent_iob")).toSeq ==
      Seq("O", "O", "O", "B", "I", "I", "O", "O"))
    assert(out.map(r => s(r, "token_class")).toSeq ==
      Seq("O", "O", "O", "B-K", "I-K", "I-K", "O", "O"))
    assert(out.map(_.getAs[Int](sch.fieldIndex("token_class_id"))).toSeq ==
      Seq(0, 0, 0, 1, 2, 2, 0, 0))
    // embeddings rode along for every row and match the stub formula
    out.foreach { r =>
      val id = r.getAs[Long](sch.fieldIndex("input_id"))
      val emb = r.getSeq[Float](sch.fieldIndex("embedding"))
      assert(emb.toSeq == (0 until 8).map(d => ((id * 31 + d) % 997L).toFloat / 997.0f))
    }
    // compute_embeddings=false keeps the frame embedding-free
    val lean = Bert.conllToBert(corpus, docs, Seq("K"), computeEmbeddings = false)
    assert(!lean.columns.contains("embedding"))
  }

  test("conllToBert equals the composition of the public pieces: seeded " +
      "corpus, overlapping and off-boundary entities, empty and NULL text, " +
      "overlapping pieces") {
    import spark.implicits._
    import graft.operators.{Align, Iob}
    val rnd = new scala.util.Random(17)
    val types = Seq("PER", "LOC", "ORG")
    val words = Seq("alpha", "be", "gamma", "delta", "epsilonic", "z", "eta", "thetas")
    // (doc_id, text, tokens (token_id, begin, end, iob, type))
    val docsRows = (0L until 10L).map { d =>
      val ws = Seq.fill(6 + rnd.nextInt(30))(words(rnd.nextInt(words.size)))
      val offs = ws.scanLeft(0)((o, w) => o + w.length + 1).init
      val tags = ws.indices.map { i =>
        // doc 3 and 4 have no entities; the rest a seeded B/I/O mix, a
        // few B tags without a type
        if (d == 3 || d == 4) ("O", null)
        else rnd.nextInt(4) match {
          case 0 => ("B", if (rnd.nextInt(8) == 0) null else types(rnd.nextInt(3)))
          case 1 => ("I", types(rnd.nextInt(3)))
          case _ => ("O", null)
        }
      }
      val toks = ws.indices.map { i =>
        val (b, e) = (offs(i), offs(i) + ws(i).length)
        // doc 0: token 1's char span runs over token 2 (its entity
        // overlaps the next one); doc 1: token 0 begins inside a piece
        val span = if (d == 0 && i == 1) (b, offs(2) + ws(2).length)
          else if (d == 1 && i == 0) (b + 1, e) else (b, e)
        (i, span._1, span._2, tags(i)._1, tags(i)._2)
      }
      val fixed = if (d == 0) toks.updated(1, toks(1).copy(_4 = "B", _5 = "PER"))
        .updated(2, toks(2).copy(_4 = "B", _5 = "LOC"))
        else if (d == 1) toks.updated(0, toks(0).copy(_4 = "B", _5 = "ORG")) else toks
      (d, ws.mkString(" "), fixed)
    }
    val corpus = docsRows.flatMap { case (d, _, toks) =>
        toks.map { case (i, b, e, iob, ty) => (d, i, b, e, iob, ty) } }
      .toDF("doc_id", "token_id", "b", "e", "ent_iob", "ent_type")
      .select(col("doc_id"), col("token_id"), spans.span(col("b"), col("e")).as("span"),
        col("ent_iob"), col("ent_type"))
    val docs = (docsRows.map { case (d, t, _) => (d, t) } ++
        Seq((20L, ""), (21L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    // every word as one piece AND as 3-char chunks: pieces overlap, and a
    // char offset begins or ends several pieces
    val overlapping: Bert.BertTokenizer = (text: String) =>
      if (text == null) Seq.empty
      else Bert.BertTok(0, 0, Bert.ClsId, 0, 1, special = true) +:
        graft.operators.Tokenize.tokenOffsets(text).flatMap { case (b, e) =>
          Bert.BertTok(b, e, 1000L + b, 0, 1, special = false) +:
            (b until e by 3).map(pb =>
              Bert.BertTok(pb, math.min(pb + 3, e), 2000L + pb, 1, 1, special = false))
        } :+ Bert.BertTok(text.length, text.length, Bert.SepId, 0, 1, special = true)
    def composed(tok: Bert.BertTokenizer, ov: Int, nov: Int) = {
      val bertToks = Bert.makeBertTokens(docs, tok)
      val aligned = Align.alignToTokens(bertToks,
        Iob.iobToSpans(corpus).select(col("doc_id"),
          spans.span(col("span")("begin"), col("span")("end")).as("span"),
          col("ent_type")),
        validate = false)
      Bert.addEmbeddings(Iob.addTokenClasses(Iob.spansToIob(bertToks, aligned),
        Iob.makeIobTagCategories(types)), Bert.stubModel(4), ov, nov)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case r: org.apache.spark.sql.Row => r.toSeq.toList
        case v => v
      }.toList).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]))
    for ((tok, ov, nov) <- Seq((Bert.stubTokenizer, 2, 4), (Bert.stubTokenizer, 32, 64),
        (overlapping, 2, 4))) {
      val out = Bert.conllToBert(corpus, docs, types, tok, Bert.stubModel(4),
        overlap = ov, nonOverlap = nov)
      val want = composed(tok, ov, nov)
      assert(out.columns.toSeq == want.columns.toSeq)
      val (got, exp) = (rows(out), rows(want))
      assert(got.size == exp.size, s"${got.size} rows, composition has ${exp.size}")
      got.zip(exp).foreach { case (g, e) => assert(g == e, s"row differs:\n$g\n$e") }
      // the corpus exercises every case the generator handles
      val tagged = exp.groupBy(_(0)).view.mapValues(_.map(_(7))).toMap
      assert(tagged(0L).contains("B") && tagged(0L).contains("I"))
      assert(tagged(3L).forall(_ == "O") && tagged(20L).forall(_ == "O"))
      assert(!tagged.contains(21L))
    }
  }

  test("windowRows matches seqToWindows flat expansion") {
    import spark.implicits._
    val toks = (0 until 13).map(i => (3L, i)).toDF("doc_id", "token_id")
    val rows = Bert.windowRows(toks, 2, 4).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))).sorted
    val (w, m) = Bert.seqToWindows((0L until 13L).toArray, 2, 4)
    val expect = (for {
      wi <- w.indices; p <- w(wi).indices
    } yield (wi, p, w(wi)(p), m(wi)(p))).sorted
    assert(rows.toSeq == expect)
  }
}
