package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{spans => S}

/**
 * Watson Natural Language Understanding response parsing
 * (`watson.nlu.parse_response`, reference: io/watson/nlu.py:421-528).
 *
 * The reference eagerly converts one decoded JSON dict into a dict of
 * pandas DataFrames. The engine's shape is relational and distributed: the
 * input is a DataFrame of (doc_id, response-JSON-string) — one row per
 * analyzed document — and each feature extractor is a pure
 * `from_json` + `explode` Catalyst plan over it (schemas fixed below,
 * mirroring nlu.py:44-115). Nothing touches the driver, no UDFs; a corpus
 * of millions of NLU responses parses as one narrow scan + generate.
 */
object WatsonNlu {

  private val loc = ArrayType(IntegerType)
  private val sentimentT = new StructType().add("score", DoubleType).add("label", StringType)
  private val emotionT = new StructType()
    .add("sadness", DoubleType).add("joy", DoubleType).add("fear", DoubleType)
    .add("disgust", DoubleType).add("anger", DoubleType)
  private val disambT = new StructType()
    .add("subtype", ArrayType(StringType)).add("name", StringType)
    .add("dbpedia_resource", StringType)
  private val mentionT = new StructType()
    .add("text", StringType).add("location", loc).add("confidence", DoubleType)
  private val entityT = new StructType()
    .add("type", StringType).add("text", StringType)
    .add("sentiment", sentimentT).add("relevance", DoubleType)
    .add("count", LongType).add("confidence", DoubleType)
    .add("disambiguation", disambT).add("mentions", ArrayType(mentionT))
  private val tokenT = new StructType()
    .add("text", StringType).add("part_of_speech", StringType)
    .add("location", loc).add("lemma", StringType)
  private val sentenceT = new StructType()
    .add("text", StringType).add("location", loc)
  private val relArgT = new StructType()
    .add("text", StringType).add("location", loc)
    .add("entities", ArrayType(new StructType()
      .add("type", StringType).add("text", StringType).add("disambiguation", disambT)))
  private val relationT = new StructType()
    .add("type", StringType).add("sentence", StringType).add("score", DoubleType)
    .add("arguments", ArrayType(relArgT))
  private val roleT = new StructType()
    .add("subject", new StructType().add("text", StringType))
    .add("sentence", StringType)
    .add("object", new StructType().add("text", StringType))
    .add("action", new StructType()
      .add("verb", new StructType().add("text", StringType).add("tense", StringType))
      .add("text", StringType).add("normalized", StringType))
  private val keywordT = new StructType()
    .add("text", StringType).add("sentiment", sentimentT).add("relevance", DoubleType)
    .add("emotion", emotionT).add("count", LongType)

  /** Full response schema (the parsed features; extra fields are ignored,
    * as in the reference — nlu.py "Additional feature data ... not
    * processed"). */
  val responseSchema: StructType = new StructType()
    .add("analyzed_text", StringType)
    .add("language", StringType)
    .add("syntax", new StructType()
      .add("tokens", ArrayType(tokenT)).add("sentences", ArrayType(sentenceT)))
    .add("entities", ArrayType(entityT))
    .add("keywords", ArrayType(keywordT))
    .add("relations", ArrayType(relationT))
    .add("semantic_roles", ArrayType(roleT))

  private def spanOf(l: Column): Column = S.span(l.getItem(0), l.getItem(1))

  /** Parse the raw JSON column once; downstream extractors share this. */
  def parsed(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    responses.select(col(idCol).as("doc_id"),
      from_json(col(responseCol), responseSchema).as("r"))

  /**
   * Token table with sentence assignment — the reference's `syntax` frame
   * (nlu.py:481-489): one row per token, sentence span attached by
   * containment (the outer contain-join of nlu.py:154-165 becomes a
   * token⋈sentence range join per document).
   */
  def syntax(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame = {
    val p = parsed(responses, idCol, responseCol)
    val tokens = p.select(col("doc_id"),
        explode(col("r")("syntax")("tokens")).as("t"))
      .select(col("doc_id"), spanOf(col("t")("location")).as("span"),
        col("t")("part_of_speech").as("part_of_speech"), col("t")("lemma").as("lemma"))
    val sentences = p.select(col("doc_id").as("s_doc_id"),
        explode(col("r")("syntax")("sentences")).as("s"))
      .select(col("s_doc_id"), spanOf(col("s")("location")).as("sentence"))
    tokens.join(sentences,
        col("doc_id") === col("s_doc_id") &&
          col("span")("begin") >= col("sentence")("begin") &&
          col("span")("end") <= col("sentence")("end"), "left")
      .drop("s_doc_id")
  }

  /** Document-level entities frame (nlu.py:497-503 minus mentions). */
  def entities(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("entities")).as("e"))
      .select(col("doc_id"), col("e")("type").as("type"), col("e")("text").as("text"),
        col("e")("sentiment")("label").as("sentiment_label"),
        col("e")("sentiment")("score").as("sentiment_score"),
        col("e")("relevance").as("relevance"), col("e")("count").as("count"),
        col("e")("confidence").as("confidence"))

  /** One row per entity MENTION with its char span (the reference's
    * entity_mentions frame, location renamed to span — nlu.py:66-71). */
  def entityMentions(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("entities")).as("e"))
      .select(col("doc_id"), col("e")("type").as("type"), col("e")("text").as("text"),
        explode(col("e")("mentions")).as("m"))
      .select(col("doc_id"), col("type"), col("text"),
        spanOf(col("m")("location")).as("span"),
        col("m")("confidence").as("confidence"))

  // Per-element field extraction, shared by the single-frame functions
  // and [[frames]] so the flattening logic exists exactly once. `p` is a
  // column-name prefix ("" for the single-frame forms).
  private def keywordCols(k: Column, p: String = ""): Seq[Column] = Seq(
    k("text").as(p + "text"),
    k("sentiment")("label").as(p + "sentiment_label"),
    k("sentiment")("score").as(p + "sentiment_score"),
    k("relevance").as(p + "relevance"),
    k("emotion")("sadness").as(p + "emotion_sadness"),
    k("emotion")("joy").as(p + "emotion_joy"),
    k("emotion")("fear").as(p + "emotion_fear"),
    k("emotion")("disgust").as(p + "emotion_disgust"),
    k("emotion")("anger").as(p + "emotion_anger"),
    k("count").as(p + "count"))

  private def relationCols(rel: Column, p: String = ""): Seq[Column] = Seq(
    rel("type").as(p + "type"),
    rel("sentence").as(p + "sentence"),
    rel("score").as(p + "score"),
    spanOf(rel("arguments").getItem(0)("location")).as(p + "arg0_span"),
    spanOf(rel("arguments").getItem(1)("location")).as(p + "arg1_span"),
    rel("arguments").getItem(0)("entities").getItem(0)("type").as(p + "arg0_type"),
    rel("arguments").getItem(1)("entities").getItem(0)("type").as(p + "arg1_type"),
    rel("arguments").getItem(0)("entities").getItem(0)("text").as(p + "arg0_text"),
    rel("arguments").getItem(1)("entities").getItem(0)("text").as(p + "arg1_text"))

  private def roleCols(sr: Column, p: String = ""): Seq[Column] = Seq(
    sr("subject")("text").as(p + "subject_text"),
    sr("sentence").as(p + "sentence"),
    sr("object")("text").as(p + "object_text"),
    sr("action")("verb")("text").as(p + "action_verb_text"),
    sr("action")("verb")("tense").as(p + "action_verb_tense"),
    sr("action")("text").as(p + "action_text"),
    sr("action")("normalized").as(p + "action_normalized"))

  /** Keywords frame (nlu.py:505-508). */
  def keywords(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("keywords")).as("k"))
      .select(col("doc_id") +: keywordCols(col("k")): _*)

  /** Relations frame with both argument spans and entity types flattened
    * (nlu.py:168-353 / _relations_schema). */
  def relations(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("relations")).as("rel"))
      .select(col("doc_id") +: relationCols(col("rel")): _*)

  /** Semantic roles frame (nlu.py:510-513 / _semantic_roles_schema). */
  def semanticRoles(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("semantic_roles")).as("sr"))
      .select(col("doc_id") +: roleCols(col("sr")): _*)

  /**
   * Input contract: at most ONE response row per id (not checked).
   *
   * ALL THREE frames from ONE parse — the q105-style tagged-union shape
   * for the frames family (round-22): one `from_json` of the full
   * response schema and three sequential explodes replace three separate
   * parses joined pairwise on the id. Per response ROW, the output is the
   * cross product keywords × relations × semantic_roles — row-identical
   * to `keywords ⋈ relations ⋈ semanticRoles` on the id whenever the id
   * is unique per response row (a duplicate-id input would cross frames
   * ACROSS response rows under the join; this operator crosses within
   * each row — the NLU contract is one response per document). Columns
   * are the single-frame columns prefixed `kw_` / `rel_` / `sr_` (the
   * two frames' `sentence` fields would otherwise collide), values
   * extracted by the same shared expressions as the single-frame forms.
   * An empty or NULL frame array drops the row exactly as the inner join
   * dropped the document.
   */
  def frames(responses: DataFrame, idCol: String = "doc_id",
      responseCol: String = "response"): DataFrame =
    parsed(responses, idCol, responseCol)
      .select(col("doc_id"), explode(col("r")("keywords")).as("k"),
        col("r")("relations").as("__rels"),
        col("r")("semantic_roles").as("__srs"))
      .select(col("doc_id"), col("k"), explode(col("__rels")).as("rel"),
        col("__srs"))
      .select(col("doc_id"), col("k"), col("rel"),
        explode(col("__srs")).as("sr"))
      .select(col("doc_id") +: (keywordCols(col("k"), "kw_") ++
        relationCols(col("rel"), "rel_") ++ roleCols(col("sr"), "sr_")): _*)

  /**
   * Greedy construction of entity spans from entity TEXTS when the response
   * carries no mention locations (`make_span_from_entities`, reference:
   * io/watson/nlu.py:531-576): scan each document left to right, matching
   * each entity string at the earliest position at or after the previous
   * match's end (case-insensitive, like the reference's lower() compare).
   * Sequential per document → flatMapGroups; documents are the unit of
   * parallelism.
   */
  def makeSpanFromEntities(docs: DataFrame, ents: DataFrame,
      textCol: String = "text", entityCol: String = "text",
      orderCol: String = "ent_idx"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val d = docs.select(col("doc_id").cast("long"), col(textCol).as("__text"))
    // The greedy scan is order-sensitive (the reference walks the entities
    // array in response order, nlu.py:548-574) — callers provide that order
    // explicitly via `orderCol` (e.g. a posexplode index); a distributed
    // join has no implicit row order to lean on.
    val e = ents.select(col("doc_id").cast("long"), col(entityCol).as("__ent"),
      col(orderCol).as("__ord"))
    val joined = d.join(e, "doc_id").select(col("doc_id"), col("__text"),
      col("__ent"), col("__ord"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("entity", StringType),
      StructField("span", graft.types.spanType)))
    val docIdx = 0; val textIdx = 1; val entIdx = 2
    joined.repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("__ord"))
      .mapPartitions { rows =>
        var curDoc = Long.MinValue
        var pos = 0
        rows.flatMap { r =>
          val docId = r.getLong(docIdx)
          if (docId != curDoc) { curDoc = docId; pos = 0 }
          val text = r.getString(textIdx).toLowerCase
          val ent = r.getString(entIdx).toLowerCase
          val at = text.indexOf(ent, pos)
          if (at < 0 || ent.isEmpty) None
          else { pos = at + ent.length; Some(Row(docId, r.getString(entIdx), Row(at, at + ent.length))) }
        }
      }(Encoders.row(schema))
  }
}
