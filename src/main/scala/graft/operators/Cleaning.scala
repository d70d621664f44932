package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-cleaning toolkit (reference: cleaning/analysis.py) — the
 * label-error analysis the reference is known for (CoNLL label-correction
 * papers): correlate the entities predicted by an ensemble of models with
 * the corpus "gold" labels and rank elements by model agreement.
 */
object Cleaning {

  /**
   * Agreement counts between model predictions and gold labels
   * (`flag_suspicious_labels`, reference: cleaning/analysis.py:210-284).
   *
   * Semantics follow the reference exactly: gold rows contribute 0 to the
   * agreement count and set `in_gold`; each model row contributes 1; rows
   * are grouped over (alignCols..., label) with in_gold = any, count = sum,
   * models = list of agreeing model names. The reference then splits/sorts
   * for presentation (`split_doc`); here sorting is the caller's choice
   * (`inGold` / `notInGold` helpers below) — a global sort is an
   * all-to-one exchange the 100 TB path doesn't want by default.
   *
   * Model names are collected SORTED (the reference preserves concat
   * order; a distributed groupBy has no stable input order, so sorted is
   * the deterministic equivalent).
   *
   * @param models ordered (name, predictions) pairs; each predictions
   *               DataFrame needs alignCols + labelCol
   * @param gold   gold-label DataFrame with the same columns
   */
  def flagSuspiciousLabels(models: Seq[(String, DataFrame)], gold: DataFrame,
      alignCols: Seq[String] = Seq("doc_id", "span"),
      labelCol: String = "ent_type"): DataFrame = {
    val pick = (alignCols :+ labelCol).map(col)
    val g = gold.select(pick: _*)
      .withColumn("__model", lit("GOLD"))
      .withColumn("__in_gold", lit(true)).withColumn("__cnt", lit(0L))
    val ms = models.map { case (name, df) =>
      df.select(pick: _*)
        .withColumn("__model", lit(name))
        .withColumn("__in_gold", lit(false)).withColumn("__cnt", lit(1L))
    }
    ms.foldLeft(g)(_ unionByName _)
      .groupBy((alignCols :+ labelCol).map(col): _*)
      .agg(
        max(col("__in_gold")).as("in_gold"),
        sum(col("__cnt")).as("count"),
        sort_array(collect_list(col("__model"))).as("models"))
  }

  /** Elements in the gold standard with LOW model agreement — likely
    * label errors (reference in_gold split, analysis.py:275-279). */
  def inGold(flagged: DataFrame): DataFrame =
    flagged.filter(col("in_gold")).orderBy(col("count").asc)

  /** Elements NOT in the gold standard with HIGH model agreement — likely
    * missing labels (reference not_in_gold split, analysis.py:280-283). */
  def notInGold(flagged: DataFrame): DataFrame =
    flagged.filter(!col("in_gold")).orderBy(col("count").desc)

  /**
   * Per-entity-type entity-level precision/recall/F1 report
   * (`create_f1_score_report_iob`, reference: cleaning/analysis.py:69-170).
   *
   * An entity counts as a true positive iff ALL of `spanIdCols` AND the
   * entity type match exactly between prediction and corpus (the
   * reference's inner merge). Output: one row per entity type plus a
   * `Micro-avg` row (column sums) and a `Macro-avg` row, with columns
   * (label, precision, recall, f1_score, support).
   *
   * Faithful to the reference's quirks:
   *   - `Macro-avg` averages the per-type rows AND the already-appended
   *     `Micro-avg` row (analysis.py:158 computes `stats.mean()` after the
   *     micro append) — not the textbook macro average;
   *   - `Macro-avg.support` reports the micro (total) support
   *     (analysis.py:167);
   *   - f1 is derived from precision/recall AFTER both average rows exist,
   *     so the Macro f1 is the harmonic mean of the macro-averaged P/R.
   * Where pandas produces NaN (a type with no predictions or no gold
   * entities), this engine produces SQL NULL — the same sum/mean-skipping
   * semantics, minus NaN's hash instability.
   *
   * Scale shape: three partial-aggregatable aggregates and no join. Each
   * input is read once into per-(span id, type) counts; ONE rollup over
   * the type yields the per-type rows and the micro row (its grand total)
   * together; one single-row aggregate over that tiny result derives the
   * macro row and the micro support. No driver actions.
   */
  def f1ScoreReportIob(predicted: DataFrame, corpus: DataFrame,
      spanIdCols: Seq[String] = Seq("fold", "doc_num", "span"),
      entityTypeCol: String = "ent_type"): DataFrame = {
    val keys = spanIdCols :+ entityTypeCol
    val pick = keys.map(col)
    // ONE pass over each input instead of five (round-21 optimization —
    // guide §2.3 "aggregate before you shuffle"): tag the sides and count
    // per (span id, type) key. Per key the TP join's cardinality is
    // exactly (pred rows) x (corpus rows), so sum(__p * __c) IS the
    // inner-join count; sum(__p)/sum(__c) are the plain side counts.
    val perKey = predicted.select(pick: _*)
      .withColumn("__p", lit(1L)).withColumn("__c", lit(0L))
      .unionByName(corpus.select(pick: _*)
        .withColumn("__p", lit(0L)).withColumn("__c", lit(1L)))
      .groupBy(pick: _*)
      .agg(sum(col("__p")).as("__p"), sum(col("__c")).as("__c"))
    // A type absent from a side is a zero sum here (pandas NaN); when(>0)
    // makes it NULL. The micro row sums the NULL-ified per-type counts,
    // which is the NULL-ified grand total: counts are never negative, so
    // the sum of the positive ones is positive iff the total is.
    def nz(c: String): Column = when(col(c) > 0, col(c).cast("double"))
    val rows = perKey.rollup(col(entityTypeCol))
      .agg(grouping_id().as("__g"), sum(col("__p") * col("__c")).as("__tp"),
        sum(col("__p")).as("__pp"), sum(col("__c")).as("__ap"))
      .select(col("__g"), struct(
        when(col("__g") === 0, col(entityTypeCol).cast("string"))
          .otherwise(lit("Micro-avg")).as("label"),
        (nz("__tp") / nz("__pp")).as("precision"),
        (nz("__tp") / nz("__ap")).as("recall"),
        nz("__ap").as("support")).as("__row"))
    // macro row: mean over the per-type rows INCLUDING Micro-avg
    // (reference order of operations), avg skips NULLs like pandas mean;
    // its support is the Micro total. An empty input has no rollup rows:
    // the micro row is then all NULL, as the sum over no types is.
    rows.agg(collect_list(when(col("__g") === 0, col("__row"))).as("__types"),
        max(when(col("__g") =!= 0, col("__row"))).as("__micro"),
        avg(col("__row.precision")).as("__mp"), avg(col("__row.recall")).as("__mr"))
      .select(inline(concat(col("__types"), array(
        struct(lit("Micro-avg").as("label"), col("__micro.precision").as("precision"),
          col("__micro.recall").as("recall"), col("__micro.support").as("support")),
        struct(lit("Macro-avg").as("label"), col("__mp").as("precision"),
          col("__mr").as("recall"), col("__micro.support").as("support"))))))
      .withColumn("f1_score",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
      .select("label", "precision", "recall", "f1_score", "support")
  }

  /**
   * The `simple=True` mode of the same report (analysis.py:108-133):
   * micro-averaged precision/recall/F1 as ONE row. Counts come from two
   * single-row aggregates + the TP join; the reference's zero-predictions
   * early-return and its would-be 0/0 both land on 0.0 here (guarded
   * division — pandas would raise ZeroDivisionError on an all-miss input).
   */
  def f1ScoreReportSimple(predicted: DataFrame, corpus: DataFrame,
      spanIdCols: Seq[String] = Seq("fold", "doc_num", "span"),
      entityTypeCol: String = "ent_type"): DataFrame = {
    val keys = spanIdCols :+ entityTypeCol
    val pick = keys.map(col)
    // Same one-pass tagged-union rewrite as [[f1ScoreReportIob]]: the TP
    // inner-join count per key is sum(__p) x sum(__c), the side totals
    // are the tag sums — one derivation of each input instead of two,
    // no join. coalesce(. , 0): an EMPTY input made count() return 0
    // before; sum over zero rows is NULL.
    val perKey = predicted.select(pick: _*)
      .withColumn("__p", lit(1L)).withColumn("__c", lit(0L))
      .unionByName(corpus.select(pick: _*)
        .withColumn("__p", lit(0L)).withColumn("__c", lit(1L)))
      .groupBy(pick: _*)
      .agg(sum(col("__p")).as("__p"), sum(col("__c")).as("__c"))
    perKey
      .agg(coalesce(sum(col("__p") * col("__c")), lit(0L)).cast("double").as("__tp"),
        coalesce(sum(col("__p")), lit(0L)).cast("double").as("__pp"),
        coalesce(sum(col("__c")), lit(0L)).cast("double").as("__ap"))
      .withColumn("precision",
        when(col("__pp") > 0, col("__tp") / col("__pp")).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("__ap") > 0, col("__tp") / col("__ap")).otherwise(lit(0.0)))
      .withColumn("f1_score",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0)))
      .select("precision", "recall", "f1_score")
  }

  /**
   * Token-level (non-IOB) classification report
   * (`create_f1_score_report`, reference: cleaning/analysis.py:41-66 —
   * a transposed `sklearn.metrics.classification_report(...,
   * zero_division=0)`): one row per label with precision / recall / f1
   * / support, plus the report's three summary rows.
   *
   * sklearn semantics reproduced exactly:
   *   - the label set is the union of gold and predicted labels;
   *   - `zero_division=0`: a label with no predictions (or no gold
   *     rows) scores 0.0, not NULL;
   *   - support = gold-row count per label, as double (pandas
   *     float64-ifies the transposed frame);
   *   - `accuracy` row: the reference's scalar-broadcast quirk — the
   *     dict's lone float fills ALL FOUR columns of its row after
   *     `pd.DataFrame(...).transpose()`, support included;
   *   - `macro avg` = unweighted mean over labels, `weighted avg` =
   *     support-weighted mean; both report total support.
   *
   * Scale shape: three partial-aggregatable groupBys over (label) +
   * one single-row totals aggregate; the per-label relation is
   * tag-set-sized, so the summary rows cost nothing. No driver actions.
   */
  def classificationReport(df: DataFrame, goldCol: String,
      predCol: String): DataFrame = {
    // Confusion-matrix pre-aggregate (round-21 optimization): g/p/t are
    // all derivable from the tiny (gold, pred) count matrix, and because
    // the three consumers below share the SAME `m` plan, physical
    // planning dedups the aggregate's exchange (ReusedExchange) — the
    // input relation (often a full tokenize of the corpus) is scanned
    // once instead of three times. Sums of the matrix counts are exactly
    // the old direct counts, NULL label groups included.
    val m = df.groupBy(col(goldCol).as("__gl"), col(predCol).as("__pl"))
      .agg(count(lit(1)).as("__n"))
    val g = m.groupBy(col("__gl").as("label")).agg(sum("__n").as("__g"))
    val p = m.groupBy(col("__pl").as("label")).agg(sum("__n").as("__p"))
    val t = m.filter(col("__gl") === col("__pl"))
      .groupBy(col("__gl").as("label")).agg(sum("__n").as("__t"))
    val per = g.join(p, Seq("label"), "full_outer")
      .join(t, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("__g"), lit(0L)).cast("double").as("__g"),
        coalesce(col("__p"), lit(0L)).cast("double").as("__p"),
        coalesce(col("__t"), lit(0L)).cast("double").as("__t"))
      .withColumn("precision",
        when(col("__p") > 0, col("__t") / col("__p")).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("__g") > 0, col("__t") / col("__g")).otherwise(lit(0.0)))
      .withColumn("f1_score",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0)))
    val totals = per.agg(sum("__g").as("__n"), sum("__t").as("__tp"),
      avg("precision").as("__mp"), avg("recall").as("__mr"),
      avg("f1_score").as("__mf"),
      (sum(col("precision") * col("__g")) / sum("__g")).as("__wp"),
      (sum(col("recall") * col("__g")) / sum("__g")).as("__wr"),
      (sum(col("f1_score") * col("__g")) / sum("__g")).as("__wf"))
    val acc = totals.select(lit("accuracy").as("label"),
      (col("__tp") / col("__n")).as("precision"),
      (col("__tp") / col("__n")).as("recall"),
      (col("__tp") / col("__n")).as("f1_score"),
      (col("__tp") / col("__n")).as("support"))
    val macroR = totals.select(lit("macro avg").as("label"),
      col("__mp").as("precision"), col("__mr").as("recall"),
      col("__mf").as("f1_score"), col("__n").as("support"))
    val weighted = totals.select(lit("weighted avg").as("label"),
      col("__wp").as("precision"), col("__wr").as("recall"),
      col("__wf").as("f1_score"), col("__n").as("support"))
    per.select(col("label"), col("precision"), col("recall"),
        col("f1_score"), col("__g").as("support"))
      .unionByName(acc).unionByName(macroR).unionByName(weighted)
  }

  /**
   * Per-model micro P/R/F1 report over an ensemble
   * (`create_f1_report_ensemble_iob`, reference: cleaning/analysis.py:172-207):
   * one [[f1ScoreReportSimple]] row per model, tagged with the model name.
   * The per-model relations union into ONE lazy DAG — k single-row
   * aggregates, no driver loop over results.
   */
  def f1ReportEnsembleIob(models: Seq[(String, DataFrame)], corpus: DataFrame,
      spanIdCols: Seq[String] = Seq("fold", "doc_num", "span"),
      entityTypeCol: String = "ent_type"): DataFrame =
    models.map { case (name, df) =>
      f1ScoreReportSimple(df, corpus, spanIdCols, entityTypeCol)
        .select(lit(name).as("model"), col("precision"), col("recall"),
          col("f1_score"))
    }.reduce(_ unionByName _)

  /**
   * Join model predictions back onto the corpus tokens they were made
   * over (`align_model_outputs_to_tokens`, reference:
   * cleaning/analysis.py:288-328). The reference loops (fold, doc_num)
   * pairs building one pandas frame per document; the per-document dict
   * is presentation — the relation underneath is ONE equi-join of the
   * model-output rows onto the token-feature rows on
   * (fold, doc_num, token_id), which shuffles once on the composite key
   * and scales with the corpus.
   *
   * @param tokensByDoc  token features: fold, doc_num, token_id, span,
   *                     ent_iob, ent_type (the reference's
   *                     `tokens_by_doc` dict flattened into a relation)
   * @param modelResults model outputs: fold, doc_num, token_id,
   *                     predicted_iob, predicted_type
   * @param validate     when true, throw if `modelResults` carries
   *                     duplicate (fold, doc_num, token_id) keys — the
   *                     reference's `verify_integrity=True`
   *                     (analysis.py:315). An extra eager pass, like
   *                     [[Align.alignToTokens]]'s validation; scale-
   *                     sensitive callers opt out.
   */
  def alignModelOutputsToTokens(tokensByDoc: DataFrame,
      modelResults: DataFrame, validate: Boolean = true): DataFrame = {
    val keys = Seq("fold", "doc_num", "token_id")
    val preds = modelResults.select(
      (keys.map(col) :+ col("predicted_iob") :+ col("predicted_type")): _*)
    if (validate) {
      val dup = preds.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      val bad = dup.take(1)
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"model results carry duplicate (fold, doc_num, token_id) keys, e.g.: ${bad.head}")
    }
    tokensByDoc.select(col("fold"), col("doc_num"), col("token_id"),
        col("span"), col("ent_iob"), col("ent_type"))
      .join(preds, keys)
  }

  /**
   * Reformat agreement counts into the two hand-labeling sheets
   * (`csv_prep`, reference: cleaning/analysis.py:331-396): entities IN the
   * gold standard (sorted by ascending agreement — low-agreement gold rows
   * are the likely label errors) and entities NOT in gold but found by at
   * least one model (sorted by descending agreement — high-agreement
   * misses are the likely missing labels). Each sheet carries the
   * reference's blank annotation columns (`error_type`, `correct_span`,
   * `notes`, `time_*`) for the human labeler, and the span rendered as the
   * reference's string form (`[begin, end): 'covered'`,
   * [[graft.spans.spanToString]]).
   *
   * The reference's Span values carry their target text; relational spans
   * don't, so `countsDf` must also carry the document text under
   * `textColName` (join the documents table in first, as with every
   * covered-text operator in this engine). The global sorts are
   * presentation — this operator feeds a human-scale CSV export, the same
   * contract as [[inGold]]/[[notInGold]].
   *
   * @return (in_gold sheet, not_in_gold sheet)
   */
  def csvPrep(countsDf: DataFrame, countsColName: String,
      goldColName: String = "in_gold", foldColName: String = "fold",
      docColName: String = "doc_num", spanColName: String = "span",
      entTypeColName: String = "ent_type", textColName: String = "text")
      : (DataFrame, DataFrame) = {
    val spanStr = graft.spans.spanToString(col(textColName), col(spanColName))
    val blank = Seq("notes", "time_started", "time_stopped", "time_elapsed")
    def blanks(df: DataFrame, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, lit("")))
    val inGoldDf = blanks(
      countsDf.filter(col(goldColName))
        .orderBy(col(countsColName).asc, col(foldColName).asc, col(docColName).asc)
        .select(col(countsColName), col(foldColName).as("fold"),
          col(docColName).as("doc_offset"), spanStr.as("corpus_span"),
          col(entTypeColName).as("corpus_ent_type")),
      "error_type" +: "correct_span" +: "correct_ent_type" +: blank)
    val notInGoldDf = blanks(
      countsDf.filter(!col(goldColName))
        .orderBy(col(countsColName).desc, col(foldColName).asc, col(docColName).asc)
        .select(col(countsColName), col(foldColName).as("fold"),
          col(docColName).as("doc_offset"), spanStr.as("model_span"),
          col(entTypeColName).as("model_ent_type")),
      "error_type" +: "corpus_span" +: "corpus_ent_type" +:
        "correct_span" +: "correct_ent_type" +: blank)
    (inGoldDf, notInGoldDf)
  }

  /**
   * Merge per-fold corpora into one DataFrame with leading `fold` column
   * (`combine_folds`, reference: io/conll.py:1437-1458). The reference
   * stacks per-document pandas frames; the engine's corpora are already
   * single DataFrames with doc ids, so this is a tagged unionByName.
   */
  def combineFolds(folds: Seq[(String, DataFrame)]): DataFrame =
    folds.map { case (name, df) => df.select((lit(name).as("fold") +: df.columns.toIndexedSeq.map(col)): _*) }
      .reduce(_ unionByName _)

  /**
   * Merge the IOB-tagged folds of a corpus into one entity-span relation
   * (`combine_raw_spans_docs`, reference: cleaning/preprocess.py — the
   * "train+test+validation into a single spans frame" preprocessing
   * entry): each fold's tokens run through [[Iob.iobToSpans]] and the
   * results union under a `fold` tag, `doc_id` renamed to `doc_num` to
   * match the reference's (fold, doc_num) corpus addressing. One lazy
   * DAG — the per-fold sessionization windows stay partitioned by
   * document.
   *
   * @param folds (fold name, IOB-tagged tokens) pairs; each tokens
   *              DataFrame needs doc_id, token_id, span, iobCol, typeCol
   */
  def combineRawSpansDocs(folds: Seq[(String, DataFrame)],
      iobCol: String = "ent_iob", typeCol: String = "ent_type"): DataFrame =
    combineFolds(folds.map { case (name, df) =>
      (name, Iob.iobToSpans(df, iobCol, typeCol)
        .withColumnRenamed("doc_id", "doc_num"))
    })

  /**
   * [[combineRawSpansDocs]] restricted to the (fold, doc_num) pairs
   * present in `dfToMatch` (`combine_raw_spans_docs_to_match`,
   * reference: cleaning/preprocess.py): the reference filters the
   * per-fold doc lists in a Python loop; relationally it is one
   * left-semi join on the composite key — distributed, and Catalyst
   * broadcasts the (tiny, distinct) match-key side.
   */
  def combineRawSpansDocsToMatch(folds: Seq[(String, DataFrame)],
      dfToMatch: DataFrame, iobCol: String = "ent_iob",
      typeCol: String = "ent_type", foldCol: String = "fold",
      docCol: String = "doc_num"): DataFrame =
    combineRawSpansDocs(folds, iobCol, typeCol)
      .join(dfToMatch.select(col(foldCol).as("fold"), col(docCol).as("doc_num"))
        .distinct(), Seq("fold", "doc_num"), "left_semi")

  /**
   * Per-document accuracy statistics at the reference's exact column
   * surface (`compute_accuracy_by_document`, reference:
   * io/conll.py:1461-1516): one row per (fold, doc_num) with
   * `num_true_positives` (cardinality of the multiset inner join of gold
   * and output rows on `matchCols` — pandas `merge` semantics),
   * `num_extracted`, `num_entities`, and the derived
   * precision/recall/F1.
   *
   * Same one-scan-per-input shape as [[Iob.prfScores]]: gold collapses
   * to per-key counts, TP = sum of those counts over matching output
   * rows (multiset-join cardinality without materializing the join), and
   * n_gold reuses the collapsed subtree via ReuseExchange. The reference
   * iterates corpus keys in a Python loop over per-doc frames; here one
   * full outer join covers docs present on either side (a doc missing
   * from `outputs` raises KeyError in the reference — the engine reports
   * it with zero extractions instead).
   *
   * Zero-denominator note: the reference's pandas math yields NaN there
   * (0/0); the engine yields NULL — the same value once a pandas load
   * maps NULL to NaN, and ANSI-safe (Spark 4 errors on a raw 0 divide).
   */
  def accuracyByDocument(corpus: DataFrame, outputs: DataFrame,
      keyCols: Seq[String] = Seq("fold", "doc_num"),
      matchCols: Seq[String] = Seq("span", "ent_type")): DataFrame = {
    val all = keyCols ++ matchCols
    val g = corpus.groupBy(all.map(col): _*).agg(count(lit(1)).as("__gc"))
    val byDoc = outputs.join(g, all, "left")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(coalesce(col("__gc"), lit(0L))).as("num_true_positives"),
        count(lit(1)).as("num_extracted"))
    val ng = g.groupBy(keyCols.map(col): _*).agg(sum("__gc").as("num_entities"))
    byDoc.join(ng, keyCols, "full")
      .na.fill(0, Seq("num_true_positives", "num_extracted", "num_entities"))
      .withColumn("precision", when(col("num_extracted") > 0,
        col("num_true_positives") / col("num_extracted")))
      .withColumn("recall", when(col("num_entities") > 0,
        col("num_true_positives") / col("num_entities")))
      .withColumn("F1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
  }

  /**
   * Collection-wide roll-up of [[accuracyByDocument]]
   * (`compute_global_accuracy`, reference: io/conll.py:1519-1542): sum
   * the per-doc TP/entity/extraction counts, THEN derive global
   * precision/recall/F1 from the sums (micro-averaging — not a mean of
   * the per-doc ratios). One row; the reference returns a dict with the
   * same six keys.
   */
  def globalAccuracy(statsByDoc: DataFrame): DataFrame =
    statsByDoc
      .agg(sum("num_true_positives").as("num_true_positives"),
        sum("num_entities").as("num_entities"),
        sum("num_extracted").as("num_extracted"))
      .withColumn("precision", when(col("num_extracted") > 0,
        col("num_true_positives") / col("num_extracted")))
      .withColumn("recall", when(col("num_entities") > 0,
        col("num_true_positives") / col("num_entities")))
      .withColumn("F1", when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
}
