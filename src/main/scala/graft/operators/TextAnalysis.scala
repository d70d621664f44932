package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis functions for large-scale training-data pipelines:
 * language ID, quality scoring, token counting, document fingerprinting.
 *
 * The scan/filter surface is pure Catalyst expression trees over built-in
 * functions (codegen'd, pushdown-friendly). The hash KERNELS
 * (fingerprint / shingle / minhash / simhash) are fused single-pass JVM
 * functions: the equivalent nested higher-order-function expression trees
 * are interpreted per element and re-evaluate shared subtrees, which
 * measured ~50x slower at sf0.1. The arithmetic is deliberately
 * engine-portable (31-base polynomial rolling hash mod 2^31-1, the classic
 * Rabin-Karp/Java fingerprint) so an external SQL engine reproduces every
 * stage exactly — that is how the differential oracle validates them.
 */
object TextAnalysis {

  /** Modulus for all rolling hashes: the Mersenne prime 2^31 - 1. */
  val HashP: Long = 2147483647L

  /** JVM kernel for the rolling hash. Chars are UTF-16 units — identical
    * to codepoints for the ASCII/BMP corpora this engine targets. */
  @inline def hashString(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % HashP; i += 1 }
    h
  }

  /** Polynomial rolling hash of a string column (Rabin-Karp fingerprint).
    * A native codegen'd Catalyst expression — stays inside whole-stage
    * codegen, folds UTF-8 bytes in place (== the char fold for ASCII). */
  def portableHash(s: Column): Column = org.apache.spark.sql.graft.PortableHash(s)

  /** Lowercase word list of a text column. */
  def words(text: Column): Column =
    org.apache.spark.sql.graft.WordShingles.words(text)

  /** The regexp form [[words]] replaced (round-21 native-expression
    * optimization) — kept as the parity reference for
    * WordShinglesParitySpec. */
  private[graft] def wordsRegex(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-separated token count. */
  def tokenCountWs(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /**
   * BPE-ish subword count: word chunks of <=4 chars plus punctuation marks,
   * the usual cheap proxy for LLM token counts (~chars/4 within words).
   */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word k-grams of a text column (shingles), space-joined. */
  def shingles(text: Column, k: Int): Column = {
    val ws = words(text)
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => concat_ws(" ", slice(ws, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", ws)))
  }

  /** JVM kernel: distinct k-gram shingle hashes from a word list, one
    * pass, insertion order (matches array_distinct over the shingle list). */
  def shingleHashSet(ws: Seq[String], k: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    if (ws.length >= k) {
      var i = 0
      while (i + k <= ws.length) {
        var h = 0L
        var j = 0
        while (j < k) {
          if (j > 0) h = (h * 31 + ' ') % HashP
          val w = ws(i + j)
          var c = 0
          while (c < w.length) { h = (h * 31 + w.charAt(c)) % HashP; c += 1 }
          j += 1
        }
        out += h
        i += 1
      }
    } else out += hashString(ws.mkString(" "))
    out.toSeq
  }

  // null text propagates as null (not NPE) — same contract as the
  // expression-tree form this kernel replaced
  private def shingleUdf(k: Int) =
    udf((ws: Seq[String]) => Option(ws).map(shingleHashSet(_, k)))

  /** [[shingleHashes]] through the UDF kernel — parity reference for
    * WordShinglesParitySpec. */
  private[graft] def shingleHashesUdfForm(text: Column, k: Int): Column =
    shingleUdf(k)(wordsRegex(text))

  /** Distinct shingle hashes — the minhash/jaccard input set. Native
    * expression (round-21): no lowercase copy, no regex walk, no UDF
    * Seq boxing — the byte-scan + rolling hash run inside the task loop. */
  def shingleHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.WordShingles.shingles(words(text), k)

  /** JVM kernel: POSITIONAL n-gram hashes — one hash per start position,
    * in order, duplicates kept (unlike [[shingleHashSet]], which
    * deduplicates for set-similarity). Texts shorter than n grams yield
    * an empty list: no window of length n exists, and returning a
    * partial-text hash (the shingle fallback) would let two short texts
    * "share" an n-gram they don't have. */
  def ngramHashSeq(ws: Seq[String], n: Int): Seq[Long] = {
    if (ws.length < n) Seq.empty
    else (0 to ws.length - n).map { i =>
      var h = 0L
      var j = 0
      while (j < n) {
        if (j > 0) h = (h * 31 + ' ') % HashP
        val w = ws(i + j)
        var c = 0
        while (c < w.length) { h = (h * 31 + w.charAt(c)) % HashP; c += 1 }
        j += 1
      }
      h
    }
  }

  private def ngramUdf(n: Int) =
    udf((ws: Seq[String]) => Option(ws).map(ngramHashSeq(_, n)))

  /** Ordered positional n-gram hashes of a text column (index i = hash of
    * words i..i+n-1). Input to [[Dedup.duplicatedSpans]]. */
  def ngramHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.WordShingles.ngrams(words(text), n)

  /** UDF form of [[ngramHashes]] — parity reference for
    * WordShinglesParitySpec. */
  private[graft] def ngramHashesUdfForm(text: Column, n: Int): Column =
    ngramUdf(n)(wordsRegex(text))

  /** JVM kernel: DISTINCT wide (~62-bit) n-gram fingerprints from a word
    * list, insertion order — the dual-base fold of
    * [[org.apache.spark.sql.graft.WideHash]] applied to the space-joined
    * gram, packed `h31·P + h131`. Texts shorter than n grams yield an
    * empty set (the [[ngramHashSeq]] contract, not the shingle
    * fallback). Input to Bloom-filter membership stages, which need two
    * independent 31-bit hashes per gram for double-hashed probes. */
  def wideNgramHashSet(ws: Seq[String], n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    if (ws.length >= n) {
      var i = 0
      while (i + n <= ws.length) {
        var h1 = 0L
        var h2 = 0L
        var j = 0
        while (j < n) {
          if (j > 0) {
            h1 = (h1 * 31 + ' ') % HashP
            h2 = (h2 * 131 + ' ') % HashP
          }
          val w = ws(i + j)
          var c = 0
          while (c < w.length) {
            h1 = (h1 * 31 + w.charAt(c)) % HashP
            h2 = (h2 * 131 + w.charAt(c)) % HashP
            c += 1
          }
          j += 1
        }
        out += h1 * HashP + h2
        i += 1
      }
    }
    out.toSeq
  }

  private def wideNgramUdf(n: Int) =
    udf((ws: Seq[String]) => Option(ws).map(wideNgramHashSet(_, n)))

  /** Distinct wide n-gram fingerprints of a text column. */
  def wideNgramHashes(text: Column, n: Int): Column = wideNgramUdf(n)(words(text))

  // ---- language ID (n-gram/stopword heuristic) ----

  /** Tiny per-language stopword lists; ratio of stopwords decides. */
  val StopwordsEn: Seq[String] = Seq("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "was", "on", "with", "he", "as", "by", "at", "from")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht",
    "mit", "ein", "eine", "zu", "den", "von", "sie", "auf", "des", "im")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une",
    "des", "du", "que", "qui", "dans", "pour", "pas", "sur", "au")

  private def stopRatio(ws: Column, stops: Seq[String]): Column = {
    val arr = array(stops.map(lit): _*)
    when(size(ws) > 0,
      size(filter(ws, w => array_contains(arr, w))).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /**
   * Heuristic language ID: highest stopword ratio among {en, de, fr} wins
   * if above 0.05, else "und" (undetermined). Deterministic tie-break by
   * that priority order.
   *
   * Fused JVM kernel: one pass over the word list computes all three
   * ratios — the expression form re-evaluates three interpreted
   * higher-order filters per row (~3x this cost measured at sf0.1). The
   * arithmetic (stop-count / word-count in double) is identical to the
   * expression tree and the SQL oracle.
   */
  def langId(text: Column): Column = {
    val en = StopwordsEn.toSet
    val de = StopwordsDe.toSet
    val fr = StopwordsFr.toSet
    val kernel = udf((ws: Seq[String]) => Option(ws).map { ws =>
      var nEn = 0; var nDe = 0; var nFr = 0
      ws.foreach { w =>
        if (en(w)) nEn += 1
        if (de(w)) nDe += 1
        if (fr(w)) nFr += 1
      }
      val n = ws.length
      val (rEn, rDe, rFr) =
        if (n > 0) (nEn.toDouble / n, nDe.toDouble / n, nFr.toDouble / n)
        else (0.0, 0.0, 0.0)
      if (rEn >= rDe && rEn >= rFr && rEn > 0.05) "en"
      else if (rDe >= rFr && rDe > 0.05) "de"
      else if (rFr > 0.05) "fr"
      else "und"
    }.getOrElse("und")) // null text → "und", same as the expression form
    kernel(words(text))
  }

  // ---- quality scoring ----

  /** Fraction of characters that are alphanumeric or whitespace. */
  def alnumRatio(text: Column): Column =
    when(length(text) > 0,
      (length(regexp_replace(text, "[^A-Za-z0-9 ]", "")).cast("double")) / length(text))
      .otherwise(lit(0.0))

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column =
    // Fused scalar (round-22): one byte scan, no re-scan per reference in
    // codegen contexts without subexpression elimination (see
    // QualityScoreRawExpr's doc). Value-identical to the regex form below
    // incl. the NULL→0.0 when-fold (QualityStatsParitySpec).
    org.apache.spark.sql.graft.QualityStatsExpr.punctRatio(text)

  /** Regex form of [[punctRatio]] — parity reference for
    * QualityStatsParitySpec. */
  private[graft] def punctRatioRegex(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", "")).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Mean word length (0 for empty docs). */
  def meanWordLen(text: Column): Column =
    // Fused scalar (round-22), see [[punctRatio]].
    org.apache.spark.sql.graft.QualityStatsExpr.meanWordLen(text)

  /** Aggregate-over-words form of [[meanWordLen]] — parity reference for
    * QualityStatsParitySpec. */
  private[graft] def meanWordLenAgg(text: Column): Column = {
    val ws = wordsRegex(text)
    when(size(ws) > 0,
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /**
   * Composite quality score in [0,1]: length credit (saturating at 200
   * words), low punctuation, sane mean word length (2..12), nonzero
   * stopword presence. The shape follows the usual corpus-cleaning
   * heuristics (Gopher/C4-style rules), engine-portable arithmetic only.
   */
  def qualityScore(text: Column): Column =
    // Fully fused scalar (round-22): ONE scan computes the unrounded
    // score; only Spark's own round(_, 4) stays at Column level (now a
    // single reference). The round-21 struct form evaluated its stats
    // struct once per field reference (~9×/row) in codegen contexts
    // without subexpression elimination — Filter consumers like cleanDocs
    // paid it per row per predicate evaluation (measured q69 0.37→0.77 s
    // on the naive codegen switch, restored to 0.2x by this fusion).
    // QualityStatsParitySpec pins scalar == regex forms.
    round(org.apache.spark.sql.graft.QualityStatsExpr.scoreRaw(text), 4)

  /** The four-pass form [[qualityScore]] replaced — parity reference for
    * QualityStatsParitySpec. */
  private[graft] def qualityScoreRegex(text: Column): Column = {
    val ws = wordsRegex(text)
    val nWords = size(ws).cast("double")
    val lengthCredit = least(nWords / 200.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatioRegex(text) * 5)
    val mwl = meanWordLenAgg(text)
    val wordShape = when(mwl >= 2 && mwl <= 12, 1.0).otherwise(0.5)
    val stopCredit = when(stopRatio(ws, StopwordsEn) > 0.05, 1.0).otherwise(0.7)
    round(lengthCredit * 0.4 + punctPenalty * 0.2 + wordShape * 0.2 + stopCredit * 0.2, 4)
  }

  /** Whole-document fingerprint: rolling hash of the full text. */
  def fingerprint(text: Column): Column = portableHash(text)

  /**
   * Corpus vocabulary with term and document frequencies — the
   * vocabulary-building / IDF front end of a training-data pipeline.
   * One explode + one aggregation (map-side partial counts), shuffle
   * keyed by term: at 100 TB the only caveat is head-word skew, which
   * partial aggregation absorbs (each mapper pre-counts its split).
   * Output: word, n (term frequency), nd (document frequency).
   */
  def vocabulary(docs: org.apache.spark.sql.DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    docs.select(org.apache.spark.sql.functions.col(idCol).as("doc_id"),
        explode(words(org.apache.spark.sql.functions.col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))

  /**
   * Deterministic train/validation/test assignment by hashing the doc id:
   * bucket = portable_hash(id || ':' || salt) mod 10000, mapped onto the
   * cumulative weight ranges. Hash-based (not `randomSplit`) because a
   * training-corpus split must be STABLE — reproducible across runs,
   * cluster sizes, and partitionings, and unchanged for existing docs when
   * the corpus grows. Pure codegen'd expression: no shuffle at all, and
   * the assignment can be re-derived (or pushed into a filter) anywhere
   * downstream instead of persisting a split table.
   *
   * @param weights (split_name, weight) in assignment order; weights are
   *                normalized over their sum.
   */
  def hashSplit(docs: org.apache.spark.sql.DataFrame,
      weights: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      idCol: String = "doc_id", salt: String = "split"): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w / total * 10000)
    }.tail
    val bucket = pmod(portableHash(
      concat(col(idCol).cast("string"), lit(":" + salt))), lit(10000L))
    val assign = weights.map(_._1).zip(bounds).init
      .foldRight(lit(weights.last._1): Column) { case ((name, hi), elseCol) =>
        when(bucket < hi, name).otherwise(elseCol)
      }
    docs.withColumn("split", assign)
  }

  /**
   * Top-`k` TF-IDF terms per document: tf = in-doc term count, idf =
   * ln(N / df) with df = number of docs containing the term. The classic
   * salient-term extractor / keyword front end. Scale shape: one explode +
   * two aggregations; the (word, df) relation is vocabulary-sized, so its
   * join back onto per-doc term counts broadcasts for natural-language
   * vocabularies even when the corpus itself is 100 TB. Scores are rounded
   * to 4 decimals (with the term as tie-break) so rankings are
   * reproducible across engines.
   *
   * The corpus size N is folded into the plan as a broadcast 1-row
   * aggregate (scalar-subquery shape) — no driver-side count at
   * plan-build time, so one invocation is exactly one job. The per-doc
   * rank filter is planned with a partial `WindowGroupLimit` before the
   * exchange, so each task forwards at most k terms per document.
   */
  def tfIdfTopTerms(docs: org.apache.spark.sql.DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol).as("doc_id"),
        explode(words(col(textCol))).as("word"))
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      // floor(x*1e4+0.5)/1e4, not round(x, 4): Spark's double round is a
      // per-row BigDecimal string-parse, and this column is computed for
      // every distinct (doc, word) pair BEFORE the top-k filter. The score
      // is non-negative (tf >= 1, df <= n), so half-up floor is identical.
      .withColumn("score",
        floor(col("tf") * log(col("__n") / col("df")) * 1e4 + 0.5) / 1e4)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "word", "tf", "df", "score")
  }

  /**
   * BM25 keyword retrieval — Okapi BM25 (Robertson & Walker; the Lucene
   * `(1 + (N − df + 0.5)/(df + 0.5))` idf form, always positive) scored
   * top-k per query over the corpus. The curation use: pull topic slices
   * out of a pretraining corpus by keyword relevance rather than
   * substring match. `queries` is a long-form (query_id, term) relation
   * with SET semantics: duplicate (query_id, term) rows are collapsed
   * before scoring, so a term contributes to a query's score once.
   *
   * score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
   *
   * Scale shape: the query-term dictionary broadcasts and filters the
   * exploded token stream BEFORE any aggregation, so tf/df relations are
   * bounded by |query terms ∩ corpus|, not the vocabulary; N and avgdl
   * are one broadcast 1-row aggregate; the only per-doc shuffles carry
   * narrow (doc, term, tf) and (query, doc, score) rows — corpus text
   * never rides an exchange. The per-(query, doc) term sum folds in TERM
   * ORDER (array_sort over (term, score) structs) so the double score is
   * reproducible across partitionings and engines; ranks break ties by
   * doc id. The final per-query rank filter is planned with a partial
   * `WindowGroupLimit` before the exchange, so however large the query
   * batch, each task forwards at most k rows per query.
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col(idCol).as("doc_id"),
      size(words(col(textCol))).cast("double").as("dl"))
    val stats = dl
      .agg(count(lit(1)).cast("double").as("__n"), sum(col("dl")).as("__s"))
      .select(col("__n"), (col("__s") / col("__n")).as("__avgdl"))
    // set-of-terms semantics: duplicate (query_id, term) rows in the
    // input collapse here — without this, the final qTerms join would
    // fan out scored rows and the term-ordered fold would double-count
    val qTerms = queries.select(col("query_id"), col("term")).distinct()
    val terms = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("term"))
      .join(broadcast(qTerms.select("term").distinct()), "term")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("s", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .join(broadcast(qTerms), "term")
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored.groupBy("query_id", "doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("s")))),
        lit(0.0), (acc, e) => acc + e("s")).as("raw"))
      // non-negative → half-up floor == round, without the BigDecimal path
      .withColumn("score", floor(col("raw") * 1e4 + 0.5) / 1e4)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /**
   * Bounded top-`k` (score, id) aggregate. It is partial-aggregatable, so
   * each map task forwards at most k pairs per key and the exchange
   * carries k·partitions rows per key no matter how many candidates were
   * scored. A `row_number() <= k` filter gets the same per-task bound
   * from Spark's `WindowGroupLimit`. The aggregate is measured faster
   * where keys are many and candidates per key few (every vector an
   * anchor in [[Similarity.hardNegatives]]); it also serves the IVF-PQ
   * rerank shortlists and [[dsirSelect]]. Total order: higher score
   * wins, ties to the smaller id — merge-order invariant. Returns the
   * best-first array<struct<score, id>>.
   */
  def topKByScore(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.expressions.Aggregator
    require(k > 0, s"topKByScore needs k > 0, got $k")
    // (score, id) better-than: score desc, id asc
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    udaf(new Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
      override def zero: Seq[(Double, Long)] = Vector.empty
      private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
        s.sortWith(better).take(k)
      override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
        // cheap reject keeps the common case allocation-free: a full
        // buffer whose worst element beats the row drops it outright
        if (buf.length >= k && !better(in, buf.last)) buf else trim(buf :+ in)
      override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
        trim(a ++ b)
      override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf
      override def bufferEncoder = ExpressionEncoder[Seq[(Double, Long)]]()
      override def outputEncoder = ExpressionEncoder[Seq[(Double, Long)]]()
    }, ExpressionEncoder[(Double, Long)]())
  }

  /**
   * Statistical-LM fluency scoring, the model-based quality filter of a
   * training pipeline (CCNet/KenLM-style, green-field): a bigram MLE
   * model is estimated from the corpus itself and every document scored
   * by its mean log conditional probability, ln c(w_i,w_{i+1}) − ln
   * c(w_i), averaged over bigram positions. Low scores = improbable word
   * sequences (gibberish, boilerplate soup); self-scoring needs no
   * smoothing (every observed bigram has count ≥ 1).
   *
   * Scale shape: two corpus-keyed count aggregates (map-side partial),
   * two equi-joins on gram HASHES (narrow keys; count sides broadcast by
   * AQE when the vocabulary is small), and one per-doc aggregate whose
   * sum folds in POSITION ORDER (`array_sort` over (pos, lp) structs) so
   * the double result is reproducible across partitionings and engines.
   * Output: doc_id, n_bigrams, avg_lp (round 4; docs with < 2 words get
   * a NULL score and n_bigrams = 0).
   */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val uniCounts = docs.select(explode(ngramHashes(col(textCol), 1)).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
    val biCounts = docs.select(explode(ngramHashes(col(textCol), 2)).as("h2"))
      .groupBy("h2").agg(count(lit(1)).as("c2"))
    val positions = docs.select(col(idCol).as("doc_id"),
        posexplode(zip_with(
          ngramHashes(col(textCol), 2),
          ngramHashes(col(textCol), 1), // element i = hash of word i alone
          (b, u) => struct(b.as("h2"), u.as("h1")))).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), col("g")("h2").as("h2"),
        col("g")("h1").as("h1"))
    val scored = positions
      .join(biCounts, "h2").join(uniCounts, "h1")
      .withColumn("lp", log(col("c2").cast("double") / col("c1")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(aggregate(
          array_sort(collect_list(struct(col("pos"), col("lp").as("lp")))),
          lit(0.0), (acc, x) => acc + x("lp")) / count(lit(1)), 4).as("avg_lp"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /**
   * Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
   * the MOSS algorithm): positional k-gram hashes, sliding windows of
   * `w` consecutive hashes, each window contributing its MINIMUM hash
   * (ties to the RIGHTMOST occurrence); the distinct (position, hash)
   * pairs are the fingerprint set. Guarantee: any shared run of at
   * least w+k−1 consecutive words between two documents shares at least
   * one fingerprint — the local-sampling alternative to MinHash when
   * positions matter (plagiarism localization, overlap mapping) and a
   * per-document sampling-density guarantee is needed rather than a
   * whole-document similarity estimate.
   *
   * Scale shape: a shuffle-free per-document projection — positional
   * hashes plus one higher-order window fold, all inside codegen;
   * fingerprint join/grouping downstream shuffles only narrow
   * (doc_id, pos, fp) rows. Documents with fewer than w grams winnow
   * one whole-document window; documents with no k-gram emit nothing.
   *
   * Output: (doc_id, pos, fp).
   */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    // the zero-gram filter must run BEFORE the position zip: Spark's
    // sequence(0, -1) is [0, -1] (descending), and zip_with would pad
    // the empty hash list with null structs
    val hs = ngramHashes(col(textCol), k)
    val hp = zip_with(col("__hs"), sequence(lit(0), size(col("__hs")) - 1),
      (h, p) => struct(h.as("h"), p.as("p")))
    // min-fold of hp[i .. i+len-1], init = first element (the DuckDB
    // list_reduce shape); <= keeps the RIGHTMOST minimum
    def winMin(hpCol: Column, i: Column, len: Column): Column =
      aggregate(slice(hpCol, i + 2, len - 1), element_at(hpCol, i + 1),
        (a, x) => when(x("h") <= a("h"), x).otherwise(a))
    def fps(hpCol: Column): Column = {
      val n = size(hpCol)
      when(n >= w,
          transform(sequence(lit(0), n - w), i => winMin(hpCol, i, lit(w))))
        .otherwise(array(winMin(hpCol, lit(0), n)))
    }
    // canonical winnowing emission: a given (pos, hash) can only be the
    // min of a CONSECUTIVE run of overlapping windows, so skipping any
    // window whose min equals the previous window's removes all
    // duplicates in-row — no distinct shuffle
    def emit(raw: Column): Column = transform(
      filter(sequence(lit(0), size(raw) - 1), j =>
        (j === 0) || !(element_at(raw, j + 1) === element_at(raw, j))),
      j => element_at(raw, j + 1))
    docs.select(col(idCol).as("doc_id"), hs.as("__hs"))
      .filter(size(col("__hs")) >= 1)
      .select(col("doc_id"), hp.as("__hp"))
      .select(col("doc_id"), fps(col("__hp")).as("__raw"))
      .select(col("doc_id"), explode(emit(col("__raw"))).as("f"))
      .select(col("doc_id"), col("f")("p").as("pos"), col("f")("h").as("fp"))
  }

  /**
   * Cross-source overlap matrix — for every ordered source pair, how
   * many distinct grams they share and what fraction of the first
   * source's gram vocabulary that is: the corpus-datasheet row that
   * tells you "src A is largely a re-crawl of src B" BEFORE paying for
   * pairwise document dedup across them. Diagonal rows report each
   * source's own distinct-gram count (overlap_frac = 1).
   *
   * Scale shape: distinct (source, gram-hash) rows — bounded by
   * sources × gram vocabulary, already collapsed from the corpus by a
   * map-side-combined distinct — then a self-equi-join on gram hash
   * whose output is bounded by vocabulary × sources²; all shuffles are
   * gram-hash keyed, text never leaves the first projection.
   */
  def sourceOverlapMatrix(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val grams = docs.select(col(sourceCol).as("source"),
        explode(shingleHashes(col(textCol), 3)).as("h"))
      .distinct()
    val totals = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    grams.as("a")
      .join(grams.as("b"), "h")
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(totals.withColumnsRenamed(
        Map("source" -> "src_a", "n_grams" -> "grams_a"))), "src_a")
      // non-negative ratio of exact ints — half-up floor == round
      .withColumn("overlap_frac",
        floor(col("shared_grams") / col("grams_a") * 1e4 + 0.5) / 1e4)
  }

  /**
   * Blocklist document filter — the C4-style "banned word list" stage: a
   * document is dropped when any of its words is on the list. Reports
   * the per-document hit count plus the keep verdict so a pipeline can
   * either filter on `keep` or audit list hit-rates before committing
   * to a cut. The list is compiled into a literal array (a wordlist is
   * KBs even at List-of-Dirty-Words scale), so the operator is a pure
   * shuffle-free codegen projection that composes with the other
   * document filters ([[gopherRules]], [[c4Clean]]) without a plan
   * break.
   */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val norm = blocklist.map(_.toLowerCase)
    // the filter compares against words() tokens, so an entry that is
    // not itself a single [a-z0-9]+ token (hyphenated/multi-word C4 list
    // entries) could never match — fail loudly instead of silently
    // no-op'ing; phrase entries belong in Extract.extractDict
    norm.find(!_.matches("[a-z0-9]+")).foreach(w => throw new
      IllegalArgumentException(s"blocklist entry '$w' is not a single " +
        "[a-z0-9]+ token; use Extract.extractDict for phrases/punctuation"))
    val bl = array(norm.map(lit): _*)
    docs.select(col(idCol).as("doc_id"),
        size(filter(words(col(textCol)), w => array_contains(bl, w)))
          .cast("long").as("n_banned"))
      .withColumn("keep", col("n_banned") === 0)
  }

  /**
   * Winnowed overlap pairs — document pairs sharing at least `minShared`
   * winnowing fingerprints ([[winnowFingerprints]]), with the shared
   * count: the plagiarism/near-copy PAIR report built on the SAMPLED
   * fingerprint index instead of the full gram stream. Winnowing keeps
   * ~2/(w+1) of the grams, so the pair join's input (and the index a
   * production system would persist) is a fraction of
   * [[graft.operators.Dedup.duplicatedSpans]]' positional gram table —
   * the standard index-size/recall trade, with the w+k−1 shared-run
   * guarantee bounding what sampling can miss.
   *
   * Scale shape: distinct (doc, fp) rows, one hash-keyed equi-join, one
   * pair-keyed count — narrow rows end to end. A fingerprint shared by m
   * docs yields m² pair rows (the monster-bucket shape): `maxFpDocs` > 0
   * drops fingerprints present in more docs than that BEFORE the join —
   * ubiquitous-boilerplate fingerprints carry no pair information
   * anyway — bounding the join's fan-out the same way the MinHash band
   * valve does.
   */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 3, maxFpDocs: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col("doc_id"), col("fp")).distinct()
    val pruned = if (maxFpDocs <= 0) fps else
      fps.join(fps.groupBy("fp").agg(count(lit(1)).as("__nd"))
          .filter(col("__nd") > maxFpDocs).select("fp"),
        Seq("fp"), "left_anti")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /**
   * Tokenizer fertility / compression report per language — a tokenizer
   * health metric for a multilingual corpus datasheet: subword fertility
   * (subword tokens per word) and characters per subword token, per
   * language. High-fertility languages are under-served by the tokenizer
   * (more tokens per word → shorter effective context, higher training
   * cost per word) — the standard signal for rebalancing tokenizer
   * training data. Uses the engine's BPE-ish proxy counter
   * ([[tokenCountBpe]]); swap in a real tokenizer via the same columns.
   *
   * Deterministic and shuffle-frugal: ONE map-side-combined aggregation
   * of exact integer sums per language; the two ratios are single double
   * divisions of exact integers (aggregation-order-free), rounded
   * half-up to 4dp.
   */
  def tokenizerFertility(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame =
    docs.select(col(langCol).as("lang"),
        size(words(col(textCol))).cast("long").as("nw"),
        tokenCountBpe(col(textCol)).cast("long").as("nt"),
        length(col(textCol)).cast("long").as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("words"),
        sum("nt").as("tokens"), sum("nc").as("chars"))
      // explicit zero-denominator guards: Spark's x/0 is NULL while
      // DuckDB's is inf/nan — pin NULL on both sides for a language
      // whose docs have no words (or no tokens)
      .withColumn("fertility", when(col("words") > 0,
        floor(col("tokens") / col("words") * 1e4 + 0.5) / 1e4))
      .withColumn("chars_per_token", when(col("tokens") > 0,
        floor(col("chars") / col("tokens") * 1e4 + 0.5) / 1e4))

  /**
   * N-gram novelty scoring — per document, how much of it is NOT shared
   * boilerplate: `novelty = 1 − shared_grams / n_grams`, where a gram is
   * shared when its hash occurs in at least `minDocs` documents
   * corpus-wide. The per-document "duplication profile" complement to
   * the pairwise dedup detectors: low-novelty documents are assembled
   * from corpus-common fragments (templates, boilerplate, spins) even
   * when no single other document is a near-duplicate, and a training
   * sampler can down-weight them (memorization risk scales with
   * repetition).
   *
   * Scale shape: same as the decontamination/leakage family — the only
   * shuffles are keyed by gram HASH (narrow (doc_id, hash) rows) and by
   * doc_id for the final fold; exact integer counts, one rounded double
   * ratio at the end.
   */
  def ngramNovelty(docs: DataFrame, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(shingleHashes(col(textCol), 3)).as("h"))
    val df = grams.groupBy("h").agg(count(lit(1)).as("nd"))
    grams.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("shared_grams"))
      .withColumn("novelty", floor(
        (lit(1.0) - col("shared_grams") / col("n_grams")) * 1e4 + 0.5) / 1e4)
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
   * document with the corpus-estimated bigram LM ([[bigramLogProb]], the
   * KenLM seat in this engine) and bucket it head/middle/tail WITHIN its
   * language by fluency percentile — head = the most fluent `headFrac`
   * of each language, tail = the least fluent `tailFrac`. The canonical
   * curation rule ("train on head+middle, drop tail") is then a plain
   * filter on `bucket`, per language, with no absolute threshold to tune
   * across languages of different model quality.
   *
   * Scale shape: inherits [[bigramLogProb]]'s narrow gram-hash shuffles,
   * then ONE window over the slim (doc_id, lang, n_bigrams, avg_lp)
   * relation, partitioned by language — document text never rides the
   * percentile sort. Determinism: the window orders by (avg_lp DESC
   * NULLS LAST, doc_id), a unique composite, so cume_dist is exactly
   * rank/N on both engines; scoreless docs (< 2 words) sort last and are
   * pinned to "tail" explicitly.
   */
  def ccnetBuckets(docs: DataFrame, headFrac: Double = 0.3,
      tailFrac: Double = 0.3, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    require(headFrac >= 0 && tailFrac >= 0 && headFrac + tailFrac <= 1.0,
      s"head/tail fractions must be non-negative and sum <= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLogProb(docs, idCol, textCol)
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_lp").desc_nulls_last, col("doc_id"))
    scored
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")), "doc_id")
      .withColumn("pct", round(cume_dist().over(w), 6))
      .withColumn("bucket",
        when(col("avg_lp").isNull, "tail")
          .when(col("pct") <= headFrac, "head")
          .when(col("pct") <= lit(1.0) - tailFrac, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_lp"),
        col("pct"), col("bucket"))
  }

  /**
   * fastText-style quality classifier (the LLaMA/CCNet "is this page
   * reference-quality?" filter, Joulin et al. 2017 shape): a multinomial
   * Naive Bayes log-linear model over HASHED unigram features, trained
   * from an in-corpus seed rule (`seed` marks the curated/positive
   * documents) and applied back to every document as a per-token
   * log-likelihood-ratio sum plus the class-prior log-odds.
   *
   * This is deliberately the linear-classifier half of fastText (bag of
   * hashed features, bounded table, linear decision) with closed-form NB
   * fitting instead of SGD: training is TWO aggregation passes, both
   * map-side combinable, and fitting is deterministic on any cluster —
   * no learning rate, no epoch order, no float-sum race. Laplace
   * smoothing (+1 over the full `buckets` feature space) keeps every
   * bucket's ratio finite.
   *
   * Scale shape (the reason the feature space is bounded): token
   * features hash into `buckets` (default 2^16) so the fitted model is
   * at most `buckets` narrow rows — BROADCAST to the scoring join no
   * matter the corpus size. Training shuffles only (bucket) partial
   * counts (map-side combine caps each task's exchange at `buckets`
   * rows); scoring is a broadcast hash join on the token stream plus ONE
   * doc_id shuffle for the position-ordered fold. Nothing corpus-sized
   * crosses an exchange except the narrow (doc_id, pos, bucket) stream.
   * Determinism: the per-doc score folds llr terms in token-position
   * order (the [[bigramLogProb]] discipline), so the double sum is
   * identical on every engine, partitioning, and run.
   *
   * Output: (doc_id, n_tokens, score, label) — label = 1 iff the rounded
   * log-odds score is positive; tokenless docs score the prior alone.
   */
  def nbQualityClassifier(docs: DataFrame, seed: Column,
      buckets: Int = 1 << 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val b = lit(buckets.toLong)
    // (doc_id, is_pos, pos, bucket) token stream — narrow, shuffle-free
    val tok = docs.select(col(idCol).as("doc_id"),
        seed.cast("int").as("is_pos"),
        posexplode(ngramHashes(col(textCol), 1)).as(Seq("pos", "h")))
      .withColumn("bucket", col("h") % b).drop("h")
    // pass 1: per-bucket class counts (<= buckets rows after combine)
    val bucketCounts = tok.groupBy("bucket")
      .agg(sum(col("is_pos")).as("c_pos"),
        sum(lit(1) - col("is_pos")).as("c_neg"))
    // pass 2: scalar totals — token mass per class, doc count per class
    val tokTotals = tok.agg(sum(col("is_pos")).as("ntp"),
      sum(lit(1) - col("is_pos")).as("ntn"))
    val docTotals = docs.agg(
      sum(seed.cast("int")).as("ndp"),
      sum(lit(1) - seed.cast("int")).as("ndn"))
    // fitted model: bounded, broadcast; llr structurally identical to the
    // oracle SQL so the doubles agree bit-for-bit
    val model = bucketCounts.crossJoin(broadcast(tokTotals))
      .select(col("bucket"),
        (log((col("c_pos") + 1L).cast("double") / (col("ntp") + b)) -
         log((col("c_neg") + 1L).cast("double") / (col("ntn") + b))).as("llr"))
    val scored = tok.join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("llr").as("llr")))),
          lit(0.0), (acc, x) => acc + x("llr")).as("s"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(docTotals))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(log(col("ndp").cast("double") / col("ndn")) +
          coalesce(col("s"), lit(0.0)), 4).as("score"))
      .withColumn("label", (col("score") > 0).cast("int"))
  }

  /**
   * HyperLogLog distinct-token estimate per group (Flajolet et al. 2007)
   * — the corpus-datasheet cardinality column that exact `COUNT DISTINCT`
   * cannot provide at 100 TB: exact distinct shuffles every distinct
   * token once (vocabulary-sized exchange, tens of billions of rows for
   * a web corpus), while this sketch's exchange is capped at
   * `2^p` register rows per (task, group) by map-side partial MAX — the
   * whole reduction is O(groups × 2^p) no matter the corpus size, and
   * register arrays merge associatively across any partitioning.
   *
   * Hashing uses the ~62-bit [[org.apache.spark.sql.graft.WideHash]]
   * fingerprint (two mirrored 31-bit polynomial folds packed into one
   * long), then QUADRATIC-cross-mixes the components mod P before use
   * (`u = (x²·a + other·c + b) mod P`): the raw polynomial fold has no
   * avalanche — short sequential words ("w1".."w30000") never wrap the
   * modulus, so their top bits are structured and a rank statistic read
   * directly off them collapses (measured: est 1.9k for 30k distinct) —
   * and an AFFINE universal mix can't repair that, because it is a
   * bijection mod P whose image of a clumped set is a lattice with
   * non-Poisson counts in the small-value tail the rank statistic reads
   * (measured: ±9–18% set-dependent bias); the quadratic term breaks the
   * lattice (all six adversarial word-set probes within ±1.1%, inside
   * the 1.04/√m ≈ 1.6% standard error). After mixing, the base-31
   * component picks the register (low `p` bits) and the base-131
   * component is the 31-bit rank word, its
   * leading-zero count computed exactly via `bin()` string length — no
   * float log2 edge cases. Estimation is the standard alpha·m²/Σ2^-M
   * with the small-range linear-counting correction. Determinism: the
   * register fold runs in bucket order (the position-ordered-fold
   * discipline), so the double sum is identical on every engine and
   * partitioning, and the SQL oracle mirrors it term for term.
   *
   * Output: (groupCol, n_tokens, n_regs, est_distinct) — exact token
   * instance count (free: the register pass already carries per-bucket
   * counts), occupied registers, and the rounded cardinality estimate.
   */
  def hllDistinctTokens(docs: DataFrame, p: Int = 12,
      groupCol: String = "source", textCol: String = "text"): DataFrame =
    hllEstimate(hllRegisters(docs, p, groupCol, textCol), p, groupCol)

  /**
   * The PERSISTABLE half of [[hllDistinctTokens]]: the per-(group,
   * register) sketch relation `(grp, bucket, r, c)` — max rank and exact
   * token-instance count per occupied register. At most `2^p` rows per
   * group, and MERGEABLE: registers of two corpus slices combine with
   * `MAX(r), SUM(c)` per (grp, bucket) ([[hllMergeRegisters]]), which is
   * associative and commutative, so an incremental corpus-datasheet
   * pipeline stores this relation and folds each new batch's registers
   * in — no corpus re-scan, ever — then reads the estimate off the
   * merged sketch with [[hllEstimate]]. Hashing/mixing/rank details: see
   * [[hllDistinctTokens]].
   *
   * TAKEDOWN policy (shared by every add-only register family here —
   * HLL, CMS, length-hist, minhash signatures): a MAX/SUM/MIN register
   * cannot subtract a deleted document, so deletions are handled by
   * REBUILDING ONLY THE AFFECTED GROUPS — registers are keyed by `grp`,
   * so a takedown in source s invalidates exactly s's rows; recompute
   * them from s's surviving documents (cost ∝ |source|, never the
   * corpus) and union with every untouched group's stored rows. The
   * merge law (`registers(A ∪ B) ≡ merge(registers(A), registers(B))`,
   * applied per group) makes the patched relation IDENTICAL to a full
   * recompute on (corpus − deletions) — PipelineOpsSpec asserts this
   * row-for-row for all five families (HLL, CMS, length-hist, minhash signatures, bloom).
   */
  def hllRegisters(docs: DataFrame, p: Int = 12,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(p >= 4 && p <= 24, "p must be in [4, 24]")
    val m = 1 << p
    val w = 31 // rank-word width: the mixed base-131 component
    mixedHash(docs.select(col(groupCol).as("grp"),
        explode(words(col(textCol))).as("word")), "word")
      .select(col("grp"), col("u1").bitwiseAND(lit((m - 1).toLong)).as("bucket"),
        col("u2"))
      .withColumn("rho", when(col("u2") === 0, lit(w + 1))
        .otherwise(lit(w + 1) - length(ltrim(bin(col("u2")), "0"))))
      .groupBy("grp", "bucket")
      .agg(max(col("rho")).as("r"), count(lit(1)).as("c"))
  }

  /** WideHash + the quadratic cross-mix shared by the sketch family
    * ([[hllRegisters]], [[cmsRegisters]]): appends well-mixed 31-bit
    * components `u1`/`u2` computed from `wordCol`, keeping every other
    * column. Quadratic, not affine — measured on the HLL family, affine
    * mixing of the two polynomial components leaves a ±9–18 % lattice
    * bias in the register distribution; the quadratic form lands within
    * ±1.1 % (see [[hllDistinctTokens]]). */
  private def mixedHash(df: DataFrame, wordCol: String): DataFrame =
    df.withColumn("__h", org.apache.spark.sql.graft.WideHash(col(wordCol)))
      .withColumn("__x1", expr("__h div 2147483647"))
      .withColumn("__x2", col("__h") % lit(HashP))
      .withColumn("u1",
        (((col("__x1") * col("__x1")) % lit(HashP)) * lit(16807L) +
          col("__x2") * lit(40692L) + lit(12345L)) % lit(HashP))
      .withColumn("u2",
        (((col("__x2") * col("__x2")) % lit(HashP)) * lit(48271L) +
          col("__x1") * lit(69621L) + lit(54321L)) % lit(HashP))
      .drop("__h", "__x1", "__x2", wordCol)

  /** Associative-commutative register merge: MAX rank + SUM count per
    * (grp, bucket). `hllRegisters(A ∪ B) ≡ hllMergeRegisters(
    * hllRegisters(A), hllRegisters(B))` — exactly because per-register
    * max/count are themselves max/sum folds over rows. */
  def hllMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("grp", "bucket")
      .agg(max(col("r")).as("r"), sum(col("c")).as("c"))

  /** Finish a (possibly merged, possibly re-read) [[hllRegisters]]
    * relation into the (groupCol, n_tokens, n_regs, est_distinct) surface
    * — the second half of [[hllDistinctTokens]], usable directly on a
    * stored sketch. */
  def hllEstimate(reg: DataFrame, p: Int = 12,
      groupCol: String = "source"): DataFrame = {
    require(p >= 4 && p <= 24, "p must be in [4, 24]")
    val m = 1 << p
    val md = m.toDouble
    reg.groupBy("grp")
      .agg(count(lit(1)).as("n_regs"), sum(col("c")).as("n_tokens"),
        array_sort(collect_list(struct(col("bucket"), col("r")))).as("rs"))
      .select(col("grp"), col("n_tokens"), col("n_regs"),
        aggregate(col("rs"), (lit(m.toLong) - col("n_regs")).cast("double"),
          (acc, x) => acc + pow(lit(2.0), -x("r"))).as("s"))
      .withColumn("raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(md)) * lit(md) * lit(md) /
          col("s"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("n_regs"),
        round(when(col("raw") <= lit(2.5) * lit(md) && col("n_regs") < m,
            lit(md) * log(lit(md) /
              (lit(m.toLong) - col("n_regs")).cast("double")))
          .otherwise(col("raw")), 4).as("est_distinct"))
  }

  /**
   * Count-Min sketch of per-group token frequencies (Cormode &
   * Muthukrishnan 2005, "An improved data stream summary: the count-min
   * sketch and its applications"): `d` hash rows × `2^logW` counters per
   * group; a probe token's estimated count is the MIN over its `d`
   * counters — never an underestimate, overestimate bounded by
   * collisions (ε ≈ e/w of the group's token mass at δ ≈ e^-d). The
   * datasheet heavy-hitter column exact per-token GROUP BY can't provide
   * at 100 TB without shuffling the whole (growing) vocabulary: here the
   * exchange is capped at `d·w` counter rows per (task, group) by
   * map-side partial aggregation, the sketch itself is a bounded
   * relation, and probing is a join against that bounded relation.
   * Hash rows are double-hashing composites `u1 + i·u2 mod P`
   * (Kirsch–Mitzenmacher construction) over the same quadratic-mixed
   * WideHash components as [[hllDistinctTokens]] — deterministic,
   * partition-invariant, and mirrored term-for-term by the SQL oracle.
   *
   * Output: (groupCol, token, est_count) for each probe token.
   */
  def cmsTokenCounts(docs: DataFrame, probes: Seq[String], d: Int = 4,
      logW: Int = 10, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    cmsEstimate(cmsRegisters(docs, d, logW, groupCol, textCol), probes,
      d, logW, groupCol)

  /**
   * The PERSISTABLE half of [[cmsTokenCounts]]: the per-group counter
   * relation `(grp, row, bucket, cnt)` — at most `d·2^logW` rows per
   * group, and MERGEABLE: counters of two corpus slices combine with
   * `SUM(cnt)` per (grp, row, bucket) ([[cmsMergeRegisters]]), which is
   * associative and commutative, so an incremental pipeline stores this
   * relation and folds each new batch's counters in — no corpus
   * re-scan — then probes the merged sketch with [[cmsEstimate]].
   */
  def cmsRegisters(docs: DataFrame, d: Int = 4, logW: Int = 10,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(d >= 1 && d <= 8, "d must be in [1, 8]")
    require(logW >= 4 && logW <= 20, "logW must be in [4, 20]")
    cmsBuckets(mixedHash(docs.select(col(groupCol).as("grp"),
        explode(words(col(textCol))).as("word")), "word"), d, logW)
      .groupBy("grp", "row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Double-hashing bucket fan-out shared by the register build and the
    * probe side: one input row → `d` (row, bucket) rows, bucket_i =
    * (u1 + i·u2 mod P) masked to the low logW bits. */
  private def cmsBuckets(mixed: DataFrame, d: Int, logW: Int): DataFrame =
    mixed
      .select(col("*"), explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("bucket",
        ((col("u1") + col("row").cast("long") * col("u2")) % lit(HashP))
          .bitwiseAND(lit(((1 << logW) - 1).toLong)))
      .drop("u1", "u2")

  /** Associative-commutative counter merge: SUM per (grp, row, bucket).
    * `cmsRegisters(A ∪ B) ≡ cmsMergeRegisters(cmsRegisters(A),
    * cmsRegisters(B))` — exactly because counters are sums over rows. */
  def cmsMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("grp", "row", "bucket")
      .agg(sum(col("cnt")).as("cnt"))

  /** Probe a (possibly merged, possibly re-read) [[cmsRegisters]]
    * relation: each probe token's `d` (row, bucket) addresses join the
    * sketch and the estimate is the MIN surviving counter (a missing
    * counter row is a zero counter). The sketch side is bounded by
    * `d·2^logW` rows per group, so it broadcasts — probing never
    * shuffles the corpus, only the bounded sketch. */
  def cmsEstimate(reg: DataFrame, probes: Seq[String], d: Int = 4,
      logW: Int = 10, groupCol: String = "source"): DataFrame = {
    require(probes.nonEmpty, "cmsEstimate needs at least one probe token")
    val spark = reg.sparkSession
    import spark.implicits._
    val pb = cmsBuckets(
      mixedHash(probes.toDF("token").withColumn("word", col("token")),
        "word"), d, logW)
    reg.select("grp").distinct()
      .crossJoin(broadcast(pb))
      .join(broadcast(reg), Seq("grp", "row", "bucket"), "left")
      .groupBy(col("grp"), col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
      .select(col("grp").as(groupCol), col("token"), col("est_count"))
  }

  /**
   * Mergeable BLOOM-FILTER membership sketch over the n-gram set — the
   * MEMBERSHIP member of the bounded-sketch family (cardinality = HLL,
   * frequency = CMS, quantiles = length-hist, similarity = minhash
   * signatures, membership = this). The production use is
   * DECONTAMINATION AT SCALE: [[graft.operators.Dedup.contaminatedDocs]]
   * (q83) ships the eval set's full distinct-gram relation to every
   * probe, which grows with the eval suite; a Bloom filter compresses
   * membership to a FIXED 2^logM bits (128 KiB at the logM=20 default)
   * no matter how many grams went in — the Dolma/CCNet-style bloom
   * decontamination primitive — at the price of a deterministic,
   * quantifiable false-positive rate (never false negatives: a gram
   * that was inserted always reports present). Sizing rule: per-gram
   * FP ≈ (1 − e^(−k·n/m))^k, so at k=4 budget ~20 bits per inserted
   * gram for ≈1e-4 (measured at the sf0.01 gate: logM=14 → 112 of 475
   * docs falsely flagged; logM=20 → zero).
   *
   * Representation: `(grp, word_idx, bits)` — 64 filter bits per row,
   * ≤ 2^logM/64 rows per group, OR-MERGEABLE ([[bloomMergeRegisters]]:
   * bitwise OR is associative, commutative and idempotent, so
   * `registers(A ∪ B) ≡ merge(registers(A), registers(B))` EXACTLY and
   * re-absorbing a batch cannot corrupt the sketch). Probe positions
   * are k double-hashed probes `(h1 + i·h2) mod 2^logM` over the two
   * independent 31-bit components of the wide gram fingerprint
   * ([[wideNgramHashes]] packs `h31·P + h131`) — pure integer
   * arithmetic, mirrored verbatim in the SQL oracle, so membership (and
   * therefore every false positive) is bit-reproducible across engines.
   * Deletions follow the family's rebuild-affected-groups policy
   * (bits cannot be unset; registers are keyed by `grp`).
   *
   * Scale shape: one narrow projection explodes each document's
   * DISTINCT grams into k positions; map-side partial BIT_OR collapses
   * the exchange to ≤ 2^logM/64 rows per (task, group); the corpus text
   * never rides a shuffle.
   */
  def bloomRegisters(docs: DataFrame, logM: Int = 20, k: Int = 4, n: Int = 8,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(logM >= 6 && logM <= 26, s"logM must be in [6, 26], got $logM")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val m = 1L << logM
    docs.select(col(groupCol).as("grp"),
        explode(wideNgramHashes(col(textCol), n)).as("g"))
      .select(col("grp"), expr(s"g div $HashP").as("h1"),
        (col("g") % lit(HashP)).as("h2"))
      .select(col("grp"), explode(expr(
        s"transform(sequence(0, ${k - 1}), i -> (h1 + i * h2) % ${m}L)")).as("pos"))
      .groupBy(col("grp"), expr("pos div 64").as("word_idx"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("bits"))
  }

  /** Associative-commutative-idempotent register merge: bitwise OR per
    * (grp, word_idx). `bloomRegisters(A ∪ B) ≡ bloomMergeRegisters(
    * bloomRegisters(A), bloomRegisters(B))` — exactly, because the
    * registers ARE the OR-fold of their probe bits. */
  def bloomMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("grp", "word_idx")
      .agg(expr("bit_or(bits)").as("bits"))

  /**
   * Decontamination verdict off a [[bloomRegisters]] sketch: for every
   * corpus document, the number of its distinct n-grams the filter
   * reports as members of the eval set (`n_hits`, may include the
   * filter's deterministic false positives — the sketch never
   * UNDERCOUNTS, so `keep = n_hits == 0` errs exclusively toward
   * dropping training documents, the safe direction for eval
   * integrity), plus the keep verdict. All register groups collapse
   * into one filter first (the membership question is "in the eval
   * set", not per-source).
   *
   * Scale shape: the filter BROADCASTS at its fixed ≤ 2^logM/64 rows
   * (2 KiB of bits at the default — vs q83's eval-gram relation that
   * grows with the benchmark suite); corpus grams probe it with a
   * broadcast join and the only exchanges carry narrow
   * (doc, gram, count) rows with map-side partial aggregation. Probing
   * joins nothing corpus-sized.
   */
  def bloomContaminatedDocs(corpus: DataFrame, registers: DataFrame,
      logM: Int = 20, k: Int = 4, n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(logM >= 6 && logM <= 26, s"logM must be in [6, 26], got $logM")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val m = 1L << logM
    val filt = registers.groupBy("word_idx")
      .agg(expr("bit_or(bits)").as("bits"))
    val matched = corpus
      .select(col(idCol).as("doc_id"),
        explode(wideNgramHashes(col(textCol), n)).as("g"))
      .select(col("doc_id"), col("g"), expr(s"g div $HashP").as("h1"),
        (col("g") % lit(HashP)).as("h2"))
      .select(col("doc_id"), col("g"), explode(expr(
        s"transform(sequence(0, ${k - 1}), i -> (h1 + i * h2) % ${m}L)")).as("pos"))
      .join(broadcast(filt), expr("pos div 64") === col("word_idx"))
      .filter(expr("(bits & shiftleft(1L, cast(pos % 64 as int))) != 0"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("__mk"))
      .filter(col("__mk") === k)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0).as("keep"))
  }

  /**
   * Mergeable token-length HISTOGRAM sketch — the quantile member of the
   * bounded-sketch datasheet trio (cardinality = [[hllDistinctTokens]],
   * frequency = [[cmsTokenCounts]], quantiles = this): per-group
   * document token-length percentiles without the corpus-wide
   * percentile sort the exact forms (q115/q128's cume_dist windows) pay.
   * Lengths land in QUARTER-OCTAVE bins addressed by pure integer
   * arithmetic — bin = bitlen(L)·4 + ((4L div 2^(bitlen-1)) mod 4), at
   * most ~128 bins over any 64-bit length — so the per-group relation
   * is bounded, the exchange is capped at #bins rows per (task, group)
   * by map-side partial SUM, and the quantile read-off is a bounded
   * bin-ordered fold (no float bin edges: integer bit arithmetic is
   * identical on every engine and in the SQL oracle). The estimate for
   * percentile q is the LOWER BOUND of the first bin whose cumulative
   * count reaches q·n — within a quarter-octave (≤ ~19 %) of the exact
   * order statistic, deterministic, and rank-conservative.
   *
   * Output: (groupCol, n_docs, p50_est, p95_est).
   */
  def lenHistQuantiles(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    lenHistEstimate(lenHistRegisters(docs, groupCol, textCol), groupCol)

  /**
   * The PERSISTABLE half of [[lenHistQuantiles]]: the per-group bin
   * relation `(grp, bin, cnt)` — bounded (~128 rows max per group) and
   * MERGEABLE with `SUM(cnt)` per (grp, bin) ([[lenHistMerge]]),
   * associative and commutative, so an incremental datasheet stores
   * this relation and folds each new batch's bins in — no corpus
   * re-scan — then reads percentiles off the merged sketch.
   */
  def lenHistRegisters(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    // bitlen via bin() string length (exact integer log2+1, no float);
    // 2^(bitlen-1) via pow is exact in double through 2^52
    val len = size(words(col(textCol))).cast("long")
    docs.select(col(groupCol).as("grp"), len.as("len"))
      .withColumn("b", length(bin(col("len"))).cast("long"))
      .withColumn("bin",
        expr("b * 4 + (((len * 4) div cast(pow(2, b - 1) as bigint)) % 4)"))
      .groupBy("grp", "bin")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Associative-commutative bin merge: SUM per (grp, bin).
    * `lenHistRegisters(A ∪ B) ≡ lenHistMerge(lenHistRegisters(A),
    * lenHistRegisters(B))` — counters are sums over rows. */
  def lenHistMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("grp", "bin")
      .agg(sum(col("cnt")).as("cnt"))

  /** Finish a (possibly merged, possibly re-read) [[lenHistRegisters]]
    * relation into (groupCol, n_docs, p50_est, p95_est): bin-ordered
    * cumulative fold, estimate = lower bound of the first bin whose
    * cumulative count reaches q·n (integer comparison `100·cum ≥ q·n`),
    * lower bound of bin id = 2^(b−1)·(4+quarter) div 4. */
  def lenHistEstimate(reg: DataFrame, groupCol: String = "source"): DataFrame = {
    // lower bound of a quarter-octave bin id, pure integer: b = bin div 4,
    // lo = 2^(b-1)·(4+quarter) div 4 (pow exact in double through 2^52)
    def lo(bin: Column): Column = {
      val b = floor(bin.cast("double") / lit(4.0)).cast("long")
      val base = pow(lit(2.0), (b - lit(1L)).cast("double")).cast("long")
      floor((base * (lit(4L) + pmod(bin, lit(4L)))).cast("double") / lit(4.0))
        .cast("long")
    }
    val step = (acc: Column, x: Column) => struct(
      (acc("cum") + x("cnt")).as("cum"),
      when(acc("p50") >= 0, acc("p50"))
        .otherwise(when((acc("cum") + x("cnt")) * 100 >= lit(50) * acc("n"),
          x("bin")).otherwise(lit(-1L))).as("p50"),
      when(acc("p95") >= 0, acc("p95"))
        .otherwise(when((acc("cum") + x("cnt")) * 100 >= lit(95) * acc("n"),
          x("bin")).otherwise(lit(-1L))).as("p95"),
      acc("n").as("n"))
    reg.groupBy("grp")
      .agg(sum(col("cnt")).as("n_docs"),
        array_sort(collect_list(struct(col("bin"), col("cnt")))).as("rs"))
      .select(col("grp"), col("n_docs"),
        aggregate(col("rs"),
          struct(lit(0L).as("cum"), lit(-1L).as("p50"), lit(-1L).as("p95"),
            col("n_docs").as("n")),
          step).as("f"))
      .select(col("grp").as(groupCol), col("n_docs"),
        lo(col("f")("p50")).as("p50_est"), lo(col("f")("p95")).as("p95_est"))
  }

  /**
   * One-permutation MinHash SOURCE signatures — the SIMILARITY member of
   * the bounded-sketch datasheet family (cardinality =
   * [[hllDistinctTokens]], frequency = [[cmsTokenCounts]], quantiles =
   * [[lenHistQuantiles]], similarity = this): a per-group bucket-minimum
   * sketch (Li, Owen & Zhang 2012, "One permutation hashing") over the
   * token vocabulary, from which cross-source vocabulary Jaccard is
   * estimated WITHOUT the vocabulary-wide distinct + gram-keyed
   * self-join the exact overlap matrix ([[sourceOverlapMatrix]], q135)
   * pays — at a growing web corpus the exact form shuffles the whole
   * (growing) vocabulary once per refresh, while this sketch's exchange
   * is capped at `2^logM` bucket rows per (task, group) by map-side
   * partial MIN, and pair estimation joins only the bounded sketch.
   *
   * Hashing is the family's quadratic-cross-mixed WideHash
   * ([[hllDistinctTokens]] documents why affine mixing is not enough):
   * the mixed base-31 component's low `logM` bits pick the bucket (the
   * HLL register addressing) and the packed 62-bit value
   * `u1·P + u2` is the permutation rank minimized within the bucket —
   * deterministic, partition-invariant, mirrored term-for-term by the
   * SQL oracle. The estimator divides agreeing minima by the count of
   * buckets occupied by EITHER group (`n_eq / (n_a + n_b − n_both)`):
   * within any occupied union-bucket the minimum-ranked token is
   * uniform over the union members there, and the minima agree exactly
   * when it is shared, so `P(agree | bucket occupied) = J` — unbiased.
   * Dividing by the CO-occupied count `n_both` instead is the tempting
   * wrong estimator: a union-bucket holding a single token can only be
   * co-occupied when that token is shared, so conditioning on
   * co-occupancy discards disagreements and inflates J (measured:
   * +0.055 absolute at J=1/3, 15k-token union, logM=12 — 7σ out; the
   * union-occupancy form lands inside 5σ ≈ ±0.037). Standard error
   * ≈ √(J(1−J)/m_occ); ±1.6 % at J=0.5, logM=12.
   *
   * The signature relation is MERGEABLE with per-(grp, bucket) MIN —
   * associative and commutative — so an incremental datasheet stores it
   * and folds each new batch in with [[minhashMergeSignatures]]; the
   * merged sketch is row-identical to recomputation from the union.
   */
  def sourceJaccardSketch(docs: DataFrame, logM: Int = 12,
      groupCol: String = "source", textCol: String = "text"): DataFrame =
    minhashJaccardEstimate(minhashSignatures(docs, logM, groupCol, textCol))

  /**
   * The INCREMENTAL-DATASHEET capstone: the full per-source datasheet —
   * cardinality ([[hllEstimate]]), heavy-hitter frequencies
   * ([[cmsEstimate]]), length quantiles ([[lenHistEstimate]]) and
   * pairwise vocabulary Jaccard ([[minhashJaccardEstimate]]) — read
   * ENTIRELY off the four (typically stored, typically merged) sketch
   * relations. No document relation appears anywhere in the plan: a
   * refresh after a new batch is `merge(stored, batch-registers)` per
   * family followed by this read-off, so the recurring cost of keeping
   * a 100 TB corpus's datasheet current is bounded by the sketch sizes
   * (2^p + d·2^logW + ~128 + 2^logM rows per group), not the corpus.
   *
   * Output: tidy long form `(source, metric, k, value)` — per-source
   * rows carry k = NULL (or the probe token for `token_count`); the
   * similarity member emits one row per source pair with k = the
   * second source.
   */
  def datasheetFromSketches(hllReg: DataFrame, cmsReg: DataFrame,
      lenReg: DataFrame, sigReg: DataFrame, probes: Seq[String],
      p: Int = 12, d: Int = 4, logW: Int = 10): DataFrame = {
    val hll = hllEstimate(hllReg, p)
    val cms = cmsEstimate(cmsReg, probes, d, logW)
    val len = lenHistEstimate(lenReg)
    val jac = minhashJaccardEstimate(sigReg)
    val nk = lit(null).cast("string")
    def row(df: DataFrame, src: Column, metric: String, k: Column,
        value: Column): DataFrame =
      df.select(src.as("source"), lit(metric).as("metric"), k.as("k"),
        value.cast("double").as("value"))
    row(hll, col("source"), "est_distinct_tokens", nk, col("est_distinct"))
      .unionByName(row(hll, col("source"), "n_tokens", nk, col("n_tokens")))
      .unionByName(row(hll, col("source"), "hll_regs", nk, col("n_regs")))
      .unionByName(row(cms, col("source"), "token_count", col("token"),
        col("est_count")))
      .unionByName(row(len, col("source"), "n_docs", nk, col("n_docs")))
      .unionByName(row(len, col("source"), "p50_len", nk, col("p50_est")))
      .unionByName(row(len, col("source"), "p95_len", nk, col("p95_est")))
      .unionByName(row(jac, col("src_a"), "jaccard", col("src_b"),
        col("est_jaccard")))
  }

  /**
   * The PERSISTABLE half of [[sourceJaccardSketch]]: the per-(group,
   * bucket) signature relation `(grp, bucket, v)` — minimum packed
   * 62-bit rank per occupied bucket, at most `2^logM` rows per group.
   * Mergeable with `MIN(v)` per (grp, bucket)
   * ([[minhashMergeSignatures]]).
   */
  def minhashSignatures(docs: DataFrame, logM: Int = 12,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(logM >= 4 && logM <= 20, "logM must be in [4, 20]")
    val m = 1 << logM
    mixedHash(docs.select(col(groupCol).as("grp"),
        explode(words(col(textCol))).as("word")), "word")
      .select(col("grp"),
        col("u1").bitwiseAND(lit((m - 1).toLong)).as("bucket"),
        (col("u1") * lit(HashP) + col("u2")).as("v"))
      .groupBy("grp", "bucket")
      .agg(min(col("v")).as("v"))
  }

  /** Associative-commutative signature merge: MIN rank per (grp,
    * bucket). `minhashSignatures(A ∪ B) ≡ minhashMergeSignatures(
    * minhashSignatures(A), minhashSignatures(B))` — a bucket minimum is
    * itself a MIN fold over rows. */
  def minhashMergeSignatures(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("grp", "bucket")
      .agg(min(col("v")).as("v"))

  /** Estimate pairwise vocabulary Jaccard from a (possibly merged,
    * possibly re-read) [[minhashSignatures]] relation: for each
    * unordered group pair the signatures equi-join on bucket (the
    * sketch side is bounded by `2^logM` rows per group, so it
    * broadcasts — pair estimation never touches the corpus), `n_both`
    * counts co-occupied buckets, `n_eq` counts agreeing minima, and
    * `est_jaccard = n_eq / (n_a + n_b − n_both)` — agreeing minima
    * over UNION-occupied buckets, the unbiased form (see
    * [[sourceJaccardSketch]] for why dividing by `n_both` is wrong) —
    * rounded to 4 decimals with the exact half-up integer trick
    * ([[sourceOverlapMatrix]]'s). Pairs sharing no bucket at all (only
    * possible for near-empty vocabularies at `2^logM` buckets) emit no
    * row, exactly as in the mirrored oracle.
    *
    * Output: (src_a, src_b, n_both, n_eq, est_jaccard), src_a < src_b.
    */
  def minhashJaccardEstimate(sig: DataFrame): DataFrame = {
    val sizes = sig.groupBy("grp").agg(count(lit(1)).as("n_occ"))
    sig.as("a")
      .join(broadcast(sig.as("b")),
        col("a.bucket") === col("b.bucket") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("src_a"), col("b.grp").as("src_b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("a.v") === col("b.v"), 1L).otherwise(0L)).as("n_eq"))
      .join(broadcast(sizes.withColumnsRenamed(
        Map("grp" -> "src_a", "n_occ" -> "n_a"))), "src_a")
      .join(broadcast(sizes.withColumnsRenamed(
        Map("grp" -> "src_b", "n_occ" -> "n_b"))), "src_b")
      .withColumn("est_jaccard",
        floor(col("n_eq") / (col("n_a") + col("n_b") - col("n_both"))
          * 1e4 + 0.5) / 1e4)
      .select("src_a", "src_b", "n_both", "n_eq", "est_jaccard")
  }

  /**
   * Deterministic quality-weighted subsampling (the resampling stage of a
   * data-mixing pipeline): document kept iff `u < rate × quality`, where
   * `u` = portableHash(text)/P is a reproducible pseudo-uniform in [0,1).
   * No RNG state, no shuffle — a codegen'd filter projection whose keep
   * set is identical on every run, partitioning, and engine (the property
   * a resumable 100 TB ingest needs; `rand()` sampling is neither
   * deterministic under retries nor reproducible across engines).
   * Expected keep rate = rate × mean quality.
   */
  def importanceSample(docs: DataFrame, rate: Double,
      textCol: String = "text"): DataFrame = {
    require(rate > 0, "rate must be positive")
    val u = portableHash(col(textCol)).cast("double") / lit(HashP.toDouble)
    docs.filter(u < lit(rate) * qualityScore(col(textCol)))
  }

  /**
   * DSIR-style domain-targeted importance weights (Xie et al. 2023,
   * "Data Selection for Language Models via Importance Resampling"):
   * score every corpus document by the log-likelihood ratio of a
   * hashed-n-gram bag model of the TARGET domain sample vs one of the
   * raw corpus —
   *
   *   weight(d) = Σ_b c_d(b) · ( ln p_tgt(b) − ln p_src(b) ),
   *   p(b) = (c(b) + α) / (N + α·B)   (add-α smoothing over B buckets)
   *
   * where b ranges over the document's own hashed n-gram feature
   * buckets (positional [[ngramHashes]] mod `buckets`). High weight =
   * "looks like the target domain relative to the corpus at large" —
   * the standard continued-pretraining / domain-upsampling selection
   * signal when the target sample is far too small to train a
   * classifier.
   *
   * Scale shape: the two bucket distributions are B-row aggregates
   * (B is a fixed knob) that broadcast back onto the per-doc bucket
   * counts, so nothing wider than (doc_id, bucket, count) ever rides an
   * exchange; the per-doc weight folds its bucket contributions in
   * BUCKET-ID order (one canonical association order for the double
   * sum on any partitioning or engine), rounded half-up to 6dp.
   * Buckets absent from a distribution take the smoothed zero-count
   * mass — α > 0 keeps both logs finite.
   */
  def dsirWeights(corpus: DataFrame, target: DataFrame, n: Int = 2,
      buckets: Int = 4096, alpha: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(buckets > 0 && alpha > 0, "need buckets > 0 and alpha > 0")
    def bucketed(df: DataFrame, withId: Boolean): DataFrame = {
      val cols = (if (withId) Seq(col(idCol).as("doc_id")) else Nil) :+
        explode(transform(ngramHashes(col(textCol), n), h => h % buckets)).as("b")
      df.select(cols: _*)
    }
    def logProbs(df: DataFrame, lamCol: String): DataFrame = {
      val c = bucketed(df, withId = false).groupBy("b").agg(count(lit(1)).as("c"))
      val tot = c.agg(sum("c").as("__N"))
      // ln((c + α) / (N + α·B)); the per-bucket rows later left-join onto
      // doc buckets, with the smoothed zero-count mass as the miss value
      c.crossJoin(broadcast(tot))
        .select(col("b"),
          log((col("c") + lit(alpha)) / (col("__N") + lit(alpha * buckets)))
            .as(lamCol),
          col("__N").as(s"__N$lamCol"))
    }
    val lamT = logProbs(target, "lt")
    val lamS = logProbs(corpus, "ls")
    // zero-count fallbacks need each distribution's N: carry one row of
    // totals via the broadcast join below (column __Nlt/__Nls on hits;
    // recompute the miss value from a scalar subquery-free crossJoin)
    // An empty target (or corpus) would make every log-prob NULL and the
    // downstream selection arbitrary — fail loudly at execution instead.
    val nT = lamT.agg(coalesce(first(col("__Nlt")), raise_error(lit(
      "dsirWeights: target sample is empty — importance weights undefined")))
      .as("__nt"))
    val nS = lamS.agg(coalesce(first(col("__Nls")), raise_error(lit(
      "dsirWeights: corpus is empty — importance weights undefined")))
      .as("__ns"))
    val dc = bucketed(corpus, withId = true)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val contrib = dc
      .join(broadcast(lamT.drop("__Nlt")), Seq("b"), "left")
      .join(broadcast(lamS.drop("__Nls")), Seq("b"), "left")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nS))
      .withColumn("lt0", coalesce(col("lt"),
        log(lit(alpha) / (col("__nt") + lit(alpha * buckets)))))
      .withColumn("ls0", coalesce(col("ls"),
        log(lit(alpha) / (col("__ns") + lit(alpha * buckets)))))
      .select(col("doc_id"), col("b"),
        (col("c") * (col("lt0") - col("ls0"))).as("w"))
    contrib.groupBy("doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("b"), col("w")))),
        lit(0.0), (acc, e) => acc + e("w")).as("raw"))
      .withColumn("weight", floor(col("raw") * 1e6 + 0.5) / 1e6)
      .select("doc_id", "weight")
  }

  /**
   * Global top-`topN` DSIR selection WITHOUT a global sort: the
   * [[dsirWeights]] relation feeds the bounded [[topKByScore]]
   * aggregate under a single key, so the exchange carries at most
   * topN·partitions narrow (weight, doc_id) pairs — a corpus-size-
   * independent volume — instead of every row riding an orderBy.
   * Output (doc_id, weight, rank), rank by weight desc, ties to the
   * smaller doc id.
   */
  def dsirSelect(corpus: DataFrame, target: DataFrame, topN: Int = 200,
      n: Int = 2, buckets: Int = 4096, alpha: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tk = topKByScore(topN)
    dsirWeights(corpus, target, n, buckets, alpha, idCol, textCol)
      .agg(tk(col("weight"), col("doc_id")).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("__e")("_2").as("doc_id"), col("__e")("_1").as("weight"),
        (col("__r") + 1).cast("int").as("rank"))
  }

  /**
   * Balanced per-stratum subsampling — the "rebalance the training mix"
   * op (cap every source/language/domain at `n` documents): keep the `n`
   * documents of each stratum that sort first by a salted portable hash.
   * Deterministic: no RNG, the keep set depends only on (id, salt, n) —
   * identical across runs, partitionings, and engines.
   *
   * Scale shape: the rank window runs over a NARROW (stratum, id, hash)
   * projection — document text never rides the per-stratum sort-shuffle —
   * and survivors re-join the corpus on the id equi-key. Output keeps the
   * within-stratum `rank` column (1-based) for inspectability.
   */
  /**
   * Per-stratum quality calibration — the "absolute thresholds are
   * miscalibrated across domains" fix (FineWeb-style): score every
   * document with [[qualityScore]], then place it WITHIN its
   * source/language/domain as `pct` = the fraction of the stratum at or
   * below its quality (`cume_dist`; ties share a value), so `keep = pct >
   * minPercentile` selects each stratum's best `1 - minPercentile`
   * fraction rather than applying one global cutoff that a clean-prose
   * source saturates and a forum source never reaches. A single-member
   * stratum has pct 1 and is always kept. Deterministic: pct depends only
   * on the (engine-portable) quality values, never on row order.
   *
   * Scale shape: one narrow (id, stratum, quality) projection rides the
   * per-stratum sort-shuffle — document text never does — and each
   * stratum's ranking is ordinary windowed work.
   *
   * Output: (idCol, strataCol, quality, pct, keep).
   */
  def calibratedQuality(docs: DataFrame, minPercentile: Double = 0.5,
      strataCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minPercentile >= 0.0 && minPercentile <= 1.0,
      s"minPercentile must be in [0, 1], got $minPercentile")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol).orderBy(col("quality"))
    docs.select(col(idCol), col(strataCol),
        qualityScore(col(textCol)).as("quality"))
      .withColumn("pct", round(cume_dist().over(w), 6))
      .withColumn("keep", col("pct") > minPercentile)
  }

  def stratifiedSample(docs: DataFrame, n: Int, strataCol: String = "source",
      idCol: String = "doc_id", salt: String = "strat"): DataFrame = {
    require(n > 0, "n must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = portableHash(concat(col(idCol).cast("string"), lit(":" + salt)))
    val w = Window.partitionBy(strataCol).orderBy(col("__h"), col(idCol))
    val keep = docs.select(col(idCol), col(strataCol)).withColumn("__h", h)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col(idCol), col("rank"))
    docs.join(keep, Seq(idCol))
  }

  /**
   * Sequence packing — assign every document a slot in a fixed
   * `budget`-token training sequence (the "pack the corpus into context
   * windows" step before LLM pretraining). Concat-and-chunk semantics:
   * each shard's documents form one token stream, the stream splits
   * every `budget` tokens, and a document belongs to the sequence where
   * its FIRST token lands (`off` = its token offset inside it).
   *
   * Scale shape: packing is SHARDED — documents hash into `nShards`
   * independent streams, so the running sum is a window PARTITIONED by
   * shard over a narrow (id, count, hash) projection: no global
   * ordering, no single-partition window, and document text never rides
   * the sort-shuffle. At 100 TB, `nShards` scales with the cluster
   * (shards ≈ executors) and each shard's prefix sum stays one task's
   * work. Determinism: stream order is (salted portable hash, id) — no
   * RNG, identical on every run, partitioning, and engine.
   */
  def packSequences(docs: DataFrame, budget: Int = 1024, nShards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      salt: String = "pack"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = portableHash(concat(col(idCol).cast("string"), lit(":" + salt)))
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(idCol))
    docs.select(col(idCol), tokenCountWs(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards)).cast("int"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("n_tokens"), col("shard"),
        floor((col("__cum") - col("n_tokens")) / budget).cast("long").as("seq"),
        ((col("__cum") - col("n_tokens")) % budget).as("off"))
  }

  /**
   * Bigram collocations by pointwise mutual information — the
   * phrase-mining / tokenizer-vocabulary front end: PMI(a, b) =
   * ln( P(a,b) / (P(a)·P(b)) ) with P from corpus-wide counts (unigrams
   * over T total tokens, adjacent bigrams over B total bigrams). High-PMI
   * pairs are phrases ("new york"); low counts are noise, hence
   * `minCount`.
   *
   * Scale shape: two map-side-combined count aggregates; the unigram
   * relation is vocabulary-sized so both count joins broadcast; corpus
   * totals fold in as broadcast 1-row aggregates (no driver action); the
   * global top-k is a TakeOrdered, not a single-partition window sort.
   * Determinism: PMI is one fixed left-associated double expression over
   * integer counts, rounded to 4dp, ordered (pmi desc, wa, wb).
   */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, k: Int = 100,
      textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    val len = greatest(size(ws) - 1, lit(0))
    val pairs = docs.select(explode(
        zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
          (x, y) => struct(x.as("wa"), y.as("wb")))
          .cast("array<struct<wa:string,wb:string>>")).as("g"))
      .select(col("g")("wa").as("wa"), col("g")("wb").as("wb"))
    val uni = docs.select(explode(ws).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tTot = uni.agg(sum("c").cast("double").as("__t"))
    val bc = pairs.groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
    val bTot = pairs.agg(count(lit(1)).cast("double").as("__b"))
    bc.filter(col("cab") >= minCount)
      .join(broadcast(uni.select(col("w").as("wa"), col("c").as("ca"))), "wa")
      .join(broadcast(uni.select(col("w").as("wb"), col("c").as("cb"))), "wb")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .withColumn("pmi", round(log(
        (col("cab").cast("double") * col("__t") * col("__t")) /
          (col("__b") * col("ca").cast("double") * col("cb").cast("double"))), 4))
      .select(col("wa"), col("wb"), col("cab"), col("pmi"))
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(k)
  }

  // ---- Gopher-style rule-based quality filter (Rae et al. 2021) ----

  /** Required-stopword list for the Gopher "contains >= 2 stopwords" rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher-style rule-based document filter (Rae et al. 2021, App. A1.1) —
   * the canonical pretraining-corpus rule set, exposed as named per-rule
   * metric columns plus one `gopher_pass` verdict, so a pipeline can either
   * filter on the verdict or audit individual rule hit-rates:
   *
   *   - word count in [50, 100000]
   *   - mean word length in [3, 10]
   *   - symbol-to-word ratio (`#` / ellipsis) < 0.1
   *   - fraction of lines starting with a bullet < 0.9
   *   - fraction of lines ending with an ellipsis < 0.3
   *   - fraction of words containing an alphabetic char > 0.8
   *   - at least 2 of the 8 required stopwords present
   *
   * Ratios are rounded half-up to 4dp BEFORE thresholding so the verdict
   * is bit-reproducible across engines. Pure codegen expression tree
   * (regex counts + higher-order array ops), no UDF and no shuffle — a
   * straight map over the corpus that composes with downstream stages at
   * 100 TB without a plan break.
   */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = regexp_extract_all(text, lit("\\S+"), lit(0))
    val nWords = size(toks)
    // metrics are >= 0, so half-up floor == round()
    val r4 = (c: Column) => floor(c * 1e4 + 0.5) / 1e4
    val safeRatio = (num: Column, den: Column) =>
      r4(when(den > 0, num.cast("double") / den).otherwise(lit(0.0)))
    val mwl = safeRatio(aggregate(toks, lit(0L), (a, w) => a + length(w)), nWords)
    val nSym = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
    val lines = split(text, "\n")
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
    val nEllEnd = size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$")))
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]")))
    // array_intersect dedups both sides, so this counts DISTINCT required
    // stopwords present — and extracts words(text) exactly once, not once
    // per stopword (8 redundant full-document scans otherwise).
    val stopHits = size(array_intersect(words(text),
      array(GopherStopwords.map(lit): _*)))
    docs.select(col(idCol).as("doc_id"),
        nWords.as("n_words"),
        mwl.as("mean_word_len"),
        safeRatio(nSym, nWords).as("symbol_ratio"),
        safeRatio(nBullet, nLines).as("bullet_ratio"),
        safeRatio(nEllEnd, nLines).as("ellipsis_ratio"),
        safeRatio(nAlpha, nWords).as("alpha_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("gopher_pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 &&
        col("bullet_ratio") < 0.9 &&
        col("ellipsis_ratio") < 0.3 &&
        col("alpha_ratio") > 0.8 &&
        col("stop_hits") >= 2)
  }

  // ---- C4-style line-level cleaning (Raffel et al. 2020, §2.2) ----

  /**
   * Split long documents into training-sized chunks at line boundaries:
   * a greedy scan packs consecutive lines into a chunk until adding the
   * next line would exceed `budget` whitespace tokens, then starts a new
   * chunk (a single over-budget line becomes its own chunk — lines are
   * never split). The long-document complement of [[packSequences]]
   * (which packs SHORT docs together); standard corpus prep for fixed
   * context windows (green-field — no reference counterpart).
   *
   * Output: doc_id, chunk_id (0-based per doc), chunk_text, n_tokens.
   *
   * Shape: the greedy scan is a single in-row `aggregate` over the line
   * array and chunk texts rebuild in-row, so the plan is a pure
   * projection + generator — NO shuffle; chunk rebuilding is
   * O(n_lines x n_chunks) per document, fine while docs stay MB-scale
   * (chunks ~ tokens/budget).
   */
  def chunkDocuments(docs: DataFrame, budget: Int = 256,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val lines = split(col(textCol), "\n")
    val cnts = transform(lines, l =>
      size(regexp_extract_all(l, lit("\\S+"), lit(0))))
    // scan state: tokens in the open chunk, open chunk index, per-line
    // chunk assignment so far (first line never breaks: asn empty)
    val zero = struct(lit(0).as("cum"), lit(0).as("idx"),
      array().cast("array<int>").as("asn"))
    val scan = aggregate(cnts, zero, (acc, c) => {
      val brk = size(acc("asn")) > 0 && acc("cum") + c > budget
      struct(
        when(brk, c).otherwise(acc("cum") + c).as("cum"),
        when(brk, acc("idx") + 1).otherwise(acc("idx")).as("idx"),
        concat(acc("asn"),
          array(when(brk, acc("idx") + 1).otherwise(acc("idx")))).as("asn"))
    })
    val z = docs.select(col(idCol).as("doc_id"), lines.as("ls"),
      scan.getField("asn").as("asn"))
    val tagged = zip_with(col("ls"), col("asn"),
      (l, a) => struct(a.as("a"), l.as("l")))
    val chunks = transform(sequence(lit(0), element_at(col("asn"), -1)),
      i => array_join(
        transform(filter(tagged, p => p("a") === i), p => p("l")), "\n"))
    z.select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_tokens", tokenCountWs(col("chunk_text")))
  }

  /**
   * C4 line/document cleaning rules (Raffel et al. 2020, §2.2): the
   * line-level complement to the document-level [[gopherRules]].
   *
   * Line rules (a line survives iff ALL hold):
   *   - ends with a terminal punctuation mark (`.` `!` `?` `"`)
   *   - has at least 3 whitespace words
   *   - does not mention "javascript" (lowercased)
   *   - does not carry cookie/policy boilerplate
   *     ("cookie", "privacy policy", "terms of use")
   *
   * Document rules (on the cleaned text): no "lorem ipsum", no `{`,
   * and at least 3 sentences (terminal-punct count) → `c4_keep`.
   * C4's cross-document three-sentence dedup step is the separate
   * [[Dedup.duplicatedSpans]]/[[Dedup.stripDuplicatedSpans]] pair.
   *
   * Pure expression tree over `split(text, "\n")` — a shuffle-free map,
   * like [[gopherRules]], so it can prefix any corpus pipeline at 100 TB
   * without a plan break.
   */
  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      rtrim(l).rlike("[.!?\"]$") &&
      size(regexp_extract_all(l, lit("\\S+"), lit(0))) >= 3 &&
      !lower(l).contains("javascript") &&
      !lower(l).rlike("cookie|privacy policy|terms of use")
    docs.select(col(idCol).as("doc_id"),
        size(lines).as("n_lines"),
        array_join(filter(lines, keepLine), "\n").as("clean_text"),
        size(filter(lines, keepLine)).as("n_kept"),
        (lower(col(textCol)).contains("lorem ipsum") ||
          col(textCol).contains("{")).as("boilerplate"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("clean_text"), lit("[.!?]"), lit(0))))
      .withColumn("c4_keep", !col("boilerplate") && col("n_sentences") >= 3)
      .select("doc_id", "n_lines", "n_kept", "n_sentences", "boilerplate",
        "c4_keep", "clean_text")
  }

  /**
   * Deterministic source-mixture resampling — the "data mixing" step
   * that turns a raw corpus into the training distribution (Pile /
   * DoReMi shape): each source gets a WEIGHT, and every document is
   * emitted `floor(w)` times plus one more with probability `frac(w)`,
   * decided by a salted portable hash of the id — so w = 2.5 upsamples a
   * source to ~2.5 epochs and w = 0.4 keeps a ~40% sample, with zero
   * RNG: the multiset depends only on (id, salt, weights) and is
   * identical across runs, partitionings, and engines.
   *
   * Weights are held in BASIS POINTS (w·10⁴, rounded once at plan build)
   * so the floor/fraction split is exact integer arithmetic — no
   * float-boundary drift between engines. The fractional accept reuses
   * the [[hashSplit]] bucket construction (hash mod 10⁴ < frac_bp).
   *
   * Scale shape: shuffle-free — a broadcast-sized weight lookup folded
   * into the projection and a generator explode; each task expands its
   * own rows, and output volume is sum(wᵢ·|sourceᵢ|) by construction.
   * Downstream training order comes from [[shardCorpus]] over the
   * (id, epoch) multiset.
   *
   * Output: one row per emitted copy — (idCol, sourceCol, epoch
   * 0-based, n_copies). Documents with zero copies vanish (explode of
   * an empty array).
   */
  def mixCorpus(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0, salt: String = "mix",
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "mixture weights must be non-negative")
    def bp(w: Double): Long = math.round(w * 10000)
    // Small-map lookup as a literal CASE chain: codegen'd, broadcast-free.
    val wBp = weights.foldLeft(lit(bp(defaultWeight)): Column) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(bp(w))).otherwise(acc)
    }
    val accept = pmod(portableHash(
      concat(col(idCol).cast("string"), lit(":" + salt))), lit(10000L)) <
      wBp % 10000
    val copies = (wBp / lit(10000L)).cast("long") +
      when(accept, 1L).otherwise(0L)
    // sequence(0, n-1) with n = 0 would yield [0, -1] (Spark sequences
    // run DOWNWARD when start > stop), so the zero-copy case must map to
    // an explicit empty array for the explode to drop the row.
    docs.select(col(idCol), col(sourceCol), copies.as("n_copies"))
      .select(col(idCol), col(sourceCol), col("n_copies"),
        explode(when(col("n_copies") > 0,
          sequence(lit(0L), col("n_copies") - 1))
          .otherwise(array().cast("array<bigint>"))).as("epoch"))
      .select(col(idCol), col(sourceCol), col("epoch"), col("n_copies"))
  }

  /**
   * Deterministic corpus sharding — the reproducible "global shuffle"
   * before training: every document lands in one of `nShards` shards
   * (salted hash of the id) and gets a dense 0-based position inside its
   * shard, ordered by an independent salted hash (id as tie-break). The
   * resulting (shard, pos) order is a fixed pseudo-random permutation of
   * the corpus — the property a resumable dataloader needs — and depends
   * only on (id, salt, nShards): no RNG, no input-order sensitivity,
   * identical on any cluster layout.
   *
   * Scale shape: the rank window is PARTITIONED by shard over a narrow
   * (id, shard, ord) projection — document text never rides the
   * sort-shuffle, no global window anywhere. At 100 TB pick nShards ≫
   * cores (10⁴–10⁵) so each shard's sort is one bounded task; shard
   * files then stream to the trainer in (shard, pos) order.
   *
   * Output: (idCol, shard, pos).
   */
  def shardCorpus(docs: DataFrame, nShards: Int = 64,
      salt: String = "shard", idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val sh = pmod(portableHash(
      concat(col(idCol).cast("string"), lit(":" + salt + ":s"))), lit(nShards.toLong))
    val ord = portableHash(
      concat(col(idCol).cast("string"), lit(":" + salt + ":o")))
    val w = Window.partitionBy("shard").orderBy(col("__ord"), col(idCol))
    docs.select(col(idCol), sh.as("shard"), ord.as("__ord"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }
}
