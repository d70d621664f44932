package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PortableHash

/** Native PortableHash expression: codegen path, parity with the JVM char
  * kernel on ASCII, null propagation. */
class ExpressionSpec extends GraftSuite {

  test("PortableHash matches the char kernel and handles nulls") {
    import spark.implicits._
    val df = Seq("abc", "", "key agg row scan", null).toDF("s")
    val got = df.select(PortableHash(col("s")).as("h")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val expect = Seq("abc", "", "key agg row scan", null)
      .map(s => if (s == null) null else operators.TextAnalysis.hashString(s))
    assert(got.toSeq == expect)
    // reference value: ((97*31+98)*31+99) mod (2^31-1)
    assert(got(0) == 96354L)
  }

  test("portable_hash is registered as a SQL function via GraftExtensions") {
    val r = spark.sql("SELECT portable_hash('abc') AS h").head().getLong(0)
    assert(r == 96354L)
    assert(spark.sql("SELECT portable_hash(NULL) AS h").head().isNullAt(0))
  }

  test("tokenize is registered as a SQL generator via GraftExtensions") {
    val rows = spark.sql(
      "SELECT tokenize('In AD 932, King Arthur') AS (token_id, span, text)")
      .collect().map(r => (r.getInt(0), r.getStruct(1).getInt(0),
        r.getStruct(1).getInt(1), r.getString(2)))
    assert(rows.length == 6) // In AD 932 , King Arthur → ',' its own token
    assert(rows(0) == (0, 0, 2, "In"))
    assert(rows(3) == (3, 9, 10, ","))
    assert(rows(5) == (5, 16, 22, "Arthur"))
  }

  test("TokenizeGenerator matches tokenOffsets on punctuation and non-ASCII") {
    import spark.implicits._
    val texts = Seq("café, naïve! x(y)z", "a  b\t\nc", "", "...", "日本語 テスト")
    val got = texts.toDF("t")
      .select(col("t"), org.apache.spark.sql.graft.TokenizeGenerator(col("t")))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getStruct(2).getInt(0), r.getStruct(2).getInt(1), r.getString(3)))
        .toSeq).toMap
    texts.filter(_.nonEmpty).foreach { t =>
      val expect = graft.operators.Tokenize.tokenOffsets(t)
        .map { case (b, e) => (b, e, t.substring(b, e)) }
      assert(got.getOrElse(t, Seq.empty) == expect, s"for '$t'")
    }
  }

  test("RegexMatchGenerator: spans + matches, nulls, no-match, unicode offsets") {
    import spark.implicits._
    import org.apache.spark.sql.graft.RegexMatchGenerator
    val df = Seq((0L, "ab12cd345"), (1L, null), (2L, "xyz"), (3L, "é9"))
      .toDF("doc_id", "t")
    val got = df.select(col("doc_id"), RegexMatchGenerator(col("t"), "\\d+"))
      .collect()
      .map(r => (r.getLong(0), r.getStruct(1).getInt(0), r.getStruct(1).getInt(1),
        r.getString(2))).toSeq.sorted
    // null text and no-match rows vanish (generator semantics); offsets are
    // CHAR offsets — 'é' counts as one position
    assert(got == Seq((0L, 2, 4, "12"), (0L, 6, 9, "345"), (3L, 1, 2, "9")))
  }

  test("regex_matches is registered as a SQL generator via GraftExtensions") {
    val rows = spark.sql(
      "SELECT regex_matches('one two three', '\\\\bt[a-z]+') AS (span, match)")
      .collect().map(r => (r.getStruct(0).getInt(0), r.getStruct(0).getInt(1),
        r.getString(1))).toSeq
    assert(rows == Seq((4, 7, "two"), (8, 13, "three")))
  }

  test("extractRegex keeps the projection inside whole-stage codegen spans") {
    import spark.implicits._
    val docs = Seq((0L, "spark scan sort")).toDF("doc_id", "text")
    val out = operators.Extract.extractRegex(docs, "\\bs[a-z]*")
    val plan = out.queryExecution.executedPlan.toString
    // Generate node present, no BatchEvalPython/ScalaUDF in the plan
    assert(plan.contains("Generate") && !plan.contains("UDF"),
      s"expected native generate plan, got:\n$plan")
    val got = out.collect().map(r =>
      (r.getStruct(1).getInt(0), r.getStruct(1).getInt(1), r.getString(2))).toSeq
    assert(got == Seq((0, 5, "spark"), (6, 10, "scan"), (11, 15, "sort")))
  }

  test("cosine_sim is registered as a SQL function via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("CosineSim: values, null→0.0 contract, codegen participation") {
    import spark.implicits._
    import org.apache.spark.sql.graft.CosineSim
    val df = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),   // identical → 1.0
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),   // orthogonal → 0.0
      (Seq(0.0, 0.0), Seq(1.0, 1.0)),   // zero norm → 0.0
      (null, Seq(1.0, 1.0))             // null → 0.0, not null
    ).toDF("a", "b")
    val got = df.select(CosineSim(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12 && got(1) == 0.0 &&
      got(2) == 0.0 && got(3) == 0.0)
    // codegen path over a non-foldable source, vs the manual fold
    val dfc = spark.range(3).select(col("id"),
      CosineSim(array(col("id").cast("double"), lit(2.0)),
        array(lit(3.0), lit(4.0))).as("c"))
    val codegenNode = dfc.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegenNode.isDefined)
    val m = dfc.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def manual(x: Double) =
      (x * 3 + 2 * 4) / (math.sqrt(x * x + 4) * math.sqrt(9 + 16))
    assert(m(0L) == manual(0) && m(2L) == manual(2))
  }

  test("PortableHash participates in whole-stage codegen") {
    // non-foldable source so the projection actually goes through codegen
    val df = spark.range(3)
      .select(PortableHash(concat(lit("x"), col("id"))).as("h"), col("id"))
    val codegenNode = df.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegenNode.isDefined)
    val got = df.collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(got(0L) == operators.TextAnalysis.hashString("x0"))
    assert(got(2L) == operators.TextAnalysis.hashString("x2"))
  }

  test("words/shingles/ngrams/minhash/quality-stats participate in " +
      "whole-stage codegen (round-22: CodegenFallback removed)") {
    // A CodegenFallback expression excludes its host ProjectExec from
    // whole-stage codegen entirely (CollapseCodegenStages), so the r21
    // natives ran as interpreted projections. Assert each now compiles
    // into a WholeStageCodegenExec over a non-foldable source AND that
    // the codegen'd values equal the interpreted eval path.
    import org.apache.spark.sql.graft.{QualityStatsExpr, WordShingles}
    val base = spark.range(3)
      .select(concat(lit("the quick brown fox 4"), col("id")).as("t"),
        col("id"))
    val df = base.select(col("id"),
      WordShingles.words(col("t")).as("w"),
      WordShingles.shingles(WordShingles.words(col("t")), 3).as("sh"),
      WordShingles.ngrams(WordShingles.words(col("t")), 2).as("ng"),
      WordShingles.minhash(
        WordShingles.shingles(WordShingles.words(col("t")), 3), 4).as("mh"),
      QualityStatsExpr.scoreRaw(col("t")).as("qs"),
      QualityStatsExpr.punctRatio(col("t")).as("pr"),
      QualityStatsExpr.meanWordLen(col("t")).as("mwl"))
    val codegenNode = df.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegenNode.isDefined)
    // and no interpreted fallback marker anywhere in the executed plan
    assert(!df.queryExecution.executedPlan.toString.contains("CodegenFallback"))
    val row = df.orderBy("id").collect()(0)
    assert(row.getSeq[String](1) ==
      Seq("the", "quick", "brown", "fox", "40"))
    // interpreted-eval reference via the kernel directly
    import org.apache.spark.unsafe.types.UTF8String
    val text = UTF8String.fromString("the quick brown fox 40")
    val ws = org.apache.spark.sql.graft.WordShingles.wordsOf(text)
    val sh = org.apache.spark.sql.graft.WordShingles.shingleHashes(ws, 3)
    assert(row.getSeq[Long](2) == sh.toLongArray().toSeq)
    assert(row.getSeq[Long](3) ==
      org.apache.spark.sql.graft.WordShingles.ngramHashes(ws, 2)
        .toLongArray().toSeq)
    assert(row.getSeq[Long](4) ==
      org.apache.spark.sql.graft.WordShingles.minhashSig(sh, 4)
        .toLongArray().toSeq)
    assert(row.getDouble(5) == QualityStatsExpr.scoreRawOf(text))
    assert(row.getDouble(6) == QualityStatsExpr.punctRatioOf(text))
    assert(row.getDouble(7) == QualityStatsExpr.meanWordLenOf(text))
  }
}
