package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions entry point: registers the engine's native
 * Catalyst expressions as SQL functions, so SQL-surface users get them
 * without the Scala DSL:
 *
 * {{{
 *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
 *   spark.sql("SELECT portable_hash(text) FROM documents")
 * }}}
 *
 * (Also usable via spark.sql.extensions=graft.GraftExtensions.)
 *
 * It also injects the span-join rewrite rule ([[graft.plans.SpanJoinRewrite]])
 * and the `IN`-list bucket-pruning planner strategy
 * (`org.apache.spark.sql.graft.BucketPruning`).
 *
 * Under `withExtensions` it also sets two JVM-wide defaults before the
 * session's SparkConf exists: the generated-class cache size
 * ([[GraftConf.CodegenCacheEntries]]) and `spark.hadoop.fs.file.impl`
 * ([[graft.sources.NioLocalFileSystem]]). An explicit setting wins; under
 * `spark.sql.extensions` the extension runs too late to set either.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Builder.withExtensions runs this before build() creates the SparkConf,
    // which loads spark.* system properties; an explicit setting wins.
    sys.props.getOrElseUpdate("spark.sql.codegen.cache.maxEntries",
      GraftConf.CodegenCacheEntries.toString)
    // Same rule for the local file system (no forked chmod per written
    // file): unless Spark's or Hadoop's own fs.file.impl is set.
    if (!sys.props.contains("spark.hadoop.fs.file.impl") &&
        new org.apache.hadoop.conf.Configuration().getTrimmed("fs.file.impl", "").isEmpty)
      sys.props("spark.hadoop.fs.file.impl") = classOf[graft.sources.NioLocalFileSystem].getName
    ext.injectFunction((
      new FunctionIdentifier("portable_hash"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.PortableHash].getName,
        "portable_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "portable_hash takes exactly one argument")
        org.apache.spark.sql.graft.PortableHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("wide_hash"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.WideHash].getName,
        "wide_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "wide_hash takes exactly one argument")
        org.apache.spark.sql.graft.WideHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.CosineSim].getName,
        "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim takes exactly two arguments")
        org.apache.spark.sql.graft.CosineSim(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("tokenize"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.TokenizeGenerator].getName,
        "tokenize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "tokenize takes exactly one argument")
        org.apache.spark.sql.graft.TokenizeGenerator(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("regex_matches"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.RegexMatchGenerator].getName,
        "regex_matches"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "regex_matches takes (text, pattern)")
        org.apache.spark.sql.graft.RegexMatchGenerator(children.head, children(1))
      }))
    // auto-rewrite naive span-overlap theta-joins into blocked equi-joins
    ext.injectOptimizerRule(_ => graft.plans.SpanJoinRewrite)
    // bucket pruning for IN lists from one bucket-id projection
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.BucketPruning)
  }
}

/** Engine-wide constants. */
object GraftConf {
  /**
   * Size of Spark's process-wide generated-class cache
   * (`StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES`, default 100), which
   * [[GraftExtensions]] sets unless it is already set. The cache is an
   * LRU read once per JVM, and one warm span-pipeline operation (CoNLL →
   * IOB spans → extract → span joins → consolidate → BERT → F1) touches
   * 191 distinct generated classes, so at 100 entries every class was
   * evicted before its next use and recompiled: about 3 s of Janino
   * compile per operation. Distinct classes over a seed-1 perfbench run:
   * span_pipeline 197, ingest_loop 91, corpus_clean 58; 1024 is over 5×
   * the largest and 2.5× all three in one JVM. The cache holds only
   * classes actually compiled, so smaller working sets cost nothing more.
   *
   * An explicit `.config`, `--conf` or spark-defaults value wins. With
   * `spark.sql.extensions=graft.GraftExtensions` the extension is created
   * after the SparkConf, too late to set it, so such deployments must set
   * the key themselves.
   */
  val CodegenCacheEntries = 1024
}

/** The one place a harness or test session is built. */
object GraftSession {
  /**
   * A `local[cpus]` session with [[GraftExtensions]] injected, `cpus`
   * shuffle partitions, UTC session time, UI off, WARN logging and
   * bucketed scans pinned ([[graft.sources.Storage.pinBucketedScans]]).
   */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by
      // default; read it as a nano-precision long instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Storage.pinBucketedScans(spark)
    spark
  }
}
