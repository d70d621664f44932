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
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
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
  }
}

/**
 * Engine-recommended PRODUCTION session settings, passed as
 * `GraftSession.local(cpus, GraftConf.settings: _*)`.
 *
 * `spark.sql.autoBroadcastJoinThreshold = -1`: STATIC size estimates are
 * systematically wrong for this engine's core relations — Catalyst's
 * Generate (explode) node passes its child's size estimate through, so a
 * corpus-scale token relation can be estimated below the broadcast
 * threshold. Measured at the 100x scale-smoke tier: a 2.6 GiB driver
 * broadcast (or outright driver OOM) inside the BERT-alignment chain,
 * 209 s vs 86 s with the config. AQE's RUNTIME broadcast promotion stays
 * on — it sees true shuffle sizes, so genuinely small sides still
 * broadcast at small scale — and explicit broadcast() hints (dictionaries,
 * probes, centroid relations) are unaffected.
 *
 * Applied in ScaleSmoke (where the hazard was measured, and whose 100x
 * tier a misestimate can OOM). The joins measured to hit the hazard are
 * additionally pinned to sort-merge in the operators themselves
 * (Align.alignToTokens, Bert.alignBertTokensToCorpusTokens), so the
 * engine is scale-safe there under ANY config; the small-scale gate runs
 * (Bench/Verify/tests) keep Spark defaults because the A/B at sf0.1
 * measured these settings at +20% wall (AQE promotion does not fully
 * recover static-broadcast stage fusion at toy scale) — a cluster-scale
 * deployment should apply them.
 */
object GraftConf {
  val settings: Seq[(String, String)] =
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
}

/** The one place a harness or test session is built. */
object GraftSession {
  /**
   * A `local[cpus]` session with [[GraftExtensions]] injected, `cpus`
   * shuffle partitions, UTC session time, UI off, WARN logging and
   * bucketed scans pinned ([[graft.sources.Storage.pinBucketedScans]]).
   * `conf` pairs are applied after these defaults, so they may override
   * them.
   */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by
      // default; read it as a nano-precision long instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Storage.pinBucketedScans(spark)
    spark
  }
}
