package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}

/**
 * Physical-plan shape digest for the expensive declared queries — the
 * regression guard the r10 q92 postmortem asked for: a "faster" rewrite
 * that silently re-adds an Exchange (the old sort-merge re-attach join)
 * or flips a broadcast join to a shuffle join must fail a pinned test,
 * not wait for the next bench round to show up as wall seconds.
 *
 * The digest is computed over the INITIAL adaptive plan (before AQE
 * runtime re-planning), which is a deterministic function of the query
 * + optimizer — exactly what a code change perturbs.
 */
object PlanDigest {

  /** (exchange count, join-strategy counts, cartesian count). */
  final case class Digest(exchanges: Int, joins: Map[String, Int], cartesian: Int) {
    override def toString: String = {
      val js = joins.toSeq.sortBy(_._1).map { case (k, n) => s"$k=$n" }.mkString(",")
      s"exchanges=$exchanges joins[$js] cartesian=$cartesian"
    }
  }

  /** Deep node walk that descends through the AQE wrapper and any
    * materialized query stages. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(allNodes)
  }

  def of(df: DataFrame): Digest = {
    val nodes = allNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect {
      case j: BaseJoinExec => j.getClass.getSimpleName.stripSuffix("Exec")
    }.groupBy(identity).view.mapValues(_.size).toMap
    Digest(
      nodes.count { case _: Exchange => true; case _ => false },
      joins,
      nodes.count { case _: CartesianProductExec => true; case _ => false })
  }

  /** Prints the digest for each named query (default: the pinned set in
    * PlanShapeSpec) — run after an intentional plan change to refresh
    * the pins. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else PinnedQueries
    val spark = GraftSession.local(4)
    names.foreach { n =>
      println(s"$n -> ${of(SparkEntry.queries(n)(spark, sfDir))}")
    }
    spark.stop()
  }

  /** The ten most expensive queries by the r10 bench floors. */
  val PinnedQueries: Seq[String] = Seq(
    "q89_corpus_v2", "q77_training_corpus", "q93_conll_to_bert",
    "q92_align_bert", "q61_watson_frames", "q84_strip_dup_spans",
    "q48_make_table", "q44_watson_syntax", "q49_spacy_features",
    "q81_dup_spans")
}
