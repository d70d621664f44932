package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan guards over every declared query in [[SparkEntry.queries]]. The
  * lazy plans are only worth having if none grows faster than linearly
  * with the corpus, and the driver contract wants plan build free of
  * Spark actions.
  *
  * Each query runs once at sf0.001 and its final adaptive plan is
  * inspected, subqueries and query stages included:
  *  - a Cartesian product is quadratic in its inputs, so none is allowed;
  *  - a broadcast nested-loop join is linear only while its build side
  *    stays fixed, so each query's BNLJ build sides must broadcast the
  *    same row counts at sf0.1 (5,000 documents, 2,000 embeddings) as at
  *    sf0.001 (sf0.01 has the same 500 documents and embeddings as
  *    sf0.001, so it could not show growth);
  *  - the queries whose plan build runs a job other than
  *    `DataFrameReader`'s schema inference are pinned, so a new action at
  *    plan build fails here. */
class AllQueriesPlanSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  /** Queries whose plan build runs Spark actions: stored-table and
    * sketch writes, `localCheckpoint`, k-means/PQ/OPQ fits, Feather and
    * CoNLL writes, and small reads that infer or validate (`extractDict`'s
    * `maxLen`, `makeTable`'s pivot keys, duplicate-key checks). Shrink
    * this set as plan builds become lazy; never grow it to admit a new
    * action. */
  private val PlanBuildActions: Set[String] = Set(
    "q25_extract_dict", "q53_conll_roundtrip", "q57_conllu_roundtrip",
    "q58_conll_output", "q59_ivfpq_opq_rerank", "q70_flagship",
    "q72_dup_clusters", "q76_dedup_survivors", "q77_training_corpus",
    "q80_arrow_roundtrip", "q89_corpus_v2", "q90_tokenspan_arrow", "q94_kmeans",
    "q95_ann_ivf_kmeans", "q98_semantic_dedup", "q102_dedup_best",
    "q104_tokenspan_multi", "q107_align_model_outputs", "q109_substitute_names",
    "q110_bucketed_join", "q113_diversity_sample", "q124_cluster_split",
    "q125_pq_encode", "q126_pq_adc", "q145_bpe_train", "q146_bpe_fertility",
    "q149_ivfpq", "q152_bpe_fertility_kernel", "q154_ivfpq_bucketed",
    "q155_ivfpq_agg", "q159_indexed_ingest_dedup", "q160_indexed_incremental",
    "q161_hll_incremental", "q162_ivfpq_append", "q164_cms_incremental",
    "q166_len_quantiles_incremental", "q168_src_jaccard_incremental",
    "q169_selfupdating_ingest", "q170_ivfpq_rerank",
    "q171_datasheet_incremental", "q172_semantic_selfupdating",
    "q173_takedown_ingest", "q174_semantic_takedown", "q176_snapshot_read",
    "q177_quantizer_refresh", "q179_bloom_incremental", "q180_ivfpq_residual",
    "q181_hybrid_stored", "q183_snapshot_takedown",
    "q184_ivfpq_residual_stored", "q185_ivfpq_opq", "q186_ivfpq_opq_stored",
    "q187_drift_stat", "q188_filtered_ann")

  private case class Run(cartesians: Int, bnljBuildRows: Seq[Long])

  /** Each query's run, and the call sites of the jobs its plan build ran. */
  private case class Sweep(runs: Seq[(String, Try[Run])],
      buildJobs: Map[String, Seq[String]])

  private val names = SparkEntry.queries.keys.toSeq.sorted

  /** The generated test tables, one directory per scale factor (TESTDATA.md). */
  private val TestData = "/root/testdata"

  /** Call sites (`<method> at <file>:<line>`) of the jobs started under
    * each job group. */
  private val jobsByGroup =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()

  /** The schema-inference jobs `DataFrameReader` runs when a relation is
    * declared. */
  private val ReaderJob = "^(parquet|json|csv|orc|load) at .*".r

  private def buildRows(p: SparkPlan): Long = p match {
    case b: BroadcastExchangeExec => b.metrics("numOutputRows").value
    case r: ReusedExchangeExec => buildRows(r.child)
    case s: QueryStageExec => buildRows(s.plan)
    case i: InputAdapter => buildRows(i.child)
    case other => fail(s"BNLJ build side is not a broadcast exchange:\n$other")
  }

  private def buildGroup(dir: String) = s"build $dir"

  /** Builds `name`'s plan under its own job group, runs it, and reads the
    * final adaptive plan. */
  private def run(name: String, dir: String): Run = {
    val sc = spark.sparkContext
    val group = buildGroup(dir)
    sc.setJobGroup(group, group)
    val df: DataFrame = try SparkEntry.queries(name)(spark, dir)
      finally sc.clearJobGroup()
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec =>
      buildRows(if (j.buildSide == BuildLeft) j.left else j.right)
    }
    Run(collectWithSubqueries(plan) { case c: CartesianProductExec => c }.size,
      bnlj.sorted)
  }

  /** Waits until every job started so far has reached the listener:
    * listener events are delivered in order. */
  private def drainListener(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("drain", "drain")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis + 60000
    while (!jobsByGroup.containsKey("drain") && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(jobsByGroup.remove("drain") != null, "the listener bus did not drain in 60 s")
  }

  /** Every query at sf0.001, each read through a directory path of its
    * own: per-JVM seeds and quantizer fits are cached by directory, so no
    * query run earlier, here or in another suite, can hide a plan-build
    * action. */
  private lazy val sweep: Sweep = {
    val tmp = Files.createTempDirectory("graft_all_queries")
    tmp.toFile.deleteOnExit()
    val dirs = names.map { n =>
      val d = Files.createSymbolicLink(tmp.resolve(n), Paths.get(s"$TestData/sf0.001"))
      d.toFile.deleteOnExit()
      n -> d.toString
    }.toMap
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByGroup.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[String]())
            .add(j.stageInfos.maxBy(_.stageId).name))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val runs = names.map(n => n -> Try(run(n, dirs(n))))
      drainListener()
      Sweep(runs, names.map(n => n -> Option(jobsByGroup.get(buildGroup(dirs(n))))
        .toSeq.flatMap(_.asScala)).toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def runs: Seq[(String, Run)] =
    sweep.runs.collect { case (n, Success(r)) => n -> r }

  test("every declared query runs at sf0.001 and plans no Cartesian product") {
    val failed = sweep.runs.collect { case (n, Failure(e)) => s"$n: $e" }
    assert(failed.isEmpty, failed.mkString("\n"))
    val cartesian = runs.collect { case (n, r) if r.cartesians > 0 => n }
    assert(cartesian.isEmpty, s"Cartesian products in: ${cartesian.mkString(", ")}")
  }

  test("every broadcast nested-loop join builds on a side that does not " +
      "grow with the corpus (same rows at sf0.001 and sf0.1)") {
    val bnlj = runs.filter(_._2.bnljBuildRows.nonEmpty)
    assert(bnlj.nonEmpty, "no query plans a BNLJ; the check below is vacuous")
    val grown = bnlj.flatMap { case (n, small) =>
      val large = run(n, s"$TestData/sf0.1").bnljBuildRows
      if (large == small.bnljBuildRows) None
      else Some(s"$n: build rows ${small.bnljBuildRows} at sf0.001, $large at sf0.1")
    }
    assert(grown.isEmpty, grown.mkString("\n"))
  }

  test("plan build runs Spark actions only in the pinned queries") {
    val acting = sweep.buildJobs
      .map { case (n, jobs) => n -> jobs.filterNot(ReaderJob.matches).distinct }
      .filter(_._2.nonEmpty)
    val added = acting.keySet -- PlanBuildActions
    val gone = PlanBuildActions -- acting.keySet
    assert(added.isEmpty && gone.isEmpty,
      s"new plan-build actions:\n${added.toSeq.sorted.map(n =>
        s"  $n: ${acting(n).mkString("; ")}").mkString("\n")}\n" +
      s"pinned queries that no longer run actions (unpin them): " +
      gone.toSeq.sorted.mkString(", "))
  }
}
