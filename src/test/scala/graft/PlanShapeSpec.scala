package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec,
  Final => LimitFinal, Partial => LimitPartial}
import graft.operators.{Dedup, Iob, TextAnalysis}

/** Physical-plan shape claims for the scale-sensitive operators: what the
  * Scaladoc promises ("shuffle-free", "input read once") asserted against
  * the actual executed plan, so a regression in plan shape fails CI even
  * while results stay correct. */
class PlanShapeSpec extends GraftSuite {
  import spark.implicits._

  test("hashSplit plans as a pure projection — no Exchange, no aggregate") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val plan = TextAnalysis.hashSplit(docs).queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"expected shuffle-free split assignment, got:\n$plan")
  }

  test("gopherRules and c4Clean plan as pure projections — no Exchange") {
    // Both quality filters promise "shuffle-free map" in their Scaladoc so
    // they can prefix any corpus pipeline without a plan break.
    val docs = (0L until 50L).map(i => (i, s"Some text body $i.\nAnother line $i."))
      .toDF("doc_id", "text")
    for (out <- Seq(TextAnalysis.gopherRules(docs), TextAnalysis.c4Clean(docs),
        TextAnalysis.chunkDocuments(docs, budget = 4),
        TextAnalysis.blocklistFilter(docs, Seq("bad", "words")))) {
      val plan = out.queryExecution.executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty,
        s"expected a shuffle-free filter projection, got:\n$plan")
    }
  }

  test("pqEncode plans as a pure projection — no Exchange") {
    // The PQ index build promises "shuffle-free projection": codebooks
    // ride inside native expressions, the per-subspace explode is narrow.
    val pts = (0L until 40L).map(i =>
      (i, Seq.tabulate(4)(j => (i % 7 + j).toFloat))).toDF("vec_id", "embedding")
    val books = graft.operators.Similarity.pqFitCodebooks(pts, m = 2, ksub = 4, iters = 1)
    val plan = graft.operators.Similarity.pqEncode(pts, books)
      .queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"expected a shuffle-free encode projection, got:\n$plan")
  }

  test("prfScores reads the gold subtree once (ReusedExchange in final plan)") {
    val pred = (0L until 200L).map(i => (i % 20, i, i + 1, "K"))
      .toDF("doc_id", "b", "e", "ent_type")
      .select(col("doc_id"), spans.tokenSpan(col("b"), col("e"), col("b"), col("e")).as("span"),
        col("ent_type"))
    val gold = pred.filter(col("span")("begin_tok") % 3 === 0)
    val out = Iob.prfScores(pred, gold)
    out.collect() // finalize the adaptive plan
    val finalPlan = out.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"expected the gold aggregation exchange to be reused, got:\n$finalPlan")
  }

  test("ivfTopK: no Window/Sort exchange carries the corpus vector column") {
    val corpus = (0L until 60L).map(i => (i, Array.tabulate(4)(d => ((i + d) % 7).toDouble), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = operators.Similarity.ivfTopK(corpus, queries,
      operators.Similarity.labelCentroids(corpus), nprobe = 2, k = 5)
    out.collect() // finalize the adaptive plan
    // deep traversal that descends into AQE wrapper + query stages
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(allNodes)
    }
    val nodes = allNodes(out.queryExecution.executedPlan)
    // the corpus→cell assignment must be an aggregate, not a row_number
    // window dragging the vector through a sort-shuffle
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty && windows.forall(w => !w.output.exists(_.name == "c_vec")),
      s"a Window carries the corpus vector:\n${out.queryExecution.executedPlan}")
  }

  test("dupClusters rounds scale with diameter, not input size") {
    // a star graph (hub 0) converges in ONE propagation round regardless of
    // spoke count — the shape near-dup clusters actually have
    val star = (1L until 50L).map(i => (0L, i)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(star)
    assert(out.filter(col("cluster_id") === 0L).count() == 50)
  }

  test("packSequences: window is sharded and text stays off the sort-shuffle") {
    val docs = (0L until 200L).map(i => (i, s"some text body $i")).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, budget = 16, nShards = 4)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    // the running sum must be a PARTITIONED window — a global one would
    // single-partition the corpus stream (the WindowExec "moving all data
    // to a single partition" failure mode)
    assert(!planStr.contains("SinglePartition"),
      s"packing window collapsed to a single partition:\n$planStr")
    // only the narrow (id, count, hash) projection rides the shuffle
    assert(!planStr.contains("text#") || !planStr.split("\n").exists(l =>
      l.contains("Exchange") && l.contains("text#")),
      s"document text rides the packing shuffle:\n$planStr")
  }

  test("semanticDedup: pairwise stage joins on cluster, never cartesian") {
    val pts = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 3 + d) % 11).toFloat / 11f).toSeq))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(pts, k = 2, iters = 1, tau = 0.9)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pair generation degraded to a cross product:\n$planStr")
  }

  test("fuzzyContaminatedDocs: benchmark side broadcast, no corpus sort-merge join") {
    // The Scaladoc promises both the band-collision join and the Jaccard
    // verify stay map-side (benchmark broadcast); a SortMergeJoin or a
    // shuffle keyed on (band, key) would mean the corpus stream shuffles
    // wide and the 100 TB claim is gone.
    val docs = (0L until 60L).map(i =>
      (i, s"word$i alpha beta gamma delta epsilon zeta eta theta " +
        s"iota kappa word${i % 7}")).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 5)
    val out = Dedup.fuzzyContaminatedDocs(docs, bench, threshold = 0.5)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    assert(!planStr.contains("SortMergeJoin"),
      s"a corpus-side join degraded to sort-merge:\n$planStr")
    assert(planStr.contains("BroadcastHashJoin"),
      s"expected benchmark-side broadcast joins, got:\n$planStr")
  }

  test("diversitySample: cluster assignment shuffle-free, vectors off the rank window") {
    val pts = (0L until 80L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 5 + d) % 13).toFloat / 13f).toSeq))
      .toDF("vec_id", "embedding")
    val out = operators.Similarity.diversitySample(pts, k = 2, iters = 1, cap = 5)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    // narrow (id, cluster, hash) rank window: the embedding column must
    // not ride the per-cluster sort-shuffle
    assert(!planStr.split("\n").exists(l =>
      l.contains("Exchange") && l.contains("embedding#")),
      s"embedding vectors ride the rank-window shuffle:\n$planStr")
    assert(!planStr.contains("SinglePartition"),
      s"rank window collapsed to a single partition:\n$planStr")
  }

  test("mixCorpus plans as a projection + generator — no Exchange") {
    // The Scaladoc promises shuffle-free expansion: weights fold into the
    // projection as a literal CASE chain and copies come from a generator
    // explode, so the op can prefix any pipeline without a plan break.
    val docs = (0L until 100L).map(i => (i, s"src${i % 3}", s"doc $i"))
      .toDF("doc_id", "source", "text")
    val plan = TextAnalysis.mixCorpus(docs, Map("src0" -> 2.5, "src1" -> 0.4))
      .queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"expected shuffle-free mixture expansion, got:\n$plan")
  }

  test("shardCorpus: partitioned rank window, no single-partition collapse") {
    val docs = (0L until 100L).map(i => (i, s"doc text $i payload"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.shardCorpus(docs, nShards = 8)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    assert(!planStr.contains("SinglePartition"),
      s"shard rank window collapsed to a single partition:\n$planStr")
    // narrow projection promise: document text must not ride the
    // per-shard sort-shuffle
    assert(!planStr.split("\n").exists(l =>
      l.contains("Exchange") && l.contains("text#")),
      s"document text rides the shard-window shuffle:\n$planStr")
  }

  test("incrementalDupPairs: batch side broadcast, corpus never sort-merge-joined") {
    // The continuous-ingest contract: the corpus-probe band join and the
    // Jaccard verify join against batch data are broadcast (batch tiny);
    // a SortMergeJoin would mean corpus-sized rows shuffle on (band, key)
    // and the incremental path degenerates to the self-join cost.
    val docs = (0L until 60L).map(i =>
      (i, s"word$i alpha beta gamma delta epsilon zeta eta theta " +
        s"iota kappa word${i % 7}")).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") >= 5)
    val batch = docs.filter(col("doc_id") < 5)
    val out = operators.Dedup.incrementalDupPairs(corpus, batch,
      threshold = 0.5, k = 8, bands = 4, shingleK = 3)
    out.collect() // finalize the adaptive plan
    val planStr = out.queryExecution.executedPlan.toString
    // the corpus-probe subtree must broadcast the batch; the batch-internal
    // self-join (minhashDupPairs on 5 docs) may plan however it likes, so
    // assert specifically that no sort-merge join consumes the corpus-side
    // shingle/band stream (its columns are set_c / dup_id)
    assert(!planStr.split("\n").exists(l =>
      l.contains("SortMergeJoin") && (l.contains("set_c#") || l.contains("dup_id#"))),
      s"a corpus-side join degraded to sort-merge:\n$planStr")
    assert(planStr.contains("BroadcastHashJoin"),
      s"expected batch-side broadcast joins, got:\n$planStr")
  }

  /** The number of Spark jobs `body` starts (the listener bus is drained
    * before counting). */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("conllToBert: one generator pass per document, no row-encoded " +
      "map, at most 4 exchanges") {
    import graft.operators.Bert
    import org.apache.spark.sql.execution.{AppendColumnsExec, GenerateExec, MapPartitionsExec}
    val words = Seq("alpha", "key", "value", "beta")
    val corpus = (0L until 20L).flatMap(d => words.indices.map(i =>
        (d, i, i * 6, i * 6 + words(i).length, if (i == 1) "B" else if (i == 2) "I" else "O",
          if (i == 1 || i == 2) "K" else null)))
      .toDF("doc_id", "token_id", "b", "e", "ent_iob", "ent_type")
      .select(col("doc_id"), col("token_id"), spans.span(col("b"), col("e")).as("span"),
        col("ent_iob"), col("ent_type"))
    val docs = (0L until 20L).map(d => (d, "alpha key   value beta")).toDF("doc_id", "text")
    val out = Bert.conllToBert(corpus, docs, Seq("K"))
    assert(out.count() == 20 * 8)
    out.collect() // finalize the adaptive plan
    val nodes = PlanDigest.allNodes(out.queryExecution.executedPlan)
    val plan = out.queryExecution.executedPlan
    assert(nodes.count(_.isInstanceOf[GenerateExec]) == 1, s"expected one Generate:\n$plan")
    assert(!nodes.exists(n => n.isInstanceOf[MapPartitionsExec] ||
      n.isInstanceOf[AppendColumnsExec]), s"a row-encoded map is back:\n$plan")
    assert(nodes.count(_.isInstanceOf[Exchange]) <= 4, s"more than 4 exchanges:\n$plan")
  }

  test("f1ScoreReportIob runs at most 4 jobs") {
    import graft.operators.Cleaning
    val corpus = (0L until 300L).map(i => (i % 30, i, Seq("A", "B", "C")(i.toInt % 3)))
      .toDF("doc_id", "tok", "ent_type")
    val pred = corpus.filter(col("tok") % 4 =!= 0)
    val report = Cleaning.f1ScoreReportIob(pred, corpus, Seq("doc_id", "tok"))
    var rows = 0
    val jobs = jobsOf { rows = report.collect().length }
    assert(rows == 5)
    assert(jobs <= 4, s"f1ScoreReportIob ran $jobs jobs")
  }

  test("makeTable with explicit columnKeys launches no inference job") {
    // Explicit keys are the scale-path contract: constructing the pivot
    // must stay fully lazy — no pivot-value-inference scan of the cells
    // relation (the implicit-keys path pays exactly one such job).
    val cells = (0L until 40L).map { i =>
      (i % 4, 0, (i / 4).toInt % 5, "", s"C${i % 2}", (i % 2).toInt,
        i, s"v$i")
    }.toDF("doc_id", "table_idx", "row_index_begin", "row_header_texts",
      "column_header_texts", "column_index_begin", "begin", "text")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sources.WatsonTables.makeTable(cells, columnKeys = Seq("C0", "C1"))
      // flush marker: listener events are FIFO, so once this job's start
      // event is counted, any inference job from the line above would
      // already have been counted too (raw RDD action = exactly one job;
      // a SQL action would cost a variable number under AQE)
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.currentTimeMillis + 10000
      while (jobs < 1 && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(jobs == 1,
        s"explicit-keys makeTable construction ran ${jobs - 1} Spark job(s); " +
          "the pivot-key inference scan leaked back in")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q149 ivfPqTopK: probed-cell scoring is a broadcast join over codes only") {
    // The IVFADC contract: (1) the probe set is broadcast and the scoring
    // join keys on cell_id — rows outside probed cells drop at the join
    // before any distance arithmetic; (2) the raw corpus vector never
    // crosses an exchange — the index build is one projection to
    // (id, cell_id, m code ints), and the scoring side reads codes.
    val out = SparkEntry.queries("q149_ivfpq")(spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell_id#")),
      s"expected the probe set broadcast-joined on cell_id:\n$planStr")
    assert(!planStr.split("\n").exists(l =>
      l.contains("Exchange") && l.contains("c_vec#")),
      s"raw corpus vectors crossed an exchange:\n$planStr")
  }

  test("hardNegatives: no WindowExec anywhere at default (open) valves") {
    // the bounded-aggregate contract: top-k selection is no rank window
    // and — with maxBucket/maxCandPerAnchor valves open — nothing else in
    // the pair pipeline introduces one either
    val emb = (0L until 60L).map(i =>
      (i, (0 until 8).map(d => ((i * 7 + d * 3) % 13 - 6).toDouble), (i % 3).toString))
      .toDF("vec_id", "embedding", "label")
    val out = operators.Similarity.hardNegatives(emb, k = 3)
    assert(out.collect().nonEmpty)
    val nodes = PlanDigest.allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      s"expected the rank window gone:\n${out.queryExecution.executedPlan}")
  }

  test("q181 stored-index hybrid RRF: every retriever-side rank window is " +
      "group-limited, ANN side bucket-prunes") {
    // the batch-scale hybrid contract: the BM25 side and the probe
    // routing are rank windows bounded by a window group limit, the ANN
    // side is a bounded shortlist + rerank over the stored index — only
    // the final RRF rank over Σk rows/query is exempt
    val out = SparkEntry.queries("q181_hybrid_stored")(spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    val planStr = out.queryExecution.executedPlan.toString
    val windows = PlanDigest.allNodes(out.queryExecution.executedPlan).collect {
      case w: WindowExec => w
    }
    // pre-order walk: the first window is the root-most one, the fuse
    assert(windows.size > 1 && windows.tail.forall(w => w.child match {
      case l: WindowGroupLimitExec => l.mode == LimitFinal
      case _ => false
    }), s"a retriever-side window is not on a Final WindowGroupLimit:\n$planStr")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(planStr)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected a bucket-pruned stored-index scan on the ANN side:\n$planStr")
  }

  test("window top-k operators prune to k rows per task before the rank " +
      "window's shuffle (Partial WindowGroupLimit below the hash exchange)") {
    import graft.operators.Similarity
    val e = (0L until 200L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = Similarity.kmeansFit(e, k = 4, iters = 1)
    val books = Similarity.pqFitCodebooks(e, m = 4, ksub = 4, iters = 1)
    val probes = Similarity.ivfPqProbes(q, cents, nprobe = 2)
    val docs = (0L until 80L).map(i => (i, s"spark join fast query word$i body"))
      .toDF("doc_id", "text")
    val qs = Seq((0, "spark"), (0, "join"), (1, "query")).toDF("query_id", "term")
    val outs = Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(e, q, k = 10),
      "bm25TopK" -> TextAnalysis.bm25TopK(docs, qs, k = 5),
      "tfIdfTopTerms" -> TextAnalysis.tfIdfTopTerms(docs, k = 3),
      "ivfPqProbes" -> probes,
      "ivfPqTopKFromIndex" -> Similarity.ivfPqTopKFromIndex(
        Similarity.ivfPqIndex(e, cents, books), probes, books, k = 10))
    outs.foreach { case (name, out) =>
      assert(out.collect().nonEmpty, name)
      val plan = out.queryExecution.executedPlan
      val rankWindow = PlanDigest.allNodes(plan).collectFirst { case w: WindowExec => w }
      assert(rankWindow.isDefined, s"$name: no rank window:\n$plan")
      // the first exchange below the rank window is its own hash shuffle
      val shuffle = PlanDigest.allNodes(rankWindow.get).collectFirst {
        case x: ShuffleExchangeExec => x
      }
      assert(shuffle.exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        s"$name: no hash exchange below the rank window:\n$plan")
      assert(shuffle.get.child match {
        case l: WindowGroupLimitExec => l.mode == LimitPartial
        case _ => false
      }, s"$name: the rank window's exchange is not fed by a Partial " +
        s"WindowGroupLimit:\n$plan")
    }
  }

  test("q180 residual index build: one shuffle-free projection (routing + " +
      "residual + codes), no join or exchange before the scored stage") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansFit(e, k = 4, iters = 1)
    val books = Similarity.pqFitCodebooksResidual(e, cents, m = 4, ksub = 4,
      iters = 1)
    // the raw build routes with the same kernel: no exchange either
    val rawBooks = Similarity.pqFitCodebooks(e, m = 4, ksub = 4, iters = 1)
    for ((name, index) <- Seq(
        "ivfPqIndexResidual" -> Similarity.ivfPqIndexResidual(e, cents, books),
        "ivfPqIndex" -> Similarity.ivfPqIndex(e, cents, rawBooks))) {
      val plan = index.queryExecution.executedPlan
      assert(plan.collect { case ex: Exchange => ex }.isEmpty,
        s"$name: expected a shuffle-free index projection, got:\n$plan")
    }
  }

  test("q185 OPQ index build: one shuffle-free projection (routing + " +
      "residual + rotation + codes), and the stored form bucket-prunes") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansFit(e, k = 4, iters = 1)
    val (r, books) = Similarity.opqFitRotation(
      Similarity.ivfResiduals(e, cents), m = 4, ksub = 4, iters = 1,
      sweeps = 2)
    // the rotation is one more expression in the same projection — the
    // raw vector still never crosses an exchange
    val plan = Similarity.ivfPqIndexOpq(e, cents, r, books)
      .queryExecution.executedPlan
    assert(plan.collect { case ex: Exchange => ex }.isEmpty,
      s"expected a shuffle-free OPQ index projection, got:\n$plan")
    // q186's stored probe: the probed-cell isin reaches the scan as
    // physical bucket pruning
    val planStr = SparkEntry.queries("q186_ivfpq_opq_stored")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(planStr)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected a bucket-pruned stored-OPQ-index scan:\n$planStr")
  }

  test("q188 filtered ANN: the metadata predicate reaches the stored-index " +
      "SCAN (pushed parquet filter on the bucket-pruned read), never a " +
      "post-rerank filter") {
    val out = SparkEntry.queries("q188_filtered_ann")(
      spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    val planStr = out.queryExecution.executedPlan.toString
    // the label predicate is a data filter on the index's parquet scan —
    // filtering costs nothing beyond the scan the probe already does
    assert("PushedFilters: \\[[^\\]]*label[^\\]]*\\]".r
      .findFirstIn(planStr).isDefined,
      s"label predicate did not reach the index scan as a pushed filter:\n$planStr")
    // and the probed-cell isin still bucket-prunes the same scan
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(planStr)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"expected a bucket-pruned filtered-index scan:\n$planStr")
    // every returned neighbor satisfies the predicate (rank-k over the
    // FILTERED set — the shortlist was built only from passing rows)
    val labels = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.collect().forall(r => labels(r.getLong(1)) % 2 == 0),
      "a returned neighbor violates the pushed metadata predicate")
  }

  test("q171 incremental datasheet: the returned plan reads ONLY the stored " +
      "sketch relations — no documents scan anywhere") {
    // the capstone contract: refreshing the full per-source datasheet
    // for a new batch is merge + estimate over the eight stored sketch
    // parquet relations; the corpus (and even the batch's raw text) is
    // scanned only at ingest time, never by the refresh plan
    val out = SparkEntry.queries("q171_datasheet_incremental")(
      spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    val scans = PlanDigest.allNodes(out.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val scanned = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.forall(p => !p.contains("documents.parquet")),
      s"datasheet refresh scanned the corpus:\n${scanned.mkString("\n")}")
    assert(scanned.forall(p => p.contains("graft_datasheet_sk")),
      s"expected only stored sketch relations:\n${scanned.mkString("\n")}")
    // and the datasheet carries all four sketch families
    assert(out.select("metric").distinct().collect().map(_.getString(0)).toSet ==
      Set("est_distinct_tokens", "n_tokens", "hll_regs", "token_count",
        "n_docs", "p50_len", "p95_len", "jaccard"))
  }

  test("q147/q148 naive theta forms fire the optimizer rewrites") {
    val d = "/root/testdata/sf0.001"
    val p147 = SparkEntry.queries("q147_contains_rule")(spark, d)
      .queryExecution.optimizedPlan.toString
    assert(p147.contains("__graft_blk"),
      s"contains rewrite did not fire on q147:\n${p147.take(1500)}")
    val p148 = SparkEntry.queries("q148_adjacent_rule")(spark, d)
      .queryExecution.optimizedPlan.toString
    assert(p148.contains("__graft_gap"),
      s"gap-band rewrite did not fire on q148:\n${p148.take(1500)}")
    // each explicit SpanJoin operator plans exactly like its declarative
    // twin: the rule is the only thing that blocks either of them. The
    // top-k queries named for deleted aggregate twins run the one kept
    // operator, so they plan exactly like its query too.
    Seq("q27_adjacent_join" -> "q148_adjacent_rule",
        "q28_overlap_join" -> "q75_overlap_rule",
        "q29_contain_join" -> "q147_contains_rule",
        "q141_bm25_agg" -> "q127_bm25", "q142_ann_brute_agg" -> "q18_ann_brute",
        "q143_tfidf_agg" -> "q74_tfidf", "q155_ivfpq_agg" -> "q149_ivfpq",
        "q153_hard_negatives_agg" -> "q129_hard_negatives").foreach { case (op, twin) =>
      assert(PlanDigest.of(SparkEntry.queries(op)(spark, d)) ==
        PlanDigest.of(SparkEntry.queries(twin)(spark, d)), s"$op vs $twin")
    }
  }

  test("plan digests of the ten most expensive queries stay pinned") {
    // Regression guard from the r10 q92 postmortem: a rewrite that
    // silently re-adds an Exchange (the old sort-merge re-attach join)
    // or flips a broadcast join to a shuffle join must fail HERE, not
    // surface as wall seconds in the next bench round. Digests are over
    // the INITIAL adaptive plan at sf0.001 — deterministic in the query
    // + optimizer. After an INTENTIONAL plan improvement, refresh the
    // pins with `sbt "runMain graft.PlanDigest"`.
    val pinned = Map(
      "q89_corpus_v2" -> "exchanges=6 joins[BroadcastHashJoin=2,SortMergeJoin=1] cartesian=0",
      "q77_training_corpus" -> "exchanges=2 joins[SortMergeJoin=1] cartesian=0",
      // one generator pass per document: the piece relation's alignment
      // and embedding joins are gone, the entity arrays broadcast to docs
      "q93_conll_to_bert" -> "exchanges=2 joins[BroadcastHashJoin=1] cartesian=0",
      // round-22 refresh (intentional improvements): q92 lost one
      // Exchange to the famA/famB union→explode collapse; q61 lost both
      // joins and both exchanges to the one-parse WatsonNlu.frames form
      "q92_align_bert" -> "exchanges=6 joins[BroadcastHashJoin=1,SortMergeJoin=2] cartesian=0",
      "q61_watson_frames" -> "exchanges=0 joins[] cartesian=0",
      "q84_strip_dup_spans" -> "exchanges=7 joins[BroadcastHashJoin=3] cartesian=0",
      "q48_make_table" -> "exchanges=2 joins[] cartesian=0",
      "q44_watson_syntax" -> "exchanges=5 joins[BroadcastHashJoin=3] cartesian=0",
      "q49_spacy_features" -> "exchanges=1 joins[] cartesian=0",
      "q81_dup_spans" -> "exchanges=4 joins[BroadcastHashJoin=1] cartesian=0")
    assert(PlanDigest.PinnedQueries.toSet == pinned.keySet)
    val diffs = PlanDigest.PinnedQueries.flatMap { name =>
      val got = PlanDigest.of(
        SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")).toString
      if (got == pinned(name)) None else Some(s"$name: pinned ${pinned(name)} != got $got")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
