package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.Exchange
import graft.operators.Tokenize
import graft.sources.Storage

/** Bucketed storage: same-key joins between co-bucketed tables plan with
  * NO shuffle exchange — the claim behind the 100 TB co-location story,
  * asserted at the physical-plan level. */
class StorageSpec extends GraftSuite {
  import spark.implicits._

  /** Runs `body` and returns its value with every file scan of every
    * query it ran: (table, Some((selected, total)) buckets when the scan
    * is bucket-pruned). */
  private def scansDuring[T](body: => T): (T, Seq[(String, Option[(Int, Int)])]) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val v = body
      org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
      v
    } finally spark.listenerManager.unregister(listener)
    val sel = "(\\d+) out of (\\d+)".r
    val walk = new AdaptiveSparkPlanHelper {}
    (out, plans.asScala.toSeq.flatMap(p => walk.collectWithSubqueries(p) {
      case s: FileSourceScanExec =>
        (s.tableIdentifier.fold("")(_.table),
          s.metadata.get("SelectedBucketsCount").flatMap(sel.findFirstMatchIn)
            .map(m => (m.group(1).toInt, m.group(2).toInt)))
    }))
  }

  /** Runs `body` and returns its value with the WARN messages logged to
    * `logger` meanwhile. */
  private def warningsDuring[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    log.addAppender(app)
    try (body, got.asScala.toSeq)
    finally { log.removeAppender(app); app.stop() }
  }

  test("co-bucketed doc_id join has no Exchange in the physical plan") {
    val docs = Seq((0L, "key agg row scan"), (1L, "slow fast join")).toDF("doc_id", "text")
    val toks = Tokenize.normalizedTokens(docs)
    val base = java.nio.file.Files.createTempDirectory("graft_bucketed")
    base.toFile.deleteOnExit()
    Storage.writeBucketed(toks.select("doc_id", "token_id", "text"),
      "toks_bucketed", s"$base/toks", buckets = 4)
    Storage.writeBucketed(docs, "docs_bucketed", s"$base/docs", buckets = 4)
    try {
      val t = Storage.readTable(spark, "toks_bucketed")
      val d = Storage.readTable(spark, "docs_bucketed")
      val joined = t.join(d, "doc_id")
      val plan = joined.queryExecution.executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty,
        s"expected exchange-free co-bucketed join, got:\n$plan")
      assert(joined.count() == 7) // 4 + 3 tokens, each with its doc row
    } finally {
      spark.sql("DROP TABLE IF EXISTS toks_bucketed")
      spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    }
  }

  test("declared q110 plans join AND per-doc agg exchange-free end-to-end") {
    // The declared-query surface of the co-location story: the builder
    // writes both bucketed tables, and the returned plan must carry NO
    // Exchange — neither for the doc_id join nor for the groupBy.
    val df = SparkEntry.queries("q110_bucketed_join")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"expected exchange-free bucketed join+agg, got:\n$plan")
    assert(df.count() > 0)
    // no table cleanup: the seed tables are per-JVM (seedOnce) — dropping
    // them here would poison any later construction in this JVM
  }

  test("q154 bucketed IVF-PQ index scan bucket-prunes to the probed cells") {
    // The IVFADC claim made physical: with the index stored bucketed by
    // cell_id, the probed-cell isin filter must plan as BUCKET PRUNING at
    // the scan (SelectedBucketsCount strictly below the bucket count) —
    // the single-node analogue of 1000 executors never opening the
    // unprobed shards of a 100 TB code table.
    val df = SparkEntry.queries("q154_ivfpq_bucketed")(spark, "/root/testdata/sf0.001")
    val planStr = df.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(planStr)
    assert(sel.isDefined,
      s"expected a bucket-pruned scan of the stored index, got:\n$planStr")
    val (chosen, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(chosen < total && total == 8,
      s"expected pruning below the 8 written buckets, got $chosen of $total")
    assert(df.count() > 0)
    // no table cleanup: the stored index is the per-JVM seedOnce relation
    // shared with q181 — dropping it would poison later constructions
  }

  test("q162 appended IVF-PQ index equals a rebuild and still bucket-prunes") {
    // The incremental-index claim: appending a batch encoded with FROZEN
    // quantizers produces the same index relation as rebuilding from the
    // full corpus, and the appended generation's files keep the bucket
    // spec — a probe-cell filter prunes across BOTH generations.
    import graft.operators.Similarity
    val rng = new scala.util.Random(7)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextDouble()), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val centroids = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooks(emb, m = 4, ksub = 4, iters = 2)
    val base = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_app_idx_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndex(base, centroids, books),
      "app_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    Storage.appendBucketed(Similarity.ivfPqIndex(batch, centroids, books),
      "app_idx_spec", bucketCol = "cell_id", buckets = 8)
    try {
      val stored = Storage.readTable(spark, "app_idx_spec")
      val rebuilt = Similarity.ivfPqIndex(emb, centroids, books)
      assert(stored.collect().map(_.toString).sorted.toSeq ==
        rebuilt.collect().map(_.toString).sorted.toSeq,
        "appended index diverges from a full rebuild under frozen quantizers")
      val oneCell = stored.select("cell_id").limit(1).collect()(0).getInt(0)
      val planStr = stored.filter(col("cell_id") === oneCell)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined,
        s"expected a bucket-pruned scan of the appended index, got:\n$planStr")
      val (chosen, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
      assert(chosen < total && total == 8,
        s"expected pruning below the 8 written buckets, got $chosen of $total")
    } finally {
      spark.sql("DROP TABLE IF EXISTS app_idx_spec")
    }
  }

  test("persisted band index: probe-key isin bucket-prunes the scan and the " +
      "probe matches the recompute form row-for-row") {
    // One-page micro-batch → ≤4 band keys → the stored-index scan must
    // open strictly fewer than the 8 written buckets (the 24/7 ingest
    // lever: unprobed shards of the corpus index are never read), while
    // producing exactly nearDupAgainstCorpus's rows.
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about database engines and query planners"),
      (3L, "a third page on storage bucketing and physical plan pruning facts"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away today"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_band_idx_t")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "band_idx_spec", s"$base/idx", bucketCol = "key", buckets = 8)
    try {
      val keys = batch.select(
          explode(graft.operators.Dedup.lshBandKeys(
            graft.operators.Dedup.minhashSignature(col("text"), 8, 3), 8, 4))
            .as("key"))
        .distinct().collect().map(_.getLong(0))
      val pruned = Storage.readTable(spark, "band_idx_spec")
        .filter(col("key").isin(keys.map(java.lang.Long.valueOf): _*))
      val probed = graft.streaming.DocumentStreams.nearDupAgainstIndex(
        batch, pruned, corpus, threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      val planStr = probed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined,
        s"expected a bucket-pruned scan of the stored band index, got:\n$planStr")
      val (chosen, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
      assert(chosen < total && total == 8,
        s"expected pruning below the 8 written buckets, got $chosen of $total")
      val expect = graft.streaming.DocumentStreams.nearDupAgainstCorpus(
        batch, corpus, threshold = 0.5, k = 8, bands = 4, shingleK = 3)
        .collect().map(_.toString).sorted.toSeq
      assert(probed.collect().map(_.toString).sorted.toSeq == expect && expect.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS band_idx_spec")
    }
  }

  test("ivfPqTopKRerankFromIndex over the stored cell-pruned index matches " +
      "the inline form row-for-row and keeps bucket pruning") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(13)
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(16)(rng.nextDouble()), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooks(emb, m = 4, ksub = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_rerank_idx_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndex(emb, cents, books),
      "rerank_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    try {
      val probes = Similarity.ivfPqProbes(q, cents, nprobe = 2)
      val cells = probes.select("cell_id").distinct().collect().map(_.getInt(0))
      val stored = Storage.readTable(spark, "rerank_idx_spec")
        .filter($"cell_id".isin(cells.map(Integer.valueOf): _*))
      val out = Similarity.ivfPqTopKRerankFromIndex(stored, probes, q, emb,
        books, k = 10, r = 20)
      val inline = Similarity.ivfPqTopKRerank(emb, q, cents, books,
        nprobe = 2, k = 10, r = 20).collect().map(_.toString).sorted.toSeq
      assert(out.collect().map(_.toString).sorted.toSeq == inline &&
        inline.nonEmpty)
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(out.queryExecution.executedPlan.toString)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        "expected the stored index scan bucket-pruned under the rerank")
    } finally {
      spark.sql("DROP TABLE IF EXISTS rerank_idx_spec")
    }
  }

  test("compactBuckets: 8 append generations collapse to one file per bucket " +
      "with row parity and unchanged bucket pruning") {
    import graft.operators.Dedup
    val mk = (ids: Range, tag: String) => ids.map(i =>
      (i.toLong, s"generation $tag doc number $i about topic ${i % 3} and storage"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      Dedup.lshBandIndex(mk(0 until 4, "seed"), k = 8, bands = 4, shingleK = 3),
      "compact_spec", s"$dir/idx", bucketCol = "key", buckets = 8)
    (1 to 8).foreach { g =>
      Storage.appendBucketed(
        Dedup.lshBandIndex(mk(g * 100 until g * 100 + 4, s"g$g"),
          k = 8, bands = 4, shingleK = 3),
        "compact_spec", bucketCol = "key", buckets = 8)
    }
    try {
      def files(t: String): Seq[java.nio.file.Path] = {
        val loc = java.nio.file.Paths.get(new java.net.URI(
          spark.sql(s"DESC FORMATTED $t").filter($"col_name" === "Location")
            .collect()(0).getString(1)))
        java.nio.file.Files.walk(loc).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      }
      val before = Storage.readTable(spark, "compact_spec")
        .collect().map(_.toString).sorted.toSeq
      val nBefore = files("compact_spec").size
      // 9 generations × files-per-generation: well above one per bucket
      assert(nBefore > 8, s"expected >8 files before compaction, got $nBefore")
      Storage.compactBuckets(spark, "compact_spec", bucketCol = "key", buckets = 8)
      val nAfter = files("compact_spec").size
      assert(nAfter <= 8 && nAfter < nBefore,
        s"expected <=8 files (one per non-empty bucket), got $nAfter of $nBefore")
      val after = Storage.readTable(spark, "compact_spec")
        .collect().map(_.toString).sorted.toSeq
      assert(after == before, "compaction changed the relation")
      // a key probe still bucket-prunes exactly as before the swap
      val oneKey = Storage.readTable(spark, "compact_spec")
        .select("key").limit(1).collect()(0).getLong(0)
      val planStr = Storage.readTable(spark, "compact_spec")
        .filter($"key" === oneKey).queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined, s"expected bucket pruning after compaction:\n$planStr")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt &&
        sel.get.group(2).toInt == 8)
    } finally {
      spark.sql("DROP TABLE IF EXISTS compact_spec")
      spark.sql("DROP TABLE IF EXISTS compact_spec_compact")
    }
  }

  test("compactBuckets adopts the compacted snapshot after a crash between " +
      "the swap's renames, and clears a stale tmp next to a live table") {
    import graft.operators.Dedup
    val docs = (0 until 6).map(i =>
      (i.toLong, s"recovery doc $i about compaction swap states and buckets"))
      .toDF("doc_id", "text")
    val idx = Dedup.lshBandIndex(docs, k = 8, bands = 4, shingleK = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_recov_t")
    dir.toFile.deleteOnExit()
    try {
      // ---- crash state B: rename-aside done, rename-in not reached ----
      // (live name missing; the compacted snapshot sits under _compact)
      Storage.writeBucketed(idx, "recov_spec", s"$dir/idx",
        bucketCol = "key", buckets = 8)
      val rows = Storage.readTable(spark, "recov_spec")
        .collect().map(_.toString).sorted.toSeq
      Storage.writeBucketed(idx, "recov_spec_compact", s"$dir/idx_c",
        bucketCol = "key", buckets = 8)
      spark.sql("ALTER TABLE `recov_spec` RENAME TO `recov_spec_old`")
      assert(!spark.catalog.tableExists("recov_spec"))
      Storage.compactBuckets(spark, "recov_spec", bucketCol = "key", buckets = 8)
      assert(Storage.readTable(spark, "recov_spec")
        .collect().map(_.toString).sorted.toSeq == rows,
        "adoption lost rows")
      assert(!spark.catalog.tableExists("recov_spec_old") &&
        !spark.catalog.tableExists("recov_spec_compact"),
        "recovery left swap-state tables behind")
      // the aside generation's files are gone (Hadoop FS delete)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/idx")),
        "aside generation's files were not cleaned up")
      // ---- crash state A: tmp written, swap never started ----
      // (live table present; the stale tmp must be dropped, not adopted)
      Storage.writeBucketed(idx.limit(2), "recov_spec_compact",
        s"$dir/idx_stale", bucketCol = "key", buckets = 8)
      Storage.compactBuckets(spark, "recov_spec", bucketCol = "key", buckets = 8)
      assert(Storage.readTable(spark, "recov_spec")
        .collect().map(_.toString).sorted.toSeq == rows,
        "stale tmp leaked into the compacted table")
      assert(!spark.catalog.tableExists("recov_spec_compact"))
    } finally {
      Seq("recov_spec", "recov_spec_old", "recov_spec_compact")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("compactBuckets resolves scheme-qualified table locations through the " +
      "Hadoop FileSystem API (file:// URI — the hdfs/s3a-portable path)") {
    import graft.operators.Dedup
    val docs = (0 until 5).map(i =>
      (i.toLong, s"scheme doc $i about hadoop filesystem path resolution"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_scheme_t")
    dir.toFile.deleteOnExit()
    // an explicitly scheme-qualified location: java.nio file walking would
    // need the URI unwrapped by hand; the Hadoop Path/FileSystem route the
    // compactor uses handles any scheme uniformly
    Storage.writeBucketed(
      Dedup.lshBandIndex(docs, k = 8, bands = 4, shingleK = 3),
      "scheme_spec", s"file://$dir/idx", bucketCol = "key", buckets = 8)
    Storage.appendBucketed(
      Dedup.lshBandIndex(docs.withColumn("doc_id", $"doc_id" + 100L),
        k = 8, bands = 4, shingleK = 3),
      "scheme_spec", bucketCol = "key", buckets = 8)
    try {
      val before = Storage.readTable(spark, "scheme_spec")
        .collect().map(_.toString).sorted.toSeq
      Storage.compactBuckets(spark, "scheme_spec", bucketCol = "key", buckets = 8)
      assert(Storage.readTable(spark, "scheme_spec")
        .collect().map(_.toString).sorted.toSeq == before)
      // the new location is a sibling of the old and the old generation's
      // directory is gone — both resolved via Hadoop Path arithmetic
      val loc = new org.apache.hadoop.fs.Path(new java.net.URI(
        spark.sql("DESC FORMATTED scheme_spec")
          .filter($"col_name" === "Location").collect()(0).getString(1)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(loc), s"compacted location missing: $loc")
      assert(loc.getName.startsWith("idx_c"), s"unexpected location: $loc")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc.getParent, "idx")),
        "old generation's directory survived the swap")
    } finally {
      spark.sql("DROP TABLE IF EXISTS scheme_spec")
      spark.sql("DROP TABLE IF EXISTS scheme_spec_compact")
      spark.sql("DROP TABLE IF EXISTS scheme_spec_old")
    }
  }

  test("self-updating ingest: each probe matches sequential recompute, the " +
      "update is visible to the NEXT batch, and pruning holds across generations") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val t1 = "completely different text about database engines and query planners"
    val corpus = Seq((0L, t0), (2L, t1)).toDF("doc_id", "text")
    // batch1 duplicates a CORPUS doc; batch2 duplicates a BATCH1 doc —
    // detectable only if batch1 was absorbed into the stored index
    val batch1 = Seq((10L, t0), (11L, "novel glacier valley survey notes today"))
      .toDF("doc_id", "text")
    val batch2 = Seq((20L, "novel glacier valley survey notes today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_self_idx_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "self_idx_spec", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "self_cor_spec", s"$dir/cor",
      bucketCol = "doc_id", buckets = 8)
    try {
      def run(b: org.apache.spark.sql.DataFrame) =
        DocumentStreams.ingestProbeThenUpdate(b, "self_idx_spec",
          "self_cor_spec", threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      val r1 = run(batch1).collect().map(_.toString).sorted.toSeq
      val r2 = run(batch2).collect().map(_.toString).sorted.toSeq
      // sequential recompute oracle: batch1 vs corpus; batch2 vs corpus∪batch1
      val e1 = DocumentStreams.nearDupAgainstCorpus(batch1, corpus,
        threshold = 0.5, k = 8, bands = 4, shingleK = 3)
        .collect().map(_.toString).sorted.toSeq
      val e2 = DocumentStreams.nearDupAgainstCorpus(batch2,
        corpus.unionByName(batch1), threshold = 0.5, k = 8, bands = 4,
        shingleK = 3).collect().map(_.toString).sorted.toSeq
      assert(r1 == e1 && r1.nonEmpty, s"batch1: $r1 vs $e1")
      assert(r2 == e2, s"batch2: $r2 vs $e2")
      // the batch2 detection is AGAINST A BATCH1 DOC — the self-update
      // is what makes it visible
      assert(r2.exists(_.contains("11")), s"expected a dup vs batch1 doc 11, got $r2")
      // a fresh probe over THREE index generations (seed + two appends)
      // still bucket-prunes at the scan
      val probe3 = DocumentStreams.probeStoredIndex(
        Seq((30L, t0)).toDF("doc_id", "text"), "self_idx_spec",
        "self_cor_spec", threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      val planStr = probe3.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined,
        s"expected a bucket-pruned scan across generations, got:\n$planStr")
      val (chosen, total) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
      assert(chosen < total && total == 8,
        s"expected pruning below the 8 written buckets, got $chosen of $total")
      assert(probe3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((30L, 0L), (30L, 10L)))
      // candidate-pruned corpus read: same rows, and the VERIFY side's
      // corpus scan now bucket-prunes too (the candidate ids reach the
      // doc_id-bucketed corpus table as an isin literal) — at 100 TB the
      // corpus text scan is the verify's dominant per-batch cost
      // The index scan runs in the candidate pass and the corpus scan in
      // the returned plan, so both are read off every query the call runs.
      val (pairs3p, scans3p) = scansDuring(DocumentStreams.probeStoredIndex(
        Seq((30L, t0)).toDF("doc_id", "text"), "self_idx_spec",
        "self_cor_spec", threshold = 0.5, k = 8, bands = 4, shingleK = 3,
        pruneCorpusByCandidates = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(pairs3p == Set((30L, 0L), (30L, 10L)))
      Seq("self_idx_spec", "self_cor_spec").foreach { t =>
        val sel = scans3p.filter(_._1 == t).map(_._2)
        assert(sel.nonEmpty && sel.forall {
            case Some((chosen, total)) => chosen < total && total == 8
            case None => false
          }, s"expected BOTH the index and corpus scans bucket-pruned, " +
          s"got $t: $sel")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS self_idx_spec")
      spark.sql("DROP TABLE IF EXISTS self_cor_spec")
    }
  }

  test("takedown tombstones: probes hide tombstoned docs immediately and " +
      "compaction physically drops their rows (LSM delete shape)") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val t1 = "completely different text about database engines and query planners"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"), (2L, t1))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "tomb_idx_spec", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "tomb_cor_spec", s"$dir/cor",
      bucketCol = "doc_id", buckets = 8)
    try {
      val batch = Seq((30L, t0)).toDF("doc_id", "text")
      def probe(ts: Option[String]) = DocumentStreams.probeStoredIndex(
        batch, "tomb_idx_spec", "tomb_cor_spec", threshold = 0.5, k = 8,
        bands = 4, shingleK = 3, tombstoneTable = ts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // before the takedown: the batch doc collides with 0 AND 1
      assert(probe(None) == Set((30L, 0L), (30L, 1L)))
      // takedown doc 0: the ledger starts empty, then absorbs the id
      DocumentStreams.recordDeletions(Seq(0L).toDF("doc_id"),
        "tomb_ts_spec", s"$dir/ts")
      // hidden IMMEDIATELY (anti-join), long before any rewrite
      assert(probe(Some("tomb_ts_spec")) == Set((30L, 1L)))
      // compaction physically drops the tombstoned rows from both tables
      val ts = Storage.readTable(spark, "tomb_ts_spec")
      Storage.compactBuckets(spark, "tomb_idx_spec", bucketCol = "key",
        buckets = 8, dropIds = Some((ts, "dup_id")))
      Storage.compactBuckets(spark, "tomb_cor_spec", bucketCol = "doc_id",
        buckets = 8, dropIds = Some((ts, "doc_id")))
      assert(Storage.readTable(spark, "tomb_idx_spec")
        .filter($"dup_id" === 0L).count() == 0, "index rows survived compaction")
      assert(Storage.readTable(spark, "tomb_cor_spec")
        .filter($"doc_id" === 0L).count() == 0, "corpus rows survived compaction")
      // post-compaction: the same result WITHOUT the anti-join (rows are
      // physically gone), and the probe still bucket-prunes
      assert(probe(None) == Set((30L, 1L)))
      val planStr = DocumentStreams.probeStoredIndex(batch, "tomb_idx_spec",
        "tomb_cor_spec", threshold = 0.5, k = 8, bands = 4, shingleK = 3)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"expected bucket pruning after tombstone compaction:\n$planStr")
    } finally {
      Seq("tomb_idx_spec", "tomb_cor_spec", "tomb_ts_spec")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("semantic self-updating ingest: sequential parity and cross-batch " +
      "detection through the appended index (probe runs the pruned path)") {
    import graft.streaming.DocumentStreams
    val base = Array.tabulate(8)(i => 1.0 + i * 0.1)
    def jitter(eps: Double) = base.map(_ + eps)
    val far = Array.tabulate(8)(i => if (i % 2 == 0) -3.0 + i else 2.0 - i)
    val corpus = Seq((0L, base), (5L, far)).toDF("vec_id", "embedding")
    // batch1 near-dups a CORPUS vector and adds a novel one; batch2
    // near-dups the BATCH1 novel vector — visible only via the update
    val novel = Array.tabulate(8)(i => (i % 3 - 1) * 2.0 + 0.3)
    val batch1 = Seq((10L, jitter(0.01)), (11L, novel))
      .toDF("vec_id", "embedding")
    val batch2 = Seq((20L, novel.map(_ + 0.005))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_self_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(graft.operators.Dedup.signBucketIndex(corpus),
      "sem_self_idx", s"$dir/idx", bucketCol = "pb", buckets = 8)
    Storage.writeBucketed(corpus, "sem_self_cor", s"$dir/cor",
      bucketCol = "vec_id", buckets = 8)
    try {
      def run(b: org.apache.spark.sql.DataFrame) =
        DocumentStreams.semanticIngestProbeThenUpdate(b, "sem_self_idx",
          "sem_self_cor", tau = 0.9)
      val r1 = run(batch1).collect().map(_.toString).sorted.toSeq
      val r2 = run(batch2).collect().map(_.toString).sorted.toSeq
      val e1 = DocumentStreams.semanticDupAgainstCorpus(batch1, corpus,
        tau = 0.9).collect().map(_.toString).sorted.toSeq
      val e2 = DocumentStreams.semanticDupAgainstCorpus(batch2,
        corpus.unionByName(batch1), tau = 0.9)
        .collect().map(_.toString).sorted.toSeq
      assert(r1 == e1 && r1.nonEmpty, s"batch1: $r1 vs $e1")
      assert(r2 == e2, s"batch2: $r2 vs $e2")
      assert(r2.exists(_.contains("11")), s"expected a dup vs batch1 vec 11, got $r2")
      // a fresh probe over three generations still bucket-prunes
      val probe3 = {
        val b3 = Seq((30L, jitter(0.02))).toDF("vec_id", "embedding")
        DocumentStreams.semanticIngestProbeThenUpdate(b3, "sem_self_idx",
          "sem_self_cor", tau = 0.9)
      }
      assert(probe3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((30L, 0L), (30L, 10L)))
      // takedown on the SIGN-LSH index: tombstoned vectors disappear from
      // the next probe's candidates (same anti-join as the band index)
      DocumentStreams.recordDeletions(Seq(0L).toDF("vec_id"),
        "sem_self_ts", s"$dir/ts", idCol = "vec_id")
      val probe4 = DocumentStreams.semanticIngestProbeThenUpdate(
        Seq((40L, jitter(0.03))).toDF("vec_id", "embedding"),
        "sem_self_idx", "sem_self_cor", tau = 0.9,
        tombstoneTable = Some("sem_self_ts"))
      assert(probe4.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((40L, 10L), (40L, 30L)), "tombstoned vec 0 still surfaced")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sem_self_ts")
      spark.sql("DROP TABLE IF EXISTS sem_self_idx")
      spark.sql("DROP TABLE IF EXISTS sem_self_cor")
    }
  }

  test("compactBuckets on a versioned table preserves generation partitioning " +
      "(pinned reads still prune) and a takedown drops the doc from every " +
      "generation, pinned snapshots included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vercomp_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    Storage.writeVersioned(mk(Seq(0L, 1L, 2L)), "vercomp", s"$dir/t", gen = 0,
      buckets = 4)
    Storage.appendVersioned(mk(Seq(3L, 4L)), "vercomp", gen = 1, buckets = 4)
    try {
      // takedown doc 1 (gen 0) and doc 4 (gen 1) at the compaction rewrite
      Storage.compactBuckets(spark, "vercomp", bucketCol = "doc_id",
        buckets = 4, dropIds = Some((Seq(1L, 4L).toDF("doc_id"), "doc_id")))
      val after = Storage.readTable(spark, "vercomp")
      assert(after.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(0L, 2L, 3L), "compaction row set wrong after takedown drop")
      // the gen column is still a PARTITION (directories), so a pinned
      // read keeps pruning after the rewrite...
      val pinned = Storage.snapshotAsOf(spark, "vercomp", 0)
      assert(pinned.inputFiles.nonEmpty &&
        pinned.inputFiles.forall(f => f.contains("gen=0") && !f.contains("gen=1")),
        s"post-compaction snapshot lost partition pruning:\n${pinned.inputFiles.mkString("\n")}")
      // ...and the tombstoned doc is gone from EVERY generation, pinned
      // snapshots included (right-to-be-forgotten beats reproducibility)
      assert(pinned.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
      // bucket spec survives too: a bucket filter on the compacted table
      // still prunes
      val planStr = Storage.readTable(spark, "vercomp")
        .filter(col("doc_id") === 0L).queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"expected bucket pruning on the compacted versioned table, got:\n$planStr")
    } finally {
      spark.sql("DROP TABLE IF EXISTS vercomp")
      spark.sql("DROP TABLE IF EXISTS vercomp_compact")
      spark.sql("DROP TABLE IF EXISTS vercomp_old")
    }
  }

  test("saltedJoin is row-identical to the plain join under a hot key") {
    // 0L is a hot key: 100 rows against 3 for key 1
    val large = ((1 to 100).map(i => (0L, s"v$i")) ++ Seq((1L, "a"), (1L, "b"), (1L, "c")))
      .toDF("doc_id", "payload")
    val small = Seq((0L, "zero"), (1L, "one"), (2L, "unused")).toDF("doc_id", "name")
    val plain = large.join(small, "doc_id")
      .collect().map(_.toString).sorted.toSeq
    val salted = graft.operators.Skew.saltedJoin(large, small, "doc_id", saltN = 8)
      .select("doc_id", "payload", "name")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
    // the salt actually spreads the hot key's rows
    val spread = large.withColumn("__salt",
      pmod(hash(col("payload")), lit(8)))
      .filter(col("doc_id") === 0L).select("__salt").distinct().count()
    assert(spread > 1)
  }

  test("quantizer refresh: refreshed stored index equals a fresh full-corpus " +
      "build, differs from the stale encode it replaced, and still bucket-prunes") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(11)
    // yesterday's distribution near the origin; the drift batch lives far
    // away — stale quantizers trained on the old slice cannot code it well
    val old = (0L until 30L).map(i => (i, Array.fill(16)(rng.nextDouble()), "a"))
    val drift = (30L until 45L).map(i =>
      (i, Array.fill(16)(5.0 + rng.nextDouble()), "b"))
    val all = (old ++ drift).toDF("vec_id", "embedding", "label")
    val staleSlice = all.filter(col("vec_id") < 30)
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      Similarity.ivfPqIndex(all,
        Similarity.kmeansFit(staleSlice, k = 4, iters = 2),
        Similarity.pqFitCodebooks(staleSlice, m = 4, ksub = 4, iters = 2)),
      "refresh_idx", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    try {
      val stale = Storage.readTable(spark, "refresh_idx")
        .collect().map(_.toString).sorted.toSeq
      val (cents, books) = Similarity.refreshStoredIvfPqIndex(spark, all,
        "refresh_idx", k = 4, m = 4, ksub = 4, iters = 2, buckets = 8)
      val refreshed = Storage.readTable(spark, "refresh_idx")
      val got = refreshed.collect().map(_.toString).sorted.toSeq
      // refresh(corpus) == build(corpus) row-for-row (same deterministic fits)
      val rebuilt = Similarity.ivfPqIndex(all,
        Similarity.kmeansFit(all, k = 4, iters = 2),
        Similarity.pqFitCodebooks(all, m = 4, ksub = 4, iters = 2))
        .collect().map(_.toString).sorted.toSeq
      assert(got == rebuilt, "refreshed index diverges from a fresh build")
      // ... and the swap actually replaced the stale encode
      assert(got != stale, "refresh left the stale-quantizer encode in place")
      // returned quantizers match the fresh fits (probes route with these)
      assert(cents.collect().map(_.toString).sorted.toSeq ==
        Similarity.kmeansFit(all, k = 4, iters = 2)
          .collect().map(_.toString).sorted.toSeq)
      def deep(b: IndexedSeq[IndexedSeq[(Int, Array[Double])]]) =
        b.map(_.map { case (c, v) => (c, v.toSeq) })
      assert(deep(books) ==
        deep(Similarity.pqFitCodebooks(all, m = 4, ksub = 4, iters = 2)))
      // the rewritten table keeps the bucket spec: cell filter still prunes
      val oneCell = refreshed.select("cell_id").limit(1).collect()(0).getInt(0)
      val planStr = refreshed.filter(col("cell_id") === oneCell)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"expected a bucket-pruned scan of the refreshed index, got:\n$planStr")
    } finally {
      spark.sql("DROP TABLE IF EXISTS refresh_idx")
      spark.sql("DROP TABLE IF EXISTS refresh_idx_compact")
      spark.sql("DROP TABLE IF EXISTS refresh_idx_old")
    }
  }

  test("versioned snapshots: pinned reads are repeatable across later appends, " +
      "partition-prune later generations, and keep bucket co-location") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ver_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    Storage.writeVersioned(mk(Seq(0L, 1L, 2L)), "ver_spec", s"$dir/t", gen = 0,
      buckets = 4)
    Storage.appendVersioned(mk(Seq(3L, 4L)), "ver_spec", gen = 1, buckets = 4)
    try {
      assert(Storage.latestGen(spark, "ver_spec") == 1L)
      val pinned = Storage.snapshotAsOf(spark, "ver_spec", 1)
      val before = pinned.select("doc_id").as[Long].collect().sorted.toSeq
      assert(before == Seq(0L, 1L, 2L, 3L, 4L))
      // a later generation lands — the SAME pin must re-read identically
      Storage.appendVersioned(mk(Seq(5L, 6L)), "ver_spec", gen = 2, buckets = 4)
      assert(Storage.latestGen(spark, "ver_spec") == 2L)
      val repinned = Storage.snapshotAsOf(spark, "ver_spec", 1)
      assert(repinned.select("doc_id").as[Long].collect().sorted.toSeq == before,
        "pinned snapshot changed after a later append")
      // the pin is PHYSICAL partition pruning: gen=2's directory is never
      // opened by the snapshot scan
      assert(repinned.inputFiles.nonEmpty &&
        repinned.inputFiles.forall(!_.contains("gen=2")),
        s"snapshot read opened a later generation:\n${repinned.inputFiles.mkString("\n")}")
      assert(Storage.snapshotAsOf(spark, "ver_spec", 2)
        .inputFiles.exists(_.contains("gen=2")))
      // bucket spec holds within every generation: a doc_id join against a
      // co-bucketed table plans without shuffling the versioned side
      Storage.writeBucketed(mk(Seq(0L, 3L, 5L)).select(col("doc_id"),
        col("text").as("other")), "ver_spec_dim", s"$dir/d", buckets = 4)
      val joined = Storage.snapshotAsOf(spark, "ver_spec", 1)
        .join(Storage.readTable(spark, "ver_spec_dim"), "doc_id")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"expected exchange-free co-bucketed join, got:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 2) // doc_ids 0 and 3 (5 is behind the pin)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ver_spec")
      spark.sql("DROP TABLE IF EXISTS ver_spec_dim")
    }
  }

  test("cloneTable: byte-level clone preserves rows, bucket pruning and " +
      "co-location; mutating the clone never touches the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_clone_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    Storage.writeBucketed(mk(0L until 20L), "clone_src", s"$dir/src", buckets = 4)
    try {
      Storage.cloneTable(spark, "clone_src", "clone_dst", s"$dir/dst")
      val src = Storage.readTable(spark, "clone_src")
      val dst = Storage.readTable(spark, "clone_dst")
      assert(dst.collect().map(_.toString).sorted.toSeq ==
        src.collect().map(_.toString).sorted.toSeq)
      // the copied files keep their bucket-id names → pruning still works
      val planStr = dst.filter($"doc_id" === 3L)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt == 1 &&
        sel.get.group(2).toInt == 4,
        s"expected 1-of-4 bucket pruning on the clone, got:\n$planStr")
      // co-bucketed join against the SOURCE plans exchange-free: the
      // clone carries the full bucket spec, not just the files
      val joined = dst.join(src.select(col("doc_id"), col("text").as("t2")), "doc_id")
      assert(joined.queryExecution.executedPlan
        .collect { case e: Exchange => e }.isEmpty)
      // mutate the clone — the source is untouched
      Storage.appendBucketed(mk(Seq(100L)), "clone_dst", buckets = 4)
      assert(Storage.readTable(spark, "clone_dst").count() == 21)
      assert(Storage.readTable(spark, "clone_src").count() == 20,
        "appending to the clone leaked into the source table")
      // non-bucketed and partitioned sources are rejected explicitly
      mk(Seq(0L)).write.mode("overwrite").option("path", s"$dir/plain")
        .saveAsTable("clone_plain")
      intercept[IllegalArgumentException] {
        Storage.cloneTable(spark, "clone_plain", "clone_nope", s"$dir/nope")
      }
    } finally {
      Seq("clone_src", "clone_dst", "clone_plain")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("appendVersioned replay (same generation) is idempotent: no duplicated " +
      "rows behind any pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_veridem_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Storage.writeVersioned(mk(Seq(0L, 1L)), "ver_idem", s"$dir/t", gen = 0, buckets = 4)
    Storage.appendVersioned(mk(Seq(2L, 3L)), "ver_idem", gen = 1, buckets = 4)
    try {
      val before = Storage.snapshotAsOf(spark, "ver_idem", 1)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(before == Seq(0L, 1L, 2L, 3L))
      // the at-least-once replay: the SAME batch lands the SAME gen again
      Storage.appendVersioned(mk(Seq(2L, 3L)), "ver_idem", gen = 1, buckets = 4)
      val after = Storage.snapshotAsOf(spark, "ver_idem", 1)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(after == before,
        s"replayed generation duplicated rows: $after")
      assert(Storage.latestGen(spark, "ver_idem") == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS ver_idem")
  }

  test("vacuumVersioned folds generations <= the oldest pin into one base " +
      "generation: pinned reads identical, old directories gone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vervac_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Storage.writeVersioned(mk(Seq(0L, 1L)), "ver_vac", s"$dir/t", gen = 0, buckets = 4)
    Storage.appendVersioned(mk(Seq(2L)), "ver_vac", gen = 1, buckets = 4)
    Storage.appendVersioned(mk(Seq(3L)), "ver_vac", gen = 2, buckets = 4)
    Storage.appendVersioned(mk(Seq(4L)), "ver_vac", gen = 3, buckets = 4)
    try {
      val pin1 = Storage.snapshotAsOf(spark, "ver_vac", 1)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val pin2 = Storage.snapshotAsOf(spark, "ver_vac", 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      // live pins are 1 and 2 → generations 0 and 1 fold into gen=1
      Storage.vacuumVersioned(spark, "ver_vac", pins = Seq(1L, 2L), buckets = 4)
      assert(Storage.snapshotAsOf(spark, "ver_vac", 1)
        .select("doc_id").as[Long].collect().sorted.toSeq == pin1,
        "oldest pin's row set changed across vacuum")
      assert(Storage.snapshotAsOf(spark, "ver_vac", 2)
        .select("doc_id").as[Long].collect().sorted.toSeq == pin2,
        "later pin's row set changed across vacuum")
      // gen=0's directory no longer exists anywhere under the table
      val files = Storage.readTable(spark, "ver_vac").inputFiles
      assert(files.nonEmpty && files.forall(!_.contains("gen=0")),
        s"vacuum left gen=0 files:\n${files.mkString("\n")}")
      assert(Storage.latestGen(spark, "ver_vac") == 3L)
      // a pin below the fold point now reads the folded base — vacuum's
      // contract is "no LIVE pin below pins.min", asserted here as the
      // documented behavior rather than silent data loss
      assert(Storage.snapshotAsOf(spark, "ver_vac", 0).count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS ver_vac")
  }

  test("snapshotAsOf with a tombstone ledger excludes taken-down docs " +
      "BETWEEN the deletion and the compaction that applies it") {
    import graft.streaming.DocumentStreams
    val dir = java.nio.file.Files.createTempDirectory("graft_verts_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Seq[Long]) => ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Storage.writeVersioned(mk(Seq(0L, 1L, 2L)), "verts_spec", s"$dir/t", gen = 0,
      buckets = 4)
    Storage.appendVersioned(mk(Seq(3L, 4L)), "verts_spec", gen = 1, buckets = 4)
    try {
      // a configured-but-absent ledger reads as empty
      assert(Storage.snapshotAsOf(spark, "verts_spec", 1,
        tombstoneTable = Some("verts_ledger")).count() == 5)
      DocumentStreams.recordDeletions(Seq(1L, 3L).toDF("doc_id"),
        "verts_ledger", s"$dir/ts")
      // takedown recorded, NOT yet compacted: the pinned read must
      // already exclude the docs (right-to-be-forgotten beats
      // reproducibility)
      assert(Storage.snapshotAsOf(spark, "verts_spec", 1,
        tombstoneTable = Some("verts_ledger"))
        .select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 2L, 4L))
      // the raw pin still carries them — the ledger is the only mask
      assert(Storage.snapshotAsOf(spark, "verts_spec", 1).count() == 5)
    } finally {
      spark.sql("DROP TABLE IF EXISTS verts_spec")
      spark.sql("DROP TABLE IF EXISTS verts_ledger")
    }
  }

  test("runMaintenance bounds the tombstone ledger: applied ids are pruned " +
      "after the physical drop, detection unchanged across cycles") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val t1 = "completely different text about database engines and query planners"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"), (2L, t1))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "led_idx", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "led_cor", s"$dir/cor", bucketCol = "doc_id",
      buckets = 8)
    try {
      def probe() = DocumentStreams.probeStoredIndex(
        Seq((30L, t0)).toDF("doc_id", "text"), "led_idx", "led_cor",
        threshold = 0.5, k = 8, bands = 4, shingleK = 3,
        tombstoneTable = Some("led_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probe() == Set((30L, 0L), (30L, 1L)))
      // cycle 1: takedown doc 0 → hidden; maintenance applies + PRUNES
      DocumentStreams.recordDeletions(Seq(0L).toDF("doc_id"), "led_ts", s"$dir/ts")
      assert(probe() == Set((30L, 1L)))
      DocumentStreams.runMaintenance(spark, Some("led_ts"), Seq(
        ("led_idx", "key", 8, "dup_id"), ("led_cor", "doc_id", 8, "doc_id")))
      assert(Storage.readTable(spark, "led_ts").count() == 0,
        "applied tombstones were not pruned from the ledger")
      assert(probe() == Set((30L, 1L)), "detection changed across the prune")
      // cycle 2: a NEW takedown lands in the (now empty) ledger — the
      // ledger carries ONLY the pending id, never lifetime history
      DocumentStreams.recordDeletions(Seq(1L).toDF("doc_id"), "led_ts", s"$dir/ts")
      assert(Storage.readTable(spark, "led_ts")
        .as[Long].collect().toSeq == Seq(1L))
      assert(probe() == Set.empty)
      DocumentStreams.runMaintenance(spark, Some("led_ts"), Seq(
        ("led_idx", "key", 8, "dup_id"), ("led_cor", "doc_id", 8, "doc_id")))
      assert(Storage.readTable(spark, "led_ts").count() == 0)
      assert(probe() == Set.empty, "physically dropped doc resurfaced")
      // maintenance with NO ledger configured is compaction alone
      DocumentStreams.runMaintenance(spark, None, Seq(
        ("led_cor", "doc_id", 8, "doc_id")))
      assert(Storage.readTable(spark, "led_cor").count() == 1)
    } finally {
      Seq("led_idx", "led_cor", "led_ts")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("runMaintenance with a missing table fails after the other " +
      "compactions finish and keeps every ledger id for the next cycle") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val t1 = "completely different text about database engines and query planners"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"), (2L, t1))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_fail")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "lf_idx", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "lf_cor", s"$dir/cor", bucketCol = "doc_id",
      buckets = 8)
    def rows(t: String) = { spark.catalog.refreshTable(t); Storage.readTable(spark, t) }
    try {
      def probe() = DocumentStreams.probeStoredIndex(
        Seq((30L, t0)).toDF("doc_id", "text"), "lf_idx", "lf_cor",
        threshold = 0.5, k = 8, bands = 4, shingleK = 3,
        tombstoneTable = Some("lf_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      DocumentStreams.recordDeletions(Seq(0L, 2L).toDF("doc_id"), "lf_ts", s"$dir/ts")
      assert(probe() == Set((30L, 1L)))
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        DocumentStreams.runMaintenance(spark, Some("lf_ts"), Seq(
          ("lf_idx", "key", 8, "dup_id"), ("lf_missing", "doc_id", 8, "doc_id"),
          ("lf_cor", "doc_id", 8, "doc_id")))
      }
      assert(err.getMessage.contains("lf_missing"))
      // both other tables, before and after the missing one, were compacted
      // with the ledger's ids dropped before the call failed
      assert(rows("lf_idx").filter($"dup_id".isin(0L, 2L)).count() == 0)
      assert(rows("lf_cor").as[(Long, String)].collect().map(_._1).toSeq == Seq(1L))
      assert(rows("lf_ts").as[Long].collect().sorted.toSeq == Seq(0L, 2L),
        "a failed cycle pruned the ledger")
      assert(probe() == Set((30L, 1L)))
      DocumentStreams.runMaintenance(spark, Some("lf_ts"), Seq(
        ("lf_idx", "key", 8, "dup_id"), ("lf_cor", "doc_id", 8, "doc_id")))
      assert(rows("lf_ts").count() == 0)
      assert(rows("lf_cor").count() == 1)
      assert(probe() == Set((30L, 1L)))
    } finally {
      Seq("lf_idx", "lf_cor", "lf_ts")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("residual index: frozen-quantizer append equals a rebuild, refresh " +
      "re-encodes and still bucket-prunes (q162/q177 parity, residual family)") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(13)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextDouble()), s"l${i % 3}"))
      .toDF("vec_id", "embedding", "label")
    val centroids = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooksResidual(emb, centroids, m = 4,
      ksub = 4, iters = 2)
    val base = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_res_idx_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndexResidual(base, centroids, books),
      "res_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    Storage.appendBucketed(Similarity.ivfPqIndexResidual(batch, centroids, books),
      "res_idx_spec", bucketCol = "cell_id", buckets = 8)
    try {
      val stored = Storage.readTable(spark, "res_idx_spec")
      val rebuilt = Similarity.ivfPqIndexResidual(emb, centroids, books)
      assert(stored.collect().map(_.toString).sorted.toSeq ==
        rebuilt.collect().map(_.toString).sorted.toSeq,
        "appended residual index diverges from a full rebuild under frozen quantizers")
      // residual refresh: retrain + re-encode + crash-safe swap; the
      // refreshed table equals a one-shot residual build with the fresh
      // quantizers, and a cell filter still bucket-prunes after the swap
      val (cents2, books2) = Similarity.refreshStoredIvfPqIndexResidual(
        spark, emb, "res_idx_spec", k = 4, m = 4, ksub = 4, iters = 2,
        buckets = 8)
      val refreshed = Storage.readTable(spark, "res_idx_spec")
      assert(refreshed.collect().map(_.toString).sorted.toSeq ==
        Similarity.ivfPqIndexResidual(emb, cents2, books2)
          .collect().map(_.toString).sorted.toSeq,
        "refreshed residual index diverges from a fresh full build")
      val oneCell = refreshed.select("cell_id").limit(1).collect()(0).getInt(0)
      val planStr = refreshed.filter(col("cell_id") === oneCell)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"expected a bucket-pruned scan after the residual refresh:\n$planStr")
    } finally {
      spark.sql("DROP TABLE IF EXISTS res_idx_spec")
    }
  }

  test("pin registry: vacuum reads the live pin set itself, refuses an " +
      "empty registry, and never folds past a registered pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pins_t")
    dir.toFile.deleteOnExit()
    val d = (0L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Storage.writeVersioned(d.filter($"doc_id" % 3 === 0), "pin_ver_spec",
      s"$dir/cor", gen = 0, buckets = 4)
    Storage.appendVersioned(d.filter($"doc_id" % 3 === 1), "pin_ver_spec",
      gen = 1, buckets = 4)
    Storage.appendVersioned(d.filter($"doc_id" % 3 === 2), "pin_ver_spec",
      gen = 2, buckets = 4)
    try {
      // empty registry → vacuum refuses (retention is a decision, not a
      // default)
      intercept[IllegalArgumentException] {
        Storage.vacuumVersionedRegistered(spark, "pin_ver_spec",
          "pin_reg_spec", buckets = 4)
      }
      // two runs pin generations 1 and 2 — vacuum may fold only gen<=1
      Storage.registerPin(spark, "pin_reg_spec", s"$dir/pins", "runA", 1)
      Storage.registerPin(spark, "pin_reg_spec", s"$dir/pins", "runB", 2)
      // the fold relabels gen<=pin to the pin value by design — the
      // pinned CONTENT (not the fold label) is the repeatability contract
      val pinnedBefore = Storage.snapshotAsOf(spark, "pin_ver_spec", 1)
        .drop("gen").collect().map(_.toString).sorted.toSeq
      Storage.vacuumVersionedRegistered(spark, "pin_ver_spec",
        "pin_reg_spec", buckets = 4)
      val gens = spark.table("pin_ver_spec").select("gen").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(gens == Seq(1L, 2L),
        s"vacuum folded past runA's pin (gens after: $gens)")
      assert(Storage.snapshotAsOf(spark, "pin_ver_spec", 1)
        .drop("gen").collect().map(_.toString).sorted.toSeq == pinnedBefore,
        "runA's pinned read changed across the registered vacuum")
      // runA exits and releases; the next vacuum folds to runB's pin
      Storage.releasePin(spark, "pin_reg_spec", "runA")
      assert(Storage.livePins(spark, "pin_reg_spec") == Seq(2L))
      Storage.vacuumVersionedRegistered(spark, "pin_ver_spec",
        "pin_reg_spec", buckets = 4)
      assert(spark.table("pin_ver_spec").select("gen").distinct()
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      // re-registration replaces (a restarted run re-pins)
      Storage.registerPin(spark, "pin_reg_spec", s"$dir/pins", "runB", 5)
      assert(Storage.livePins(spark, "pin_reg_spec") == Seq(5L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS pin_ver_spec")
      spark.sql("DROP TABLE IF EXISTS pin_reg_spec")
    }
  }

  test("takedown + vacuum composition: the tombstone-aware pinned read is " +
      "identical before and after the fold, and maintenance still bounds " +
      "the ledger afterwards") {
    import graft.streaming.DocumentStreams
    val dir = java.nio.file.Files.createTempDirectory("graft_tvac_t")
    dir.toFile.deleteOnExit()
    val d = (0L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    Storage.writeVersioned(d.filter($"doc_id" % 3 === 0), "tvac_ver_spec",
      s"$dir/cor", gen = 0, buckets = 4)
    Storage.appendVersioned(d.filter($"doc_id" % 3 === 1), "tvac_ver_spec",
      gen = 1, buckets = 4)
    Storage.appendVersioned(d.filter($"doc_id" % 3 === 2), "tvac_ver_spec",
      gen = 2, buckets = 4)
    try {
      // takedown recorded BETWEEN the pin and any compaction
      DocumentStreams.recordDeletions(
        d.filter($"doc_id" % 4 === 0).select("doc_id"),
        "tvac_ts_spec", s"$dir/ts")
      val before = Storage.snapshotAsOf(spark, "tvac_ver_spec", 1,
        tombstoneTable = Some("tvac_ts_spec"))
        .drop("gen").collect().map(_.toString).sorted.toSeq
      assert(before.nonEmpty && !before.exists(_.contains("[0,")),
        "premise: the tombstoned doc 0 must be gone from the pinned read")
      // vacuum folds gens <= 1 while the ledger is still pending
      Storage.vacuumVersioned(spark, "tvac_ver_spec", pins = Seq(1L, 2L),
        buckets = 4)
      val after = Storage.snapshotAsOf(spark, "tvac_ver_spec", 1,
        tombstoneTable = Some("tvac_ts_spec"))
        .drop("gen").collect().map(_.toString).sorted.toSeq
      assert(after == before,
        "tombstone-aware pinned read changed across vacuumVersioned")
      // maintenance after the vacuum: the takedown applies physically to
      // the FOLDED table and the ledger prunes to empty — the lifecycle
      // composes with retention
      DocumentStreams.runMaintenance(spark, Some("tvac_ts_spec"),
        Seq(("tvac_ver_spec", "doc_id", 4, "doc_id")))
      assert(spark.table("tvac_ts_spec").count() == 0,
        "ledger not pruned after post-vacuum maintenance")
      assert(spark.table("tvac_ver_spec")
        .filter($"doc_id" % 4 === 0).count() == 0,
        "takedown not physically applied to the folded table")
      // the pinned read STILL returns the same rows — now from physical
      // absence rather than the anti-join
      assert(Storage.snapshotAsOf(spark, "tvac_ver_spec", 1,
        tombstoneTable = Some("tvac_ts_spec"))
        .drop("gen").collect().map(_.toString).sorted.toSeq == before,
        "pinned read changed after the takedown was physically applied")
    } finally {
      spark.sql("DROP TABLE IF EXISTS tvac_ver_spec")
      spark.sql("DROP TABLE IF EXISTS tvac_ts_spec")
    }
  }

  test("OPQ index: frozen-quantizer append equals a rebuild, refresh " +
      "re-couples all three fits and still bucket-prunes (q186 parity)") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(17)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val (rot, books) = Similarity.opqFitRotation(
      Similarity.ivfResiduals(emb, cents), m = 4, ksub = 4, iters = 2,
      sweeps = 2)
    val base = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_idx_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndexOpq(base, cents, rot, books),
      "opq_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    Storage.appendBucketed(Similarity.ivfPqIndexOpq(batch, cents, rot, books),
      "opq_idx_spec", bucketCol = "cell_id", buckets = 8)
    try {
      assert(Storage.readTable(spark, "opq_idx_spec")
        .collect().map(_.toString).sorted.toSeq ==
        Similarity.ivfPqIndexOpq(emb, cents, rot, books)
          .collect().map(_.toString).sorted.toSeq,
        "appended OPQ index diverges from a full rebuild under frozen quantizers")
      // refresh re-couples centroids -> residuals -> rotation+codebooks
      // and swaps crash-safe; the refreshed table equals a one-shot
      // build with the fresh quantizer triple
      val (c2, r2, b2) = Similarity.refreshStoredIvfPqIndexOpq(spark, emb,
        "opq_idx_spec", k = 4, m = 4, ksub = 4, iters = 2, sweeps = 2,
        buckets = 8)
      val refreshed = Storage.readTable(spark, "opq_idx_spec")
      assert(refreshed.collect().map(_.toString).sorted.toSeq ==
        Similarity.ivfPqIndexOpq(emb, c2, r2, b2)
          .collect().map(_.toString).sorted.toSeq,
        "refreshed OPQ index diverges from a fresh full build")
      val oneCell = refreshed.select("cell_id").limit(1).collect()(0).getInt(0)
      val planStr = refreshed.filter(col("cell_id") === oneCell)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"expected a bucket-pruned scan after the OPQ refresh:\n$planStr")
    } finally {
      spark.sql("DROP TABLE IF EXISTS opq_idx_spec")
    }
  }

  test("drift detection lifecycle: stat grows under a drifted append, the " +
      "threshold refresh fires once, restamps the baseline, then stays quiet") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(29)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooksResidual(emb, cents, m = 4,
      ksub = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_t")
    dir.toFile.deleteOnExit()
    // gen 0: the corpus itself, in-distribution baseline
    Storage.writeBucketed(Similarity.ivfPqIndexResidual(emb, cents, books),
      "drift_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    val (n0, t0) = Similarity.quantizationError(
      Similarity.ivfResiduals(emb, cents), books)
    Similarity.recordDriftStat(spark, "drift_stat_spec", s"$dir/stat",
      gen = 0, n = n0, totalErr = t0)
    try {
      // healthy append: another in-distribution slice — stat comparable,
      // refresh must NOT fire
      val healthy = emb.select((col("vec_id") + 1000).as("vec_id"),
        col("embedding"))
      Storage.appendBucketed(
        Similarity.ivfPqIndexResidual(healthy, cents, books),
        "drift_idx_spec", bucketCol = "cell_id", buckets = 8)
      val (n1, t1) = Similarity.quantizationError(
        Similarity.ivfResiduals(healthy, cents), books)
      Similarity.recordDriftStat(spark, "drift_stat_spec", s"$dir/stat",
        gen = 1, n = n1, totalErr = t1)
      assert(Similarity.refreshResidualIfDrifted(spark,
        emb.unionByName(healthy), "drift_idx_spec", "drift_stat_spec",
        s"$dir/stat", factor = 2.0, k = 4, m = 4, ksub = 4, iters = 2,
        buckets = 8).isEmpty,
        "refresh fired on an in-distribution append")
      assert(Similarity.driftStats(spark, "drift_stat_spec").count() == 2)
      // drifted append: scaled vectors — per-row error must grow past 2x
      val drifted = emb.select((col("vec_id") + 2000).as("vec_id"),
        transform(col("embedding"), x => x * lit(3.0)).as("embedding"))
      Storage.appendBucketed(
        Similarity.ivfPqIndexResidual(drifted, cents, books),
        "drift_idx_spec", bucketCol = "cell_id", buckets = 8)
      val (n2, t2) = Similarity.quantizationError(
        Similarity.ivfResiduals(drifted, cents), books)
      Similarity.recordDriftStat(spark, "drift_stat_spec", s"$dir/stat",
        gen = 2, n = n2, totalErr = t2)
      assert(t2 * n0 > 2.0 * t0 * n2,
        s"test premise: drifted stat $t2/$n2 not past 2x baseline $t0/$n0")
      val full = emb.unionByName(healthy).unionByName(drifted)
      val fresh = Similarity.refreshResidualIfDrifted(spark, full,
        "drift_idx_spec", "drift_stat_spec", s"$dir/stat", factor = 2.0,
        k = 4, m = 4, ksub = 4, iters = 2, buckets = 8)
      assert(fresh.isDefined, "refresh did not fire on a 3x-scaled batch")
      val (cents2, books2) = fresh.get
      // the refreshed index equals a one-shot build with the fresh
      // quantizers over the full corpus
      assert(Storage.readTable(spark, "drift_idx_spec")
        .collect().map(_.toString).sorted.toSeq ==
        Similarity.ivfPqIndexResidual(full, cents2, books2)
          .collect().map(_.toString).sorted.toSeq,
        "drift refresh diverges from a fresh full build")
      // baseline restamped: ONE row, stamped with the latest gen, with
      // the full corpus's fresh-quantizer error
      val stats = Similarity.driftStats(spark, "drift_stat_spec").collect()
      assert(stats.length == 1 && stats(0).getLong(0) == 2,
        s"stats not restamped to a single latest-gen baseline: ${stats.toSeq}")
      val (nF, tF) = Similarity.quantizationError(
        Similarity.ivfResiduals(full, cents2), books2)
      assert(stats(0).getLong(1) == nF && stats(0).getDouble(2) == tF,
        "restamped baseline is not the fresh-quantizer full-corpus stat")
      // and with only the baseline present, a second call is a no-op
      assert(Similarity.refreshResidualIfDrifted(spark, full,
        "drift_idx_spec", "drift_stat_spec", s"$dir/stat", factor = 2.0,
        k = 4, m = 4, ksub = 4, iters = 2, buckets = 8).isEmpty,
        "refresh re-fired with no post-refresh appends")
    } finally {
      spark.sql("DROP TABLE IF EXISTS drift_idx_spec")
      spark.sql("DROP TABLE IF EXISTS drift_stat_spec")
    }
  }

  test("quantizationError of an empty relation is (0, 0.0)") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(37)
    val emb = (0L until 20L).map(i => (i, Array.fill(8)(rng.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 2, iters = 1)
    val books = Similarity.pqFitCodebooksResidual(emb, cents, m = 2,
      ksub = 2, iters = 1)
    assert(Similarity.quantizationError(
      Similarity.ivfResiduals(emb.limit(0), cents), books) == ((0L, 0.0)))
  }

  test("OPQ drift twin: opqQuantizationError grows on a drifted batch and " +
      "refreshOpqIfDrifted fires, restamps, then stays quiet") {
    import graft.operators.Similarity
    val rng = new scala.util.Random(31)
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(emb, k = 4, iters = 2)
    val (rot, books) = Similarity.opqFitRotation(
      Similarity.ivfResiduals(emb, cents), m = 4, ksub = 4, iters = 2,
      sweeps = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_opqdrift_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndexOpq(emb, cents, rot, books),
      "opqd_idx_spec", s"$dir/idx", bucketCol = "cell_id", buckets = 8)
    val (n0, t0) = Similarity.quantizationError(
      Similarity.opqResiduals(emb, cents, rot), books)
    Similarity.recordDriftStat(spark, "opqd_stat_spec", s"$dir/stat",
      gen = 0, n = n0, totalErr = t0)
    try {
      val drifted = emb.select((col("vec_id") + 2000).as("vec_id"),
        transform(col("embedding"), x => x * lit(3.0)).as("embedding"))
      Storage.appendBucketed(
        Similarity.ivfPqIndexOpq(drifted, cents, rot, books),
        "opqd_idx_spec", bucketCol = "cell_id", buckets = 8)
      val (n1, t1) = Similarity.quantizationError(
        Similarity.opqResiduals(drifted, cents, rot), books)
      Similarity.recordDriftStat(spark, "opqd_stat_spec", s"$dir/stat",
        gen = 1, n = n1, totalErr = t1)
      assert(t1 * n0 > 2.0 * t0 * n1,
        s"test premise: drifted OPQ stat $t1/$n1 not past 2x baseline $t0/$n0")
      val full = emb.unionByName(drifted)
      val fresh = Similarity.refreshOpqIfDrifted(spark, full,
        "opqd_idx_spec", "opqd_stat_spec", s"$dir/stat", factor = 2.0,
        k = 4, m = 4, ksub = 4, iters = 2, sweeps = 2, buckets = 8)
      assert(fresh.isDefined, "OPQ refresh did not fire on a 3x-scaled batch")
      val stats = Similarity.driftStats(spark, "opqd_stat_spec").collect()
      assert(stats.length == 1 && stats(0).getLong(0) == 1,
        s"OPQ stats not restamped: ${stats.toSeq}")
      assert(Similarity.refreshOpqIfDrifted(spark, full, "opqd_idx_spec",
        "opqd_stat_spec", s"$dir/stat", factor = 2.0, k = 4, m = 4,
        ksub = 4, iters = 2, sweeps = 2, buckets = 8).isEmpty,
        "OPQ refresh re-fired with no post-refresh appends")
    } finally {
      spark.sql("DROP TABLE IF EXISTS opqd_idx_spec")
      spark.sql("DROP TABLE IF EXISTS opqd_stat_spec")
    }
  }

  test("saltedJoin rejects key-only large side and reserved __salt columns") {
    val small = Seq((0L, "zero")).toDF("doc_id", "name")
    // key-only large side: zero-arg hash() would fail analysis — and a salt
    // derived from nothing cannot spread identical rows anyway
    val keyOnly = Seq(0L, 0L, 1L).toDF("doc_id")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(keyOnly, small, "doc_id")
    }
    assert(e1.getMessage.contains("non-key column"))
    // pre-existing __salt on either input would silently collide
    val tainted = Seq((0L, "x", 3)).toDF("doc_id", "payload", "__salt")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(tainted, small, "doc_id")
    }
    assert(e2.getMessage.contains("__salt"))
  }

  test("appendBucketed: 100 rows from a 4-slice relation add at most one " +
      "file per bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft_append_files_t")
    dir.toFile.deleteOnExit()
    val mk = (ids: Range) => ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    Storage.writeBucketed(mk(0 until 10), "append_files_spec", s"$dir/t",
      buckets = 8)
    def files(): Int = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    try {
      val before = files()
      val batch = mk(100 until 200).repartition(4)
      assert(batch.rdd.getNumPartitions == 4)
      Storage.appendBucketed(batch, "append_files_spec", buckets = 8)
      val added = files() - before
      assert(added >= 1 && added <= 8,
        s"expected at most one new file per bucket (8), got $added")
      spark.catalog.refreshTable("append_files_spec")
      assert(Storage.readTable(spark, "append_files_spec").count() == 110)
    } finally {
      spark.sql("DROP TABLE IF EXISTS append_files_spec")
    }
  }

  test("probeStoredIndex(pruneCorpusByCandidates) scans the index table " +
      "exactly once across every query it runs") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_once_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "once_idx_spec", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "once_cor_spec", s"$dir/cor",
      bucketCol = "doc_id", buckets = 8)
    try {
      val (pairs, scans) = scansDuring(DocumentStreams.probeStoredIndex(
        Seq((30L, t0)).toDF("doc_id", "text"), "once_idx_spec",
        "once_cor_spec", threshold = 0.5, k = 8, bands = 4, shingleK = 3,
        pruneCorpusByCandidates = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(pairs == Set((30L, 0L), (30L, 1L)))
      assert(scans.count(_._1 == "once_idx_spec") == 1,
        s"expected one index scan, got ${scans.mkString(", ")}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS once_idx_spec")
      spark.sql("DROP TABLE IF EXISTS once_cor_spec")
    }
  }

  test("probe valves: every cap at 0 gives the same pairs as at its " +
      "default, and each trip logs one WARN naming the table and the cap") {
    import graft.operators.Dedup
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    val base = Array.tabulate(8)(i => 1.0 + i * 0.1)
    val vecs = Seq((0L, base), (5L, base.map(-_))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_valve_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "valve_idx", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "valve_cor", s"$dir/cor", bucketCol = "doc_id",
      buckets = 8)
    Storage.writeBucketed(Dedup.signBucketIndex(vecs), "valve_sidx",
      s"$dir/sidx", bucketCol = "pb", buckets = 8)
    Storage.writeBucketed(vecs, "valve_scor", s"$dir/scor", bucketCol = "vec_id",
      buckets = 8)
    try {
      val batch = Seq((30L, t0)).toDF("doc_id", "text")
      def text(keys: Int, cands: Int, prune: Boolean) =
        DocumentStreams.probeStoredIndex(batch, "valve_idx", "valve_cor",
          threshold = 0.5, k = 8, bands = 4, shingleK = 3, maxProbeKeys = keys,
          pruneCorpusByCandidates = prune, maxCandidateIds = cands)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def sem(buckets: Int) = DocumentStreams.probeStoredSemanticIndex(
        Seq((40L, base.map(_ + 0.01))).toDF("vec_id", "embedding"),
        "valve_sidx", "valve_scor", tau = 0.9, maxProbeBuckets = buckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def indexed(keys: Int) = DocumentStreams.nearDupAgainstIndex(batch,
        Dedup.pruneIndexForBatch(Storage.readTable(spark, "valve_idx"), batch,
          k = 8, bands = 4, shingleK = 3, maxProbeKeys = keys),
        corpus, threshold = 0.5, k = 8, bands = 4, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (want, quiet) = warningsDuring("graft.sources.Storage") {
        (text(4096, 4096, prune = true), text(4096, 4096, prune = false),
          sem(4096), indexed(4096))
      }
      assert(quiet.isEmpty, s"valve tripped at the default caps: $quiet")
      assert(want._1 == Set((30L, 0L), (30L, 1L)) && want._2 == want._1 &&
        want._4 == want._1 && want._3 == Set((40L, 0L)))
      // (result, expected pairs, WARNs the call must log: table, what)
      val cases = Seq(
        ("maxProbeKeys = 0", () => text(0, 4096, prune = true), want._1,
          Seq("valve_idx" -> "probe rows")),
        ("maxProbeKeys = 0, lazy corpus", () => text(0, 4096, prune = false),
          want._1, Seq("valve_idx" -> "probe rows")),
        ("maxCandidateIds = 0", () => text(4096, 0, prune = true), want._1,
          Seq("valve_cor" -> "candidate rows")),
        ("both text caps = 0", () => text(0, 0, prune = true), want._1,
          Seq("valve_idx" -> "probe rows", "valve_cor" -> "candidate rows")),
        ("maxProbeBuckets = 0", () => sem(0), want._3,
          Seq("valve_sidx" -> "probe rows")),
        ("pruneIndexForBatch maxProbeKeys = 0", () => indexed(0), want._1,
          Seq("valve_idx" -> "distinct band keys")))
      cases.foreach { case (name, run, expect, trips) =>
        val (got, warns) = warningsDuring("graft.sources.Storage")(run())
        assert(got == expect, s"$name: $got vs $expect")
        assert(warns.size == trips.size, s"$name: expected ${trips.size} WARN, got $warns")
        trips.zip(warns).foreach { case ((table, what), w) =>
          assert(w.contains(table) && w.contains(s"at least 1 $what") &&
            w.contains("cap of 0"), s"$name: $w")
        }
      }
    } finally {
      Seq("valve_idx", "valve_cor", "valve_sidx", "valve_scor")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("a tombstone ledger with extra columns: probes and maintenance select " +
      "its id column by name") {
    import graft.streaming.DocumentStreams
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((0L, t0), (1L, t0 + " tonight"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_ts")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "wide_ts_idx", s"$dir/idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(corpus, "wide_ts_cor", s"$dir/cor", bucketCol = "doc_id",
      buckets = 8)
    // a ledger written by an external compliance process, with a reason
    // column next to the id
    Storage.writeBucketed(Seq((0L, "erasure request")).toDF("doc_id", "reason"),
      "wide_ts_ledger", s"$dir/ts", bucketCol = "doc_id", buckets = 8)
    try {
      val pairs = DocumentStreams.probeStoredIndex(Seq((30L, t0)).toDF("doc_id", "text"),
        "wide_ts_idx", "wide_ts_cor", threshold = 0.5, k = 8, bands = 4,
        shingleK = 3, pruneCorpusByCandidates = true,
        tombstoneTable = Some("wide_ts_ledger"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((30L, 1L)), s"tombstoned doc 0 not excluded: $pairs")
      DocumentStreams.runMaintenance(spark, Some("wide_ts_ledger"), Seq(
        ("wide_ts_idx", "key", 8, "dup_id"), ("wide_ts_cor", "doc_id", 8, "doc_id")))
      def rows(t: String) = { spark.catalog.refreshTable(t); Storage.readTable(spark, t) }
      assert(rows("wide_ts_idx").filter($"dup_id" === 0L).count() == 0)
      assert(rows("wide_ts_cor").filter($"doc_id" === 0L).count() == 0)
      val ledger = rows("wide_ts_ledger")
      assert(ledger.count() == 0 && ledger.columns.toSeq == Seq("doc_id", "reason"))
    } finally {
      Seq("wide_ts_idx", "wide_ts_cor", "wide_ts_ledger")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("BucketPruning: an IN list selects the buckets and rows FileSourceStrategy " +
      "alone selects, at every list size, with NULL, and with bucketing off") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FileSourceStrategy
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket_in_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed((0L until 3000L).map(i => (i * 7 % 5003, i)).toDF("pb", "id"),
      "bucket_in_t", s"$dir/t", bucketCol = "pb", buckets = 8)
    def buckets(s: Option[FileSourceScanExec]) =
      s.flatMap(_.optionalBucketSet).map(b => (0 until 8).filter(b.get))
    val rnd = new scala.util.Random(3)
    try {
      for (bucketing <- Seq(true, false)) {
        spark.conf.set("spark.sql.sources.bucketing.enabled", bucketing.toString)
        val lists = Seq(1, 15, 16, 400, 5000).map(n => Seq.fill(n)(rnd.nextInt(6000).toLong)) ++
          Seq(Seq(3L, 7L))
        for (keys <- lists; withNull <- Seq(false, true)) {
          val values: Seq[Any] = keys ++ (if (withNull) Seq(null) else Nil)
          val df = Storage.readTable(spark, "bucket_in_t").filter(col("pb").isin(values: _*))
          val ours = df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }
          val alone = FileSourceStrategy(df.queryExecution.optimizedPlan).head
            .collectFirst { case s: FileSourceScanExec => s }
          val what = s"${keys.size} keys, null $withNull, bucketing $bucketing"
          assert(ours.isDefined && buckets(ours) == buckets(alone), what)
          if (bucketing && keys.size <= 2) assert(buckets(ours).isDefined, what)
          val want = (0L until 3000L).map(i => (i * 7 % 5003, i))
            .filter(r => keys.contains(r._1)).sorted
          assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == want, what)
        }
        // the rules it mirrors beyond IN: equality, OR and AND
        val mixed = Storage.readTable(spark, "bucket_in_t")
          .filter((col("pb").isin(1L to 40L: _*) || col("pb") === 4000L) && col("id") > 10L)
        assert(buckets(mixed.queryExecution.sparkPlan.collectFirst {
          case s: FileSourceScanExec => s }) ==
          buckets(FileSourceStrategy(mixed.queryExecution.optimizedPlan).head
            .collectFirst { case s: FileSourceScanExec => s }))
      }
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.enabled")
      spark.sql("DROP TABLE IF EXISTS bucket_in_t")
    }
  }

  test("probeStoredSemanticIndex finds a near-hyperplane vector's 1e-4 " +
      "re-ingest: one plane flips one bucket bit") {
    import graft.operators.Dedup
    import graft.streaming.DocumentStreams
    val rnd = new scala.util.Random(11)
    val w = (0 until 32).map(j => if (Dedup.hashedPlanePositive(0, j)) 1.0 else -1.0)
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val raw = Seq.fill(32)(rnd.nextGaussian())
    val onPlane = raw.zip(w).map { case (x, c) => x - dot(raw, w) / 32 * c }
    val noise = Seq.fill(32)(rnd.nextGaussian() * 1e-4)
    // just off plane 0, on the side the noise pushes away from
    val side = -math.signum(dot(noise, w)) * 1e-7
    val v = onPlane.zip(w).map { case (x, c) => x + side * c }
    val u = v.zip(noise).map(p => p._1 + p._2)
    val others = (1L to 50L).map(i => (i, Seq.fill(32)(rnd.nextGaussian())))
    val corpus = ((0L, v) +: others).toDF("vec_id", "embedding")
    val bits = Seq(v, u).toDF("embedding")
      .select(Dedup.signBucketHashed(col("embedding"), 12)).collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(bits(0) ^ bits(1)) == 1,
      s"buckets ${bits.mkString(", ")} should differ in plane 0 only")
    val dir = java.nio.file.Files.createTempDirectory("graft_plane_t")
    dir.toFile.deleteOnExit()
    Storage.writeBucketed(Dedup.signBucketIndex(corpus, nPlanes = 12),
      "plane_idx", s"$dir/idx", bucketCol = "pb", buckets = 8)
    Storage.writeBucketed(corpus, "plane_cor", s"$dir/cor", bucketCol = "vec_id", buckets = 8)
    try {
      val pairs = DocumentStreams.probeStoredSemanticIndex(
          Seq((100L, u)).toDF("vec_id", "embedding"), "plane_idx", "plane_cor",
          tau = 0.99, nPlanes = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 0L)), s"got $pairs")
    } finally Seq("plane_idx", "plane_cor").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
