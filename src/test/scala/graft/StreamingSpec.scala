package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/**
 * Structured Streaming behaviors driven through MemoryStream — watermarked
 * windowed aggregation and stateful sessionization (SURVEY §2.12,
 * green-field: the reference has no streaming surface).
 */
class StreamingSpec extends GraftSuite {

  private def us(minutes: Long): Long = minutes * 60L * 1000000L
  private def ns(minutes: Long): Long = us(minutes) * 1000L

  test("hourlyTypeCounts is the same plan in batch mode") {
    import spark.implicits._
    val batch = Seq((ns(10), "click", 1.0), (ns(20), "click", 2.0), (ns(70), "view", 3.0))
      .toDF("ts", "event_type", "value")
    val r = EventStreams.hourlyTypeCounts(batch)
      .select("event_type", "n", "sum_value").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    assert(r.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("streaming windowed counts with watermark (update via MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF.toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyTypeCounts(df).writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    try {
      mem.addData((ns(5), "click", 1.0), (ns(59), "click", 4.0), (ns(65), "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").select("event_type", "n").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(rows.toSeq == Seq(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("sessionize: gap closes sessions, watermark flushes the tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF.toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.sessionize(df, gapMinutes = 30).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at 1,10 min (one session), then 100 min (new session
      // → closes the first); user 2: single event at 5 min. Events start at
      // minute 1 — a timestamp equal to the initial watermark (0) counts as
      // late and is dropped by the stateful operator.
      mem.addData((ns(1), 1L, "a", 0.0), (ns(10), 1L, "a", 0.0), (ns(5), 2L, "a", 0.0))
      q.processAllAvailable()
      mem.addData((ns(100), 1L, "a", 0.0))
      q.processAllAvailable()
      val afterGap = spark.table("sessions").as[EventStreams.Session].collect()
      assert(afterGap.exists(s => s.user_id == 1 && s.start_us == us(1) &&
        s.end_us == us(10) && s.n_events == 2))
      // push the watermark far ahead → open sessions time out and flush
      mem.addData((ns(1000), 3L, "a", 0.0))
      q.processAllAvailable()
      mem.addData((ns(1001), 3L, "a", 0.0))
      q.processAllAvailable()
      val all = spark.table("sessions").as[EventStreams.Session].collect()
      assert(all.exists(s => s.user_id == 2 && s.n_events == 1))
      assert(all.exists(s => s.user_id == 1 && s.start_us == us(100)))
    } finally q.stop()
  }

  test("cleanDocs: streaming dedup within watermark + quality filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val good = "the quick brown fox jumps over the lazy dog and it was a fine day " * 4
    val df = mem.toDF.toDF("ts", "text")
      .withColumn("event_time", timestamp_micros(col("ts") / 1000 cast "long"))
    val q = graft.streaming.DocumentStreams
      .cleanDocs(df, minQuality = 0.3, watermark = Some("10 minutes"))
      .select("text_key").writeStream
      .format("memory").queryName("cleaned").outputMode("append").start()
    try {
      mem.addData((ns(1), good), (ns(2), good), (ns(3), "!!! ###"))
      q.processAllAvailable()
      // duplicate within the watermark dropped; junk quality-filtered
      assert(spark.table("cleaned").count() == 1)
    } finally q.stop()
  }

  test("cleanDocs batch path dedupes globally") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and it was a fine day " * 4
    val batch = Seq(good, good, "!!! ###").toDF("text")
    val r = graft.streaming.DocumentStreams.cleanDocs(batch, minQuality = 0.3)
    assert(r.count() == 1)
  }

  test("correlatedPairs: stream-stream interval join emits in-window pairs only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type")
    val q = EventStreams.correlatedPairs(df, "click", "purchase",
        withinMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("pairs").outputMode("append").start()
    try {
      // user 1: click at 1 min, purchases at 10 min (in window) and
      // 50 min (out of window); user 2: purchase with no prior click
      mem.addData((100L, ns(1), 1L, "click"), (101L, ns(10), 1L, "purchase"),
        (102L, ns(50), 1L, "purchase"), (103L, ns(5), 2L, "purchase"))
      q.processAllAvailable()
      // advance the watermark past every join bound so results finalize
      mem.addData((104L, ns(500), 3L, "view"))
      q.processAllAvailable()
      val rows = spark.table("pairs").select("user_id", "a_id", "b_id", "lag_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 100L, 101L, us(9))))
    } finally q.stop()
  }

  test("correlatedPairs batch path: same plan, interval self-join") {
    import spark.implicits._
    val batch = Seq((100L, ns(1), 1L, "click"), (101L, ns(10), 1L, "purchase"),
      (102L, ns(50), 1L, "purchase"), (103L, ns(5), 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = EventStreams.correlatedPairs(batch, "click", "purchase", 30)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 100L, 101L, us(9))))
  }

  test("semanticDupAgainstCorpus: stateless embedding stream-static probe, " +
      "exactly-once, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.DocumentStreams.semanticDupAgainstCorpus(
        mem.toDF.toDF("vec_id", "embedding"), corpus, tau = 0.9)
      .writeStream.format("memory").queryName("ingest_sem_dups")
      .outputMode("append").start()
    try {
      // batch 1: an exact copy of corpus vec 0 (same bucket — emitted
      // exactly once despite (nPlanes+1) probes) + an orthogonal vector
      mem.addData((10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      val b1 = spark.table("ingest_sem_dups").as[(Long, Long, Double)].collect()
      assert(b1.toSeq == Seq((10L, 0L, 1.0)), s"got ${b1.toSeq}")
      // batch 2: zero state from batch 1 — vec 10 is not in the index
      mem.addData((12L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      val b2 = spark.table("ingest_sem_dups").as[(Long, Long, Double)].collect()
      assert(b2.map(r => (r._1, r._2)).toSet == Set((10L, 0L), (12L, 0L)))
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
    // batch path parity with the same relation run as a plain DataFrame
    val batch = Seq((10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (12L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = graft.streaming.DocumentStreams
      .semanticDupAgainstCorpus(batch, corpus, tau = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((10L, 0L, 1.0), (12L, 0L, 1.0)))
  }

  test("nearDupAgainstCorpus: stateless stream-static probe, exactly-once pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((0L, t0),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocumentStreams.nearDupAgainstCorpus(
        mem.toDF.toDF("doc_id", "text"), corpus,
        threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      .writeStream.format("memory").queryName("ingest_dups")
      .outputMode("append").start()
    try {
      // batch 1: an exact copy of corpus doc 0 (shares ALL 4 bands — the
      // exactly-once property is doing real work) + a novel doc
      mem.addData((10L, t0),
        (11L, "a genuinely novel document about glaciers carving deep mountain valleys"))
      q.processAllAvailable()
      val b1 = spark.table("ingest_dups").as[(Long, Long, Double)].collect()
      assert(b1.toSeq == Seq((10L, 0L, 1.0)), s"got ${b1.toSeq}")
      // batch 2: another copy — detected against the STATIC corpus with
      // zero state carried from batch 1 (doc 10 is not in the index)
      mem.addData((12L, t0))
      q.processAllAvailable()
      val b2 = spark.table("ingest_dups").as[(Long, Long, Double)].collect()
      assert(b2.map(r => (r._1, r._2)).toSet == Set((10L, 0L), (12L, 0L)))
      // the running query holds NO state (stateless plan): progress
      // reports no stateful operators
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("crawlNearDupAgainstCorpus: streaming HTML pages, stateless, extraction-normalized") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus = previously-crawled EXTRACTED text (the pipeline's own
    // output); an arriving page whose markup differs (comments, a
    // script, entities) but whose content matches must still collide
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    def pageOf(body: String): String =
      s"<html><head><title>T</title></head><body><!-- c --><p>$body</p>" +
        "<script>track();</script></body></html>"
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocumentStreams.crawlNearDupAgainstCorpus(
        mem.toDF.toDF("page_id", "html"), corpus,
        threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      .writeStream.format("memory").queryName("crawl_dups")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, pageOf("the quick brown fox jumps over the lazy dog and runs far away today")),
        (11L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
      q.processAllAvailable()
      val b1 = spark.table("crawl_dups").as[(Long, Long, Double)].collect()
      assert(b1.toSeq == Seq((10L, 0L, 1.0)), s"got ${b1.toSeq}")
      // second batch: detection is against the STATIC corpus only —
      // page 10 from batch 1 is not in the index, and no state carries
      mem.addData((12L, pageOf("the quick brown fox jumps over the lazy dog and runs far away today")))
      q.processAllAvailable()
      val b2 = spark.table("crawl_dups").as[(Long, Long, Double)].collect()
      assert(b2.map(r => (r._1, r._2)).toSet == Set((10L, 0L), (12L, 0L)))
      // the whole plan (extraction projection + band probe + verify)
      // holds NO state: progress reports no stateful operators
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("crawlNearDupAgainstIndex: stream-static probe of the PERSISTED bucketed " +
      "band index matches the recompute form, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    def pageOf(body: String): String =
      s"<html><head><title>T</title></head><body><!-- c --><p>$body</p>" +
        "<script>track();</script></body></html>"
    // the 24/7 operating shape: the index is BUILT ONCE and persisted
    // bucketed by band key; micro-batches read the table, never the
    // corpus signatures
    val base = java.nio.file.Files.createTempDirectory("graft_crawl_idx")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "crawl_band_idx", s"$base/idx", bucketCol = "key", buckets = 8)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocumentStreams.crawlNearDupAgainstIndex(
        mem.toDF.toDF("page_id", "html"),
        graft.sources.Storage.readTable(spark, "crawl_band_idx"), corpus,
        threshold = 0.5, k = 8, bands = 4, shingleK = 3)
      .writeStream.format("memory").queryName("crawl_dups_idx")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, pageOf("the quick brown fox jumps over the lazy dog and runs far away today")),
        (11L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
      q.processAllAvailable()
      val b1 = spark.table("crawl_dups_idx").as[(Long, Long, Double)].collect()
      assert(b1.toSeq == Seq((10L, 0L, 1.0)), s"got ${b1.toSeq}")
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS crawl_band_idx")
    }
  }

  test("crawlSelfUpdating: the 24/7 loop end-to-end — a page recrawled in a " +
      "LATER micro-batch is detected through the appended index rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    def pageOf(body: String): String =
      s"<html><head><title>T</title></head><body><!-- c --><p>$body</p>" +
        "<script>track();</script></body></html>"
    val base = java.nio.file.Files.createTempDirectory("graft_self_crawl")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "self_crawl_idx", s"$base/idx", bucketCol = "key", buckets = 8)
    graft.sources.Storage.writeBucketed(corpus, "self_crawl_cor",
      s"$base/cor", bucketCol = "doc_id", buckets = 8)
    val mem = MemoryStream[(Long, String)]
    // compactEvery = 1: every absorbed batch is followed by a compaction
    // of both stored tables — the maintenance half of the loop must be
    // invisible to detection (batch 2 still collides with batch 1's rows
    // THROUGH a compacted index) and must hold the file count at one per
    // non-empty bucket
    val q = graft.streaming.DocumentStreams.crawlSelfUpdating(
      mem.toDF.toDF("page_id", "html"), "self_crawl_idx", "self_crawl_cor",
      s"$base/pairs", s"$base/ckpt", threshold = 0.5, k = 8, bands = 4,
      shingleK = 3, compactEvery = 1)
    try {
      // batch 1: page 10 duplicates corpus doc 0; page 11 is novel
      mem.addData(
        (10L, pageOf("the quick brown fox jumps over the lazy dog and runs far away today")),
        (11L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet
      assert(b1 == Set((10L, 0L, 1.0)), s"got $b1")
      // batch 2: page 12 duplicates BATCH-1 page 11 — detectable only
      // because batch 1 was absorbed into the stored index (the exact
      // case the static-index form above documents as a miss)
      mem.addData(
        (12L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
      q.processAllAvailable()
      val b2 = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet
      assert(b2.map(r => (r._1, r._2)) == Set((10L, 0L), (12L, 11L)), s"got $b2")
      // the streaming query itself holds no state — cross-batch memory
      // lives entirely in the two stored tables
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
      // after two absorb+compact cycles the index holds ONE file per
      // non-empty bucket (8 written buckets), not one per generation
      val idxLoc = java.nio.file.Paths.get(new java.net.URI(
        spark.sql("DESC FORMATTED self_crawl_idx")
          .filter($"col_name" === "Location").collect()(0).getString(1)))
      var nIdxFiles = 0
      val walk = java.nio.file.Files.walk(idxLoc)
      try walk.forEach(p =>
        if (p.getFileName.toString.startsWith("part-")) nIdxFiles += 1)
      finally walk.close()
      assert(nIdxFiles <= 8, s"expected <=8 files after compaction, got $nIdxFiles")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS self_crawl_idx")
      spark.sql("DROP TABLE IF EXISTS self_crawl_cor")
    }
  }

  test("versioned training-corpus sink under foreachBatch: a pin taken after " +
      "an early batch re-reads identically while the stream keeps absorbing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The composition a training pipeline runs 24/7: each micro-batch of
    // cleaned documents appends ONE GENERATION (gen = batchId) to the
    // versioned corpus; a training run records latestGen at launch and
    // re-reads that exact snapshot for reproducibility no matter how far
    // the ingest has advanced since — the pin is partition pruning, so
    // later generations are never even opened.
    val base = java.nio.file.Files.createTempDirectory("graft_ver_stream")
    base.toFile.deleteOnExit()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (spark.catalog.tableExists("ver_stream_cor"))
          graft.sources.Storage.appendVersioned(batch, "ver_stream_cor",
            gen = batchId, buckets = 4)
        else
          graft.sources.Storage.writeVersioned(batch, "ver_stream_cor",
            s"$base/cor", gen = batchId, buckets = 4)
      }.start()
    try {
      mem.addData((0L, "alpha text"), (1L, "beta text"))
      q.processAllAvailable()
      val pin = graft.sources.Storage.latestGen(spark, "ver_stream_cor")
      val snap0 = graft.sources.Storage.snapshotAsOf(spark, "ver_stream_cor", pin)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(pin == 0L && snap0 == Seq(0L, 1L))
      mem.addData((2L, "gamma text"))
      q.processAllAvailable()
      assert(graft.sources.Storage.latestGen(spark, "ver_stream_cor") == 1L)
      val re = graft.sources.Storage.snapshotAsOf(spark, "ver_stream_cor", pin)
      assert(re.select("doc_id").as[Long].collect().sorted.toSeq == snap0,
        "pinned snapshot changed after the stream absorbed a later batch")
      assert(re.inputFiles.nonEmpty && re.inputFiles.forall(!_.contains("gen=1")),
        s"pinned read opened a later generation:\n${re.inputFiles.mkString("\n")}")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS ver_stream_cor")
    }
  }

  test("semanticSelfUpdating: the 24/7 embedding loop end-to-end — a vector " +
      "re-ingested in a LATER micro-batch is detected through the appended " +
      "index rows, with zero streaming state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base0 = Array.tabulate(8)(i => 1.0 + i * 0.1)
    val far = Array.tabulate(8)(i => if (i % 2 == 0) -3.0 + i else 2.0 - i)
    val novel = Array.tabulate(8)(i => (i % 3 - 1) * 2.0 + 0.3)
    val corpus = Seq((0L, base0), (5L, far)).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_sem_stream")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.signBucketIndex(corpus),
      "sem_stream_idx", s"$base/idx", bucketCol = "pb", buckets = 8)
    graft.sources.Storage.writeBucketed(corpus, "sem_stream_cor",
      s"$base/cor", bucketCol = "vec_id", buckets = 8)
    val mem = MemoryStream[(Long, Array[Double])]
    // compactEvery = 1: the maintenance half must be invisible to
    // detection, exactly as in the crawl-loop test
    val q = graft.streaming.DocumentStreams.semanticSelfUpdating(
      mem.toDF.toDF("vec_id", "embedding"), "sem_stream_idx",
      "sem_stream_cor", s"$base/pairs", s"$base/ckpt", tau = 0.9,
      compactEvery = 1)
    try {
      // batch 1: vec 10 near-dups corpus vec 0; vec 11 is novel
      mem.addData((10L, base0.map(_ + 0.01)), (11L, novel))
      q.processAllAvailable()
      def pairs = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet.map(
          (r: (Long, Long, Double)) => (r._1, r._2))
      assert(pairs == Set((10L, 0L)), s"got $pairs")
      // batch 2: vec 12 near-dups BATCH-1 vec 11 — detectable only
      // because batch 1 was absorbed into the stored index
      mem.addData((12L, novel.map(_ + 0.005)))
      q.processAllAvailable()
      assert(pairs == Set((10L, 0L), (12L, 11L)), s"got $pairs")
      // stateless: cross-batch memory lives entirely in the two tables
      assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
    } finally {
      q.stop()
    }
    // delete-then-probe on the SAME stored tables, streaming: tombstone
    // every copy of the `novel` text's vector ingested so far (11, 12),
    // restart the loop with the ledger configured — a fresh recrawl of
    // that vector matches nothing, while an untombstoned one still hits
    graft.streaming.DocumentStreams.recordDeletions(
      Seq(11L, 12L).toDF("vec_id"), "sem_stream_ts", s"$base/ts",
      idCol = "vec_id")
    val q2 = graft.streaming.DocumentStreams.semanticSelfUpdating(
      mem.toDF.toDF("vec_id", "embedding"), "sem_stream_idx",
      "sem_stream_cor", s"$base/pairs", s"$base/ckpt", tau = 0.9,
      compactEvery = 1, tombstoneTable = Some("sem_stream_ts"))
    try {
      mem.addData((20L, novel.map(_ + 0.002)), (21L, base0.map(_ + 0.02)))
      q2.processAllAvailable()
      // only the post-takedown batch's pairs (earlier pairs are history)
      val p2 = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet.map(
          (r: (Long, Long, Double)) => (r._1, r._2))
        .filter(_._1 >= 20L)
      assert(!p2.exists(pr => pr._2 == 11L || pr._2 == 12L),
        s"takedown leaked a semantic pair: $p2")
      assert(p2.exists(pr => pr._1 == 21L && pr._2 == 0L),
        s"untombstoned vector no longer matches: $p2")
      // the compaction cycle physically dropped the tombstoned rows
      spark.catalog.refreshTable("sem_stream_idx")
      assert(spark.table("sem_stream_idx")
        .filter($"dup_id".isin(11L, 12L)).count() == 0,
        "tombstoned sign-LSH index rows survived compaction")
    } finally {
      q2.stop()
      Seq("sem_stream_idx", "sem_stream_cor", "sem_stream_ts")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("crawlSelfUpdating with a tombstone table: a takedown between " +
      "micro-batches stops matches against the deleted docs and the next " +
      "compaction physically drops their rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq(
      (0L, t0),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    def pageOf(body: String): String =
      s"<html><head><title>T</title></head><body><p>$body</p></body></html>"
    val base = java.nio.file.Files.createTempDirectory("graft_tomb_crawl")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "tomb_crawl_idx", s"$base/idx", bucketCol = "key", buckets = 8)
    graft.sources.Storage.writeBucketed(corpus, "tomb_crawl_cor",
      s"$base/cor", bucketCol = "doc_id", buckets = 8)
    graft.streaming.DocumentStreams.recordDeletions(
      Seq.empty[Long].toDF("doc_id"), "tomb_crawl_ts", s"$base/ts")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.DocumentStreams.crawlSelfUpdating(
      mem.toDF.toDF("page_id", "html"), "tomb_crawl_idx", "tomb_crawl_cor",
      s"$base/pairs", s"$base/ckpt", threshold = 0.5, k = 8, bands = 4,
      shingleK = 3, compactEvery = 1, tombstoneTable = Some("tomb_crawl_ts"))
    try {
      mem.addData((10L, pageOf(t0)))
      q.processAllAvailable()
      def pairs = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet.map(
          (r: (Long, Long, Double)) => (r._1, r._2))
      assert(pairs == Set((10L, 0L)), s"got $pairs")
      // takedown BOTH copies of the text ingested so far (corpus doc 0
      // and the absorbed recrawl page 10)
      graft.streaming.DocumentStreams.recordDeletions(
        Seq(0L, 10L).toDF("doc_id"), "tomb_crawl_ts", s"$base/ts")
      // a fresh recrawl of the SAME text now matches nothing
      mem.addData((12L, pageOf(t0)))
      q.processAllAvailable()
      assert(pairs == Set((10L, 0L)), s"takedown leaked a pair: $pairs")
      // batch 2's compaction cycle physically dropped the tombstoned rows
      spark.catalog.refreshTable("tomb_crawl_idx")
      assert(spark.table("tomb_crawl_idx")
        .filter($"dup_id".isin(0L, 10L)).count() == 0,
        "tombstoned index rows survived compaction")
      spark.catalog.refreshTable("tomb_crawl_cor")
      assert(spark.table("tomb_crawl_cor")
        .filter($"doc_id".isin(0L, 10L)).count() == 0,
        "tombstoned corpus rows survived compaction")
      // ... and the maintenance cycle PRUNED the applied ids from the
      // ledger itself (r18: the ledger is O(pending takedowns), not
      // O(lifetime) — without this the probes' broadcast anti-join
      // grows monotonically over the loop's uptime)
      spark.catalog.refreshTable("tomb_crawl_ts")
      assert(spark.table("tomb_crawl_ts").count() == 0,
        "applied tombstones were not pruned from the ledger")
      // the loop keeps operating: page 12 WAS absorbed (not tombstoned),
      // so one more recrawl matches it — and only it
      mem.addData((14L, pageOf(t0)))
      q.processAllAvailable()
      assert(pairs == Set((10L, 0L), (14L, 12L)), s"got $pairs")
    } finally {
      q.stop()
      Seq("tomb_crawl_idx", "tomb_crawl_cor", "tomb_crawl_ts")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("crawlSelfUpdating skips the replay of an already-absorbed batch " +
      "(foreachBatch is at-least-once; the marker makes the absorb effectively-once)") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about database engines and query planners"))
      .toDF("doc_id", "text")
    def pageOf(body: String): String =
      s"<html><head><title>T</title></head><body><p>$body</p></body></html>"
    val base = java.nio.file.Files.createTempDirectory("graft_replay_crawl")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "replay_crawl_idx", s"$base/idx", bucketCol = "key", buckets = 8)
    graft.sources.Storage.writeBucketed(corpus, "replay_crawl_cor",
      s"$base/cor", bucketCol = "doc_id", buckets = 8)
    // a FILE source (not MemoryStream): it re-delivers a batch whose epoch
    // commit was lost, which is exactly the replay this test exercises
    val srcDir = s"$base/src"
    def startCrawl() = graft.streaming.DocumentStreams.crawlSelfUpdating(
      spark.readStream
        .schema("page_id LONG, html STRING").json(srcDir),
      "replay_crawl_idx", "replay_crawl_cor",
      s"$base/pairs", s"$base/ckpt", threshold = 0.5, k = 8, bands = 4,
      shingleK = 3)
    Seq(
      (10L, pageOf("the quick brown fox jumps over the lazy dog and runs far away today")),
      (11L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
      .toDF("page_id", "html").write.mode("append").json(srcDir)
    val q1 = startCrawl()
    try q1.processAllAvailable() finally q1.stop()
    val pairs1 = spark.read.parquet(s"$base/pairs")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs1 == Set((10L, 0L, 1.0)), s"got $pairs1")
    // the absorb runs in the stream's CLONED session; refresh this
    // session's relation cache before every count or it reads the file
    // list it snapshotted at the previous count
    def tableRows(t: String): Long = {
      spark.catalog.refreshTable(t); spark.table(t).count()
    }
    val idxRows = tableRows("replay_crawl_idx")
    val corRows = tableRows("replay_crawl_cor")
    // lose batch 0's epoch commit: on restart the engine re-runs the batch
    // with the same batchId — the at-least-once case the marker absorbs
    val commit0 = java.nio.file.Paths.get(s"$base/ckpt/commits/0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      "expected a commit file for batch 0")
    // the checksum twin too, or the re-commit's rename collides on it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/ckpt/commits/.0.crc"))
    val q2 = startCrawl()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet == pairs1,
        "replay duplicated the batch's pairs")
      assert(tableRows("replay_crawl_idx") == idxRows,
        "replay re-absorbed the batch's index rows")
      assert(tableRows("replay_crawl_cor") == corRows,
        "replay re-absorbed the batch's corpus rows")
      // and the loop still advances: a NEW batch after the skipped replay
      // is probed and absorbed normally (page 12 dups batch-1 page 11)
      Seq((12L, pageOf("a genuinely novel page about glaciers carving deep mountain valleys")))
        .toDF("page_id", "html").write.mode("append").json(srcDir)
      q2.processAllAvailable()
      val pairs2 = spark.read.parquet(s"$base/pairs")
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs2.map(r => (r._1, r._2)) == Set((10L, 0L), (12L, 11L)),
        s"got $pairs2")
      assert(tableRows("replay_crawl_idx") > idxRows)
    } finally {
      q2.stop()
      spark.sql("DROP TABLE IF EXISTS replay_crawl_idx")
      spark.sql("DROP TABLE IF EXISTS replay_crawl_cor")
    }
  }

  test("crawlSelfUpdating fails loudly on a corrupt absorb marker instead " +
      "of re-absorbing the replayed batch") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away today"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_corrupt_marker")
    base.toFile.deleteOnExit()
    graft.sources.Storage.writeBucketed(
      graft.operators.Dedup.lshBandIndex(corpus, k = 8, bands = 4, shingleK = 3),
      "corrupt_crawl_idx", s"$base/idx", bucketCol = "key", buckets = 8)
    graft.sources.Storage.writeBucketed(corpus, "corrupt_crawl_cor",
      s"$base/cor", bucketCol = "doc_id", buckets = 8)
    val srcDir = s"$base/src"
    def startCrawl() = graft.streaming.DocumentStreams.crawlSelfUpdating(
      spark.readStream
        .schema("page_id LONG, html STRING").json(srcDir),
      "corrupt_crawl_idx", "corrupt_crawl_cor",
      s"$base/pairs", s"$base/ckpt", threshold = 0.5, k = 8, bands = 4,
      shingleK = 3)
    Seq((11L, "<html><body><p>a genuinely novel page about glaciers carving " +
        "deep mountain valleys</p></body></html>"))
      .toDF("page_id", "html").write.mode("append").json(srcDir)
    def tableRows(t: String): Long = {
      spark.catalog.refreshTable(t); spark.table(t).count()
    }
    try {
      val q1 = startCrawl()
      try q1.processAllAvailable() finally q1.stop()
      val idxRows = tableRows("corrupt_crawl_idx")
      val corRows = tableRows("corrupt_crawl_cor")
      // garble the marker, then lose batch 0's epoch commit so the
      // restart replays the already-absorbed batch
      val marker = java.nio.file.Paths.get(s"$base/ckpt/graft_absorbed_batch")
      assert(java.nio.file.Files.exists(marker), "expected an absorb marker")
      java.nio.file.Files.write(marker, "garbage".getBytes("UTF-8"))
      // drop its checksum twin so the garbled text reaches the parser
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$base/ckpt/.graft_absorbed_batch.crc"))
      assert(java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$base/ckpt/commits/0")),
        "expected a commit file for batch 0")
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$base/ckpt/commits/.0.crc"))
      val q2 = startCrawl()
      try {
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
      } finally q2.stop()
      assert(tableRows("corrupt_crawl_idx") == idxRows,
        "the replay re-absorbed the batch's index rows")
      assert(tableRows("corrupt_crawl_cor") == corRows,
        "the replay re-absorbed the batch's corpus rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS corrupt_crawl_idx")
      spark.sql("DROP TABLE IF EXISTS corrupt_crawl_cor")
    }
  }

  test("nearDupAgainstCorpus batch path matches incrementalDupPairs corpus branch") {
    import spark.implicits._
    val t0 = "the quick brown fox jumps over the lazy dog and runs far away today"
    val t1 = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val corpus = Seq((0L, t0), (2L, "unrelated words about planets and orbital mechanics"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, t0), (11L, t1), (13L, "novel glacier valley survey notes"))
      .toDF("doc_id", "text")
    val stream = graft.streaming.DocumentStreams
      .nearDupAgainstCorpus(batch, corpus, threshold = 0.5, k = 8, bands = 4,
        shingleK = 3)
      .as[(Long, Long, Double)].collect().toSet
    val batchOp = graft.operators.Dedup
      .incrementalDupPairs(corpus, batch, threshold = 0.5, k = 8, bands = 4,
        shingleK = 3)
      .filter(col("dup_src") === "corpus")
      .select("batch_id", "dup_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(stream == batchOp && stream.map(_._1) == Set(10L, 11L))
  }

  test("annSelfUpdating: drift-triggered refresh fires INSIDE the 24/7 loop " +
      "— healthy appends never trigger, a drifted ingest crosses the " +
      "threshold, the quantizers swap, and retrieval recovers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.sources.Storage
    val rng = new scala.util.Random(11)
    // yesterday's distribution near the origin; the drifted ingest lives
    // far away — stale quantizers trained on the old slice cannot code it
    // (the refresh test's shape, now flowing through the STREAMING loop)
    val old = (0L until 30L).map(i => (i, Array.fill(16)(rng.nextDouble())))
    val corpus0 = old.toDF("vec_id", "embedding")
    val cents0 = Similarity.kmeansFit(corpus0, k = 4, iters = 2)
    val books0 = Similarity.pqFitCodebooksResidual(corpus0, cents0,
      m = 4, ksub = 4, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_loop")
    base.toFile.deleteOnExit()
    Storage.writeBucketed(
      Similarity.ivfPqIndexResidual(corpus0, cents0, books0),
      "ann_loop_idx", s"$base/idx", bucketCol = "cell_id", buckets = 8)
    Storage.writeBucketed(corpus0, "ann_loop_cor", s"$base/cor",
      bucketCol = "vec_id", buckets = 8)
    // baseline stat: the seed corpus under the initial quantizers
    // (gen -1 < every batchId, so it stays the oldest row)
    val (nb, tb) = Similarity.quantizationError(
      Similarity.ivfResiduals(corpus0, cents0), books0)
    Similarity.recordDriftStat(spark, "ann_loop_stat", s"$base/stat",
      gen = -1L, n = nb, totalErr = tb)
    val driftA = (0L until 15L).map(j =>
      (3000L + j, Array.fill(16)(5.0 + rng.nextDouble())))
    def noisy(src: Seq[(Long, Array[Double])], idOff: Long) =
      src.map { case (id, v) => (idOff + (id % 1000), v.map(_ + 0.01)) }
    val mem = MemoryStream[(Long, Array[Double])]
    val (q, quant) = graft.streaming.DocumentStreams.annSelfUpdating(
      mem.toDF.toDF("vec_id", "embedding"), "ann_loop_idx", "ann_loop_cor",
      "ann_loop_stat", s"$base/stat", s"$base/pairs", s"$base/ckpt",
      cents0, books0, k = 1, r = 1, nprobe = 2, driftFactor = 2.0,
      kmK = 4, pqM = 4, pqKsub = 4, maintainEvery = 2)
    try {
      def pairs = spark.read.parquet(s"$base/pairs")
        .filter(col("rank") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      // batches 0+1: in-distribution ingest (noisy copies of seed
      // vectors) — batch 1 runs the maintenance cycle; refresh must stay
      // quiet and detection must work (each copy retrieves its original)
      mem.addData(old.take(5).map { case (i, v) => (1000L + i, v.map(_ + 0.01)) }: _*)
      q.processAllAvailable()
      mem.addData(old.slice(5, 10).map { case (i, v) => (1100L + i, v.map(_ + 0.01)) }: _*)
      q.processAllAvailable()
      assert(quant.get()._2 eq books0,
        "refresh fired on in-distribution appends")
      assert(Similarity.driftStats(spark, "ann_loop_stat").count() == 3,
        "healthy cycle restamped the stat table")
      val healthy = pairs
      assert((0L until 5L).forall(i => healthy.get(1000L + i).contains(i)),
        s"healthy detection broke: $healthy")
      // batch 2: drifted set A lands (no cycle yet); batch 3: noisy
      // copies of A probe it WITH THE STALE QUANTIZERS (the probe runs
      // before batch 3's maintenance cycle) — then the cycle sees the
      // drifted stats and must fire the refresh
      mem.addData(driftA: _*)
      q.processAllAvailable()
      mem.addData(noisy(driftA, 4000L): _*)
      q.processAllAvailable()
      val staleRecall = (0L until 15L).count(j =>
        pairs.get(4000L + j).contains(3000L + j)) / 15.0
      assert(quant.get()._2 ne books0, "drift refresh did not fire in-loop")
      val stats = Similarity.driftStats(spark, "ann_loop_stat").collect()
      assert(stats.length == 1 && stats(0).getLong(0) == 3L,
        s"stats not restamped to the latest-gen baseline: ${stats.toSeq}")
      // the in-loop refresh equals a one-shot fresh build over the full
      // stored corpus (the stand-alone refresh test's parity, through
      // the loop)
      val full = Storage.readTable(spark, "ann_loop_cor")
      val centsF = Similarity.kmeansFit(full, k = 4, iters = 2)
      val booksF = Similarity.pqFitCodebooksResidual(full, centsF,
        m = 4, ksub = 4, iters = 2)
      spark.catalog.refreshTable("ann_loop_idx")
      assert(Storage.readTable(spark, "ann_loop_idx")
        .collect().map(_.toString).sorted.toSeq ==
        Similarity.ivfPqIndexResidual(full, centsF, booksF)
          .collect().map(_.toString).sorted.toSeq,
        "in-loop refresh diverges from a fresh full build")
      // batch 4: more noisy copies of A, routed with the SWAPPED
      // quantizers — retrieval of the drifted family recovers
      mem.addData(noisy(driftA, 5000L): _*)
      q.processAllAvailable()
      val freshRecall = (0L until 15L).count(j =>
        pairs.get(5000L + j).exists(v => v == 3000L + j || v == 4000L + j)) / 15.0
      assert(freshRecall > staleRecall && freshRecall >= 0.8,
        s"recall did not recover after the in-loop refresh: " +
          s"stale $staleRecall, fresh $freshRecall")
      // TAKEDOWN composes with the drift loop: tombstone the 3000
      // family, restart with the ledger configured (and the SWAPPED
      // quantizers, as a production restart would) — probes hide the
      // deleted vectors immediately, and the next maintenance cycle
      // drops them physically BEFORE any drift check could re-encode
      // them
      q.stop()
      graft.streaming.DocumentStreams.recordDeletions(
        (3000L until 3015L).toDF("vec_id"), "ann_loop_ts", s"$base/ts",
        idCol = "vec_id")
      val (centsNow, booksNow) = quant.get()
      val (q2, _) = graft.streaming.DocumentStreams.annSelfUpdating(
        mem.toDF.toDF("vec_id", "embedding"), "ann_loop_idx",
        "ann_loop_cor", "ann_loop_stat", s"$base/stat", s"$base/pairs",
        s"$base/ckpt", centsNow, booksNow, k = 1, r = 1, nprobe = 2,
        driftFactor = 2.0, kmK = 4, pqM = 4, pqKsub = 4,
        maintainEvery = 2, tombstoneTable = Some("ann_loop_ts"))
      try {
        mem.addData(noisy(driftA, 6000L): _*)
        q2.processAllAvailable()
        val p6 = (0L until 15L).flatMap(j => pairs.get(6000L + j))
        assert(p6.nonEmpty && p6.forall(v => v < 3000L || v >= 4000L),
          s"tombstoned vectors still matched after the takedown: $p6")
        // second batch triggers the maintenance cycle → physical drop
        mem.addData(old.slice(10, 15).map { case (i, v) =>
          (7000L + i, v.map(_ + 0.01)) }: _*)
        q2.processAllAvailable()
        spark.catalog.refreshTable("ann_loop_idx")
        assert(spark.table("ann_loop_idx")
          .filter(col("vec_id").between(3000L, 3014L)).count() == 0,
          "tombstoned index rows survived the maintenance compaction")
        spark.catalog.refreshTable("ann_loop_cor")
        assert(spark.table("ann_loop_cor")
          .filter(col("vec_id").between(3000L, 3014L)).count() == 0,
          "tombstoned corpus rows survived the maintenance compaction")
        spark.catalog.refreshTable("ann_loop_ts")
        assert(spark.table("ann_loop_ts").count() == 0,
          "ledger not pruned after the drops were applied")
      } finally q2.stop()
    } finally {
      q.stop()
      Seq("ann_loop_idx", "ann_loop_cor", "ann_loop_stat", "ann_loop_ts")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("annSelfUpdating over empty stored tables starts, records no gen -1 " +
      "baseline, and takes its first batch as the baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.sources.Storage
    val rng = new scala.util.Random(17)
    val train = (0L until 20L).map(i => (i, Array.fill(8)(rng.nextDouble())))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(train, k = 2, iters = 1)
    val books = Similarity.pqFitCodebooksResidual(train, cents, m = 2,
      ksub = 2, iters = 1)
    val empty = train.limit(0)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_empty")
    base.toFile.deleteOnExit()
    Storage.writeBucketed(Similarity.ivfPqIndexResidual(empty, cents, books),
      "ann_empty_idx", s"$base/idx", bucketCol = "cell_id", buckets = 8)
    Storage.writeBucketed(empty, "ann_empty_cor", s"$base/cor",
      bucketCol = "vec_id", buckets = 8)
    val mem = MemoryStream[(Long, Array[Double])]
    try {
      val (q, _) = graft.streaming.DocumentStreams.annSelfUpdating(
        mem.toDF.toDF("vec_id", "embedding"), "ann_empty_idx", "ann_empty_cor",
        "ann_empty_stat", s"$base/stat", s"$base/pairs", s"$base/ckpt",
        cents, books, k = 1, r = 1, nprobe = 1, kmK = 2, pqM = 2, pqKsub = 2)
      try {
        assert(!spark.catalog.tableExists("ann_empty_stat"),
          "an empty seed corpus recorded a gen -1 baseline")
        mem.addData((100L until 105L).map(i => (i, Array.fill(8)(rng.nextDouble()))): _*)
        q.processAllAvailable()
        val stats = Similarity.driftStats(spark, "ann_empty_stat").collect()
        assert(stats.map(_.getLong(0)).toSeq == Seq(0L) && stats(0).getLong(1) == 5L,
          s"the first absorbed batch is not the baseline: ${stats.toSeq}")
      } finally q.stop()
    } finally {
      Seq("ann_empty_idx", "ann_empty_cor", "ann_empty_stat")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("sessionize in batch mode emits the final open session") {
    import spark.implicits._
    // timeouts never fire in batch — the end-of-group flush must cover the
    // still-open sessions or they'd be silently dropped
    val batch = Seq((ns(1), 1L, "a", 0.0), (ns(10), 1L, "a", 0.0),
      (ns(100), 1L, "a", 0.0), (ns(5), 2L, "a", 0.0))
      .toDF("ts", "user_id", "event_type", "value")
    val s = EventStreams.sessionize(batch, gapMinutes = 30).collect()
    assert(s.length == 3)
    assert(s.exists(x => x.user_id == 1 && x.start_us == us(1) &&
      x.end_us == us(10) && x.n_events == 2))
    assert(s.exists(x => x.user_id == 1 && x.start_us == us(100) && x.n_events == 1))
    assert(s.exists(x => x.user_id == 2 && x.n_events == 1))
  }

  test("annSelfUpdating replay: a batch whose vectors are ALREADY indexed " +
      "(crash between append and marker) still ranks true neighbors first " +
      "and seeds the drift baseline when no stat table exists") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.sources.Storage
    val rng = new scala.util.Random(7)
    val seedVecs = (0L until 20L).map(i => (i, Array.fill(16)(rng.nextDouble())))
    val corpus0 = seedVecs.toDF("vec_id", "embedding")
    val cents0 = Similarity.kmeansFit(corpus0, k = 4, iters = 2)
    val books0 = Similarity.pqFitCodebooksResidual(corpus0, cents0,
      m = 4, ksub = 4, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_replay")
    base.toFile.deleteOnExit()
    // the batch: noisy copies of seed vectors, with NEW ids
    val batchVecs = seedVecs.take(5).map { case (i, v) =>
      (1000L + i, v.map(_ + 0.01)) }
    // replay state: batch vectors are ALREADY absorbed into index+corpus
    // (the crash landed after the appends, before the marker write)
    val preCorpus = (seedVecs ++ batchVecs).toDF("vec_id", "embedding")
    Storage.writeBucketed(
      Similarity.ivfPqIndexResidual(preCorpus, cents0, books0),
      "ann_replay_idx", s"$base/idx", bucketCol = "cell_id", buckets = 8)
    Storage.writeBucketed(preCorpus, "ann_replay_cor", s"$base/cor",
      bucketCol = "vec_id", buckets = 8)
    // NO stat table and NO manual baseline: the loop must seed gen -1
    // from the (already-absorbed) corpus under the initial quantizers
    val mem = MemoryStream[(Long, Array[Double])]
    val (q, _) = graft.streaming.DocumentStreams.annSelfUpdating(
      mem.toDF.toDF("vec_id", "embedding"), "ann_replay_idx",
      "ann_replay_cor", "ann_replay_stat", s"$base/stat", s"$base/pairs",
      s"$base/ckpt", cents0, books0, k = 1, r = 1, nprobe = 2,
      kmK = 4, pqM = 4, pqKsub = 4)
    try {
      val seeded = Similarity.driftStats(spark, "ann_replay_stat").collect()
      assert(seeded.length == 1 && seeded(0).getLong(0) == -1L,
        s"missing gen=-1 drift baseline at loop start: ${seeded.toSeq}")
      mem.addData(batchVecs: _*)
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$base/pairs")
        .filter(col("rank") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      // without pre-rank self-exclusion, rank 1 would be the batch's own
      // replayed vector and the post-rank self filter would DROP the row
      // — consumers of rank===1 would see no pair at all
      assert((0L until 5L).forall(i => pairs.get(1000L + i).contains(i)),
        s"replayed batch lost its true rank-1 neighbors: $pairs")
    } finally {
      q.stop()
      Seq("ann_replay_idx", "ann_replay_cor", "ann_replay_stat")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("semanticSelfUpdating and annSelfUpdating skip the replay of an " +
      "already-absorbed batch (the shared absorb-marker gate)") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    import graft.sources.Storage
    import graft.streaming.DocumentStreams
    val rng = new scala.util.Random(5)
    val seed = (0L until 20L).map(i => (i, Array.fill(8)(rng.nextDouble())))
    val corpus = seed.toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft_replay_vec")
    base.toFile.deleteOnExit()
    // one batch of noisy copies of seed vectors, through a FILE source,
    // which re-delivers a batch whose epoch commit was lost
    seed.take(5).map { case (i, v) => (100L + i, v.map(_ + 0.01)) }
      .toDF("vec_id", "embedding").write.json(s"$base/src")
    def vectors() = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>").json(s"$base/src")
    Storage.writeBucketed(Dedup.signBucketIndex(corpus), "replay_sem_idx",
      s"$base/sidx", bucketCol = "pb", buckets = 8)
    Storage.writeBucketed(corpus, "replay_sem_cor", s"$base/scor",
      bucketCol = "vec_id", buckets = 8)
    val cents = Similarity.kmeansFit(corpus, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooksResidual(corpus, cents, m = 4,
      ksub = 4, iters = 2)
    Storage.writeBucketed(Similarity.ivfPqIndexResidual(corpus, cents, books),
      "replay_ann_idx", s"$base/aidx", bucketCol = "cell_id", buckets = 8)
    Storage.writeBucketed(corpus, "replay_ann_cor", s"$base/acor",
      bucketCol = "vec_id", buckets = 8)
    def rows(t: String): Long = { spark.catalog.refreshTable(t); spark.table(t).count() }
    val loops = Seq(
      ("semanticSelfUpdating", "replay_sem", () => DocumentStreams.semanticSelfUpdating(
        vectors(), "replay_sem_idx", "replay_sem_cor", s"$base/replay_sem_pairs",
        s"$base/replay_sem_ckpt", tau = 0.9)),
      ("annSelfUpdating", "replay_ann", () => DocumentStreams.annSelfUpdating(
        vectors(), "replay_ann_idx", "replay_ann_cor", "replay_ann_stat",
        s"$base/stat", s"$base/replay_ann_pairs", s"$base/replay_ann_ckpt",
        cents, books, k = 1, r = 1, nprobe = 2, kmK = 4, pqM = 4, pqKsub = 4)._1))
    try loops.foreach { case (name, t, start) =>
      def counts = (rows(s"${t}_idx"), rows(s"${t}_cor"),
        spark.read.parquet(s"$base/${t}_pairs").count())
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val absorbed = counts
      assert(absorbed._2 == 25 && absorbed._3 > 0, s"$name: batch 0 gave $absorbed")
      // lose batch 0's epoch commit (and its checksum twin): the restart
      // re-runs batch 0 with the same batchId
      assert(java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$base/${t}_ckpt/commits/0")), s"$name: no commit 0")
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$base/${t}_ckpt/commits/.0.crc"))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(q2.recentProgress.exists(_.batchId == 0),
          s"$name: batch 0 was not re-run")
      } finally q2.stop()
      assert(counts == absorbed, s"$name: the replay changed (index, corpus, pairs) " +
        s"rows from $absorbed to $counts")
    } finally {
      Seq("replay_sem_idx", "replay_sem_cor", "replay_ann_idx", "replay_ann_cor",
        "replay_ann_stat").foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }
}
