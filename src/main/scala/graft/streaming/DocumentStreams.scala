package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, Html, Similarity, TextAnalysis}
import graft.sources.Storage

/**
 * Streaming document-ingest cleaning — the LLM-pipeline counterpart of
 * EventStreams (green-field; the reference has no streaming surface): a
 * continuously-arriving document stream is quality-filtered and
 * content-deduplicated before landing in the corpus.
 *
 * The SAME plan runs in batch (backfills, the declared query) and
 * streaming: quality scoring is a narrow expression, and the dedup is
 * `dropDuplicatesWithinWatermark` on the content hash in streaming mode —
 * state for a key is dropped once the watermark passes it, so state size
 * is bounded by the dedup horizon, not the corpus (the unbounded
 * `dropDuplicates` alternative would grow state forever at 100 TB/day).
 */
object DocumentStreams {

  /**
   * Quality-filter + exact-content-dedup.
   *
   * @param docs       columns: `text`; streaming inputs also need an
   *                   `event_time` timestamp column for the watermark
   * @param minQuality drop documents scoring below this ([[TextAnalysis.qualityScore]])
   * @param watermark  Some(horizon) on a streaming input — dedup state is
   *                   bounded to the horizon; None = batch (global dedup)
   * @return input rows that survive, plus `quality` and `text_key` columns
   */
  def cleanDocs(docs: DataFrame, minQuality: Double = 0.3,
      watermark: Option[String] = None): DataFrame = {
    val scored = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("text_key", md5(col("text")))
    watermark match {
      case Some(w) => scored.withWatermark("event_time", w)
        .dropDuplicatesWithinWatermark("text_key")
      case None => scored.dropDuplicates("text_key")
    }
  }

  /**
   * Streaming ingest SEMANTIC near-dup detection — the embedding
   * analogue of [[nearDupAgainstCorpus]]: each arriving embedding probes
   * the EXISTING corpus's sign-LSH index (its own bucket plus every
   * single-bit-flip probe, over the hashed plane family whose buckets
   * stay distinct as nPlanes grows) via a stream-STATIC equi-join, with
   * the exact cosine verify inline. Emits one `(batch_id, dup_id, cos)`
   * row per detection, in append mode.
   *
   * Even simpler than the MinHash form: probe buckets of one vector are
   * pairwise DISTINCT (the own bucket and its nPlanes single-bit flips
   * can never coincide), so a (batch, corpus) pair can collide on
   * exactly one probe row — exactly-once emission needs no
   * first-shared-band trick, no dropDuplicates, no state at all.
   *
   * Scale shape: per micro-batch cost is the batch's (nPlanes+1) probe
   * rows against the static bucket index; persist the corpus index
   * bucketed by bucket key (sources/Storage) so the join prunes instead
   * of re-scanning. The same plan runs in batch (the declared query's
   * differential gate) because every operator is streaming-stateless.
   */
  def semanticDupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      tau: Double = 0.3, nPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semanticDupAgainstIndex(batch,
      Dedup.signBucketIndex(corpus, nPlanes, idCol, vecCol),
      corpus, tau, nPlanes, idCol, vecCol)

  /**
   * [[semanticDupAgainstCorpus]] probing a pre-built
   * [[graft.operators.Dedup.signBucketIndex]] relation — row-identical
   * by construction (the index rows ARE the corpus-side bucket
   * projection), so it shares the oracle. With the index PERSISTED
   * bucketed by `pb`, the per-batch cost drops from a full corpus
   * bucket recompute to a pruned index read plus the candidates'
   * cosine-verify join.
   */
  def semanticDupAgainstIndex(batch: DataFrame, index: DataFrame,
      corpus: DataFrame, tau: Double = 0.3, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosineVerify(signProbeRows(batch, nPlanes, idCol, vecCol), index, corpus,
      tau, idCol, vecCol)

  /** A vector batch's probe rows `(batch_id, v_b, pb)`: one per vector and
    * probe bucket (its own sign-LSH bucket and every single-bit flip). */
  private def signProbeRows(batch: DataFrame, nPlanes: Int, idCol: String,
      vecCol: String): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    batch.select(col(idCol).as("batch_id"), vecD.as("v_b"),
        Dedup.signBucketHashed(vecD, nPlanes).as("bucket"))
      .select(col("batch_id"), col("v_b"),
        explode(Dedup.probeBuckets(col("bucket"), nPlanes)).as("pb"))
  }

  /** Probe rows ⋈ sign-LSH index on `pb`, then the exact cosine verify
    * against the corpus vectors: `(batch_id, dup_id, cos)` with cos ≥ tau. */
  private def cosineVerify(probe: DataFrame, index: DataFrame,
      corpus: DataFrame, tau: Double, idCol: String, vecCol: String): DataFrame =
    // vector cast applied ABOVE the join (round-22, same reasoning as
    // jaccardVerify's shingles): the float→double cast allocated a fresh
    // array for EVERY corpus row per probe; post-join only candidates pay
    // it. Single reference, so CollapseProject can never duplicate it.
    probe.join(index.select(col("dup_id"), col("pb")), "pb")
      .filter(col("batch_id") =!= col("dup_id"))
      .join(corpus.select(col(idCol).as("dup_id"), col(vecCol).as("__vc0")),
        "dup_id")
      .withColumn("cos", Dedup.halfUp4Signed(
        graft.tensor.cosine(col("v_b"), col("__vc0").cast("array<double>"))))
      .filter(col("cos") >= tau)
      .select("batch_id", "dup_id", "cos")

  /**
   * The batch form of the semantic self-updating loop —
   * [[ingestProbeThenUpdate]]'s embedding twin: [[probeStoredSemanticIndex]],
   * then [[updateStoredSemanticIndex]], with the pairs materialized in
   * between ([[pinThenAbsorb]]).
   */
  def semanticIngestProbeThenUpdate(batch: DataFrame, indexTable: String,
      corpusTable: String, tau: Double = 0.3, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      indexBuckets: Int = 8, corpusBuckets: Int = 8,
      maxProbeBuckets: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame =
    pinThenAbsorb(
      probeStoredSemanticIndex(batch, indexTable, corpusTable, tau, nPlanes,
        idCol, vecCol, maxProbeBuckets, tombstoneTable),
      batch, signIndex(indexTable, corpusTable, nPlanes, idCol, vecCol,
        indexBuckets, corpusBuckets))

  /** The read half of the semantic self-updating loop: probe the stored
    * [[graft.operators.Dedup.signBucketIndex]] table (pruned to the
    * batch's probe buckets — own bucket + single-bit flips; tombstones
    * anti-joined) and cosine-verify the candidates against the stored
    * vector corpus.
    *
    * Job budget: the batch's probe rows are computed once, in one job, and
    * pinned with the index's `pb` keys ([[graft.sources.Storage.pinAndPrune]],
    * soft valve `maxProbeBuckets`). The returned plan stays LAZY: sign-LSH
    * candidate sets are large, so they are verified where they are
    * joined, by whatever action the caller runs. */
  def probeStoredSemanticIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, tau: Double = 0.3, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxProbeBuckets: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val (probe, index) = Storage.pinAndPrune[Long](
      signProbeRows(batch, nPlanes, idCol, vecCol), "pb",
      Storage.readTable(spark, indexTable), "pb", maxProbeBuckets, "probe rows")
    cosineVerify(probe, dropTombstoned(index, spark, tombstoneTable, idCol),
      Storage.readTable(spark, corpusTable), tau, idCol, vecCol)
  }

  /** The write half: absorb the batch into the stored sign-LSH index +
    * vector corpus ([[StoredIndex.absorb]]: corpus first). */
  def updateStoredSemanticIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, nPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", indexBuckets: Int = 8,
      corpusBuckets: Int = 8): Unit =
    signIndex(indexTable, corpusTable, nPlanes, idCol, vecCol, indexBuckets,
      corpusBuckets).absorb(batch)

  /**
   * Streaming ingest near-dup detection — the streaming form of
   * [[graft.operators.Dedup.incrementalDupPairs]]'s corpus probe: each
   * arriving document is checked against the EXISTING corpus via a
   * stream-STATIC equi-join on MinHash-LSH band keys, with the exact
   * shingle-Jaccard verify inline. Emits one `(batch_id, dup_id,
   * jaccard)` row per detected duplication, in append mode.
   *
   * The plan is completely STATELESS — no watermark, no state store, no
   * streaming aggregation: candidate de-duplication (a pair colliding in
   * several bands) is handled by FIRST-SHARED-BAND emission instead of a
   * stateful `dropDuplicates` — a band-b collision is emitted only when
   * no earlier band b' < b also collides, which both sides can decide
   * locally because each row carries its (tiny, `bands`-long) band-key
   * array. This is the same trick the span overlap-join uses for blocked
   * emission (plans/SpanJoinRewrite.scala), applied to LSH buckets.
   *
   * Scale shape: per micro-batch cost is the stream batch's band
   * probe against the static side; persist the corpus index bucketed by
   * (band, key) (sources/Storage) so the join prunes to matching
   * buckets instead of re-scanning the corpus. State held between
   * batches: zero. The same plan runs in batch (the declared query's
   * gate) because every operator in it is streaming-stateless.
   */
  def nearDupAgainstCorpus(docs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    nearDupAgainstIndex(docs,
      Dedup.lshBandIndex(corpus, k, bands, shingleK, idCol, textCol),
      corpus, threshold, k, bands, shingleK, idCol, textCol)

  /**
   * [[nearDupAgainstCorpus]] probing a pre-built
   * [[graft.operators.Dedup.lshBandIndex]] relation — row-identical by
   * construction (the recompute form passes its freshly derived index
   * here), so it shares the oracle. With the index PERSISTED bucketed by
   * `key` (sources/Storage, the q154 pattern), the per-micro-batch cost
   * drops from a full corpus signature recompute to a pruned index read
   * plus the candidates' verify join.
   */
  def nearDupAgainstIndex(docs: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    jaccardVerify(
      bandCandidates(bandProbeRows(docs, k, bands, shingleK, idCol, textCol),
        index),
      corpus, threshold, shingleK, idCol, textCol)

  /** A text batch's probe rows `(batch_id, set_b, kb, band, key)`: one per
    * (document, band), carrying the document's shingle set and band-key
    * array — micro-batches are small, so width costs nothing here. */
  private def bandProbeRows(docs: DataFrame, k: Int, bands: Int,
      shingleK: Int, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("batch_id"),
        TextAnalysis.shingleHashes(col(textCol), shingleK).as("set_b"),
        Dedup.lshBandKeys(
          Dedup.minhashSignature(col(textCol), k, shingleK), k, bands)
          .as("kb"))
      .select(col("batch_id"), col("set_b"), col("kb"),
        posexplode(col("kb")).as(Seq("band", "key")))

  /** Probe rows ⋈ band index on (band, key), each (batch, corpus) pair
    * emitted once at its first shared band: `(batch_id, set_b, dup_id)`. */
  private def bandCandidates(probe: DataFrame, index: DataFrame): DataFrame = {
    // Index side stays NARROW — (id, band keys) only; the corpus-sized
    // shingle sets join back on the (few) candidates in jaccardVerify
    // instead of riding every band row.
    val indexC = index.select(col("dup_id"), col("kc"),
      col("band").as("band_c"), col("key").as("key_c"))
    probe.join(indexC,
        col("band") === col("band_c") && col("key") === col("key_c"))
      // first-shared-band: drop this collision if any EARLIER band pair
      // is also equal (slice of length `band` = bands 0..band-1; empty
      // for band 0, so the first band always passes)
      .filter(!exists(
        zip_with(slice(col("kb"), lit(1), col("band")),
          slice(col("kc"), lit(1), col("band")), (a, b) => a === b),
        x => x))
      .select("batch_id", "set_b", "dup_id")
  }

  /** The exact shingle-Jaccard verify of `(batch_id, set_b, dup_id)`
    * candidates against the corpus text: `(batch_id, dup_id, jaccard)`
    * with jaccard ≥ threshold. */
  private def jaccardVerify(candidates: DataFrame, corpus: DataFrame,
      threshold: Double, shingleK: Int, idCol: String,
      textCol: String): DataFrame =
    // The exact shingle sets are computed ABOVE the candidates join
    // (round-22): computing them inside the corpus-side projection meant
    // the streamed join side evaluated shingleHashes for EVERY stored
    // corpus row per probe — cost ∝ corpus, exactly what the index is
    // there to avoid. Post-join the expression runs only for the (few)
    // candidate rows; values identical (deterministic expression of the
    // joined text). Catalyst has no rule that pushes a non-attribute
    // projection back below a join, and the separate select keeps
    // CollapseProject from duplicating the non-cheap expression into the
    // two jaccard references.
    candidates
      .join(corpus.select(col(idCol).as("dup_id"), col(textCol).as("__vtext")),
        "dup_id")
      .select(col("batch_id"), col("dup_id"), col("set_b"),
        TextAnalysis.shingleHashes(col("__vtext"), shingleK).as("set_c"))
      .withColumn("jaccard",
        floor(size(array_intersect(col("set_b"), col("set_c"))).cast("double") /
          size(array_union(col("set_b"), col("set_c"))) * 1e4 + 0.5) / 1e4)
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "dup_id", "jaccard")

  /** Crawl text extraction: raw HTML pages `(pageIdCol, htmlCol)` as
    * `(idCol, textCol)` documents ([[graft.operators.Html.text]] —
    * comment/script/style removal, block segmentation, entity decode),
    * a STATELESS codegen projection. */
  private def extractPages(pages: DataFrame, pageIdCol: String,
      htmlCol: String, idCol: String, textCol: String): DataFrame =
    pages.select(col(pageIdCol).as(idCol), Html.text(col(htmlCol)).as(textCol))

  /**
   * Streaming CRAWL ingest — the 24/7 front door of a crawl pipeline:
   * raw HTML pages arrive as a stream, text extraction
   * ([[extractPages]]) runs as a STATELESS codegen projection on each
   * micro-batch, and the extracted text probes the EXISTING corpus's
   * MinHash-LSH band index via [[nearDupAgainstCorpus]]'s stream-static
   * join. Emits one `(batch_id, dup_id, jaccard)` row per detected
   * re-crawl / already-have-it page, in append mode.
   *
   * Everything in the plan is streaming-stateless: extraction is a
   * projection, candidate emission is first-shared-band, the verify is
   * an inline join. This form derives the band index from `corpus`; in
   * production the PERSISTED index is the static side
   * ([[crawlNearDupAgainstIndex]]).
   */
  def crawlNearDupAgainstCorpus(pages: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text"): DataFrame =
    crawlNearDupAgainstIndex(pages,
      Dedup.lshBandIndex(corpus, k, bands, shingleK, corpusIdCol, corpusTextCol),
      corpus, threshold, k, bands, shingleK, pageIdCol, htmlCol, corpusIdCol,
      corpusTextCol)

  /** [[crawlNearDupAgainstCorpus]] probing a pre-built (typically
    * persisted, bucketed-by-`key`) band-index relation — the 24/7 crawl
    * operating form: the static side of the stream-static join is a
    * stored-table read, not a per-micro-batch corpus recompute. */
  def crawlNearDupAgainstIndex(pages: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text"): DataFrame =
    nearDupAgainstIndex(
      extractPages(pages, pageIdCol, htmlCol, corpusIdCol, corpusTextCol),
      index, corpus, threshold, k, bands, shingleK, idCol = corpusIdCol,
      textCol = corpusTextCol)

  /**
   * Record TAKEDOWNS: append the single-column `ids` relation to the
   * stored tombstone table (created bucketed by the id on first use).
   * A tombstone makes a corpus document invisible to every subsequent
   * probe — [[probeStoredIndex]] / [[semanticIngestProbeThenUpdate]]
   * anti-join candidates against this table — and is PHYSICALLY applied
   * at the next compaction ([[graft.sources.Storage.compactBuckets]]'s
   * `dropIds`), the standard LSM delete shape: O(deletions) to record,
   * reclaimed for free inside maintenance the table already pays for.
   * Deletion cost never touches the 100 TB corpus outside compaction.
   */
  def recordDeletions(ids: DataFrame, tombstoneTable: String, path: String,
      idCol: String = "doc_id", buckets: Int = 8): Unit = {
    val rows = ids.select(col(idCol))
    if (ids.sparkSession.catalog.tableExists(tombstoneTable))
      Storage.appendBucketed(rows, tombstoneTable, bucketCol = idCol, buckets = buckets)
    else Storage.writeBucketed(rows, tombstoneTable, path, bucketCol = idCol, buckets = buckets)
  }

  /**
   * One MAINTENANCE cycle for a self-updating loop's stored tables: each
   * `(table, bucketCol, buckets, dropCol)` compacts back to one file per
   * bucket with the tombstone ledger's ids physically dropped
   * ([[graft.sources.Storage.compactBuckets]]' `dropIds`), and the
   * LEDGER ITSELF is then pruned of exactly those applied ids — closing
   * the tombstone lifecycle. Without the prune the ledger grows
   * monotonically with LIFETIME takedowns and every probe's broadcast
   * anti-join grows with it; with it the ledger is O(pending takedowns
   * since the last compaction), bounded for any uptime.
   *
   * The tables (distinct names) compact CONCURRENTLY, one thread each,
   * started inside the call so they inherit the caller's job group and
   * session. The call waits for every compaction and then rethrows the
   * first failure in `tables` order (the others suppressed); the ledger
   * is pruned only when all of them succeeded, so a failed cycle leaves
   * every id in place for the next one.
   *
   * Race-safety with concurrent external takedowns: the ledger's
   * `tombstoneIdCol` (selected by name, so a wider ledger works) is
   * SNAPSHOTTED once (eager localCheckpoint) before any rewrite — the
   * same snapshot drives every table's `dropIds`. The ledger is
   * append-only, so the prune deletes exactly the data files that
   * snapshot read (listed before it, so it covers all of their ids); an
   * id recorded DURING the cycle lands in a new file and survives to the
   * next cycle. A crash midway re-applies ids already gone from the
   * tables, which is idempotent. `tombstoneBuckets` is no longer used.
   */
  def runMaintenance(spark: SparkSession,
      tombstoneTable: Option[String],
      tables: Seq[(String, String, Int, String)],
      tombstoneIdCol: String = "doc_id", tombstoneBuckets: Int = 8): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    require(tables.map(_._1).distinct.size == tables.size,
      s"runMaintenance compacts each table once: ${tables.map(_._1).mkString(", ")}")
    val ledger = tombstoneTable.filter(spark.catalog.tableExists).map { t =>
      spark.catalog.refreshTable(t)
      val ids = Storage.readTable(spark, t).select(col(tombstoneIdCol))
      val files = ids.inputFiles
      (t, files, ids.localCheckpoint(true))
    }
    val pool = Executors.newFixedThreadPool(math.max(1, tables.size))
    val failures = try {
      tables.map { case (tbl, bucketCol, buckets, dropCol) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = Storage.compactBuckets(spark, tbl, bucketCol, buckets,
            dropIds = ledger.map { case (_, _, ids) => (ids, dropCol) })
        })
      }.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
    } finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    ledger.foreach { case (t, files, _) =>
      val conf = spark.sessionState.newHadoopConf()
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        p.getFileSystem(conf).delete(p, false)
      }
      spark.catalog.refreshTable(t)
    }
  }

  /** Anti-join a relation's `relCol` against the tombstone ledger's
    * `ledgerIdCol` (no-op when none is configured). Applied to the
    * (already bucket-pruned, narrow) index rows BEFORE the verify join,
    * so a tombstoned candidate never costs a corpus read; the ledger side
    * broadcasts (takedown lists are tiny). The ledger's id column is
    * selected BY NAME: a ledger an external process wrote with more
    * columns (e.g. a takedown `reason`) works unchanged, the contract of
    * [[graft.sources.Storage.snapshotAsOf]] and [[runMaintenance]] too.
    *
    * The table is refreshed before every read: takedowns are recorded by
    * EXTERNAL sessions, and a stale cached file listing (e.g. a streaming
    * loop's cloned session, pinned at stream start) would silently serve
    * pre-deletion candidates. A configured-but-MISSING table reads as an
    * empty ledger: the first takedown ([[recordDeletions]]) creates it. */
  private def dropTombstoned(rel: DataFrame, spark: SparkSession,
      tombstoneTable: Option[String], ledgerIdCol: String,
      relCol: String = "dup_id"): DataFrame =
    tombstoneTable.filter(spark.catalog.tableExists).fold(rel) { t =>
      spark.catalog.refreshTable(t)
      rel.join(broadcast(Storage.readTable(spark, t)
          .select(col(ledgerIdCol).as("__ts_id"))),
        col(relCol) === col("__ts_id"), "left_anti")
    }

  /**
   * Probe the PERSISTED corpus for one ingest batch — the read half of
   * the self-updating loop: the stored [[graft.operators.Dedup.lshBandIndex]]
   * table (bucketed by `key`) supplies candidates through a bucket-pruned
   * scan (tombstoned candidates anti-joined out), and the stored corpus
   * relation `(idCol, textCol)` supplies the exact shingle-Jaccard
   * verify for just those candidates. Per-batch cost: a pruned index
   * read + the candidates' verify join — no corpus signature recompute
   * anywhere.
   *
   * Job budget: the batch's probe rows `(batch_id, set_b, kb, band, key)`
   * are computed once, in one job, and pinned with the index's `isin`
   * keys ([[graft.sources.Storage.pinAndPrune]], soft valve
   * `maxProbeKeys`). With `pruneCorpusByCandidates` the pruned,
   * tombstone-filtered index is scanned ONCE, by the job that pins the
   * candidate `(batch_id, set_b, dup_id)` rows, and the returned plan
   * verifies those against the candidate-pruned corpus. Without it the
   * returned plan stays lazy over the pruned index.
   */
  def probeStoredIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxProbeKeys: Int = 4096,
      pruneCorpusByCandidates: Boolean = false,
      maxCandidateIds: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val (probe, index) = Storage.pinAndPrune[Long](
      bandProbeRows(batch, k, bands, shingleK, idCol, textCol), "key",
      Storage.readTable(spark, indexTable), "key", maxProbeKeys, "probe rows")
    val candidates = bandCandidates(probe,
      dropTombstoned(index, spark, tombstoneTable, idCol))
    // With `pruneCorpusByCandidates` the candidate ids bucket-prune the
    // corpus scan too: only the buckets holding candidate documents are
    // opened (at 100 TB the corpus text scan is the verify's dominant
    // cost; semantically a no-op, since rows outside candidate ids can
    // never survive the verify equi-join). Above `maxCandidateIds` rows
    // the valve trips — a batch with that many collisions touches most
    // buckets anyway.
    val corpus0 = Storage.readTable(spark, corpusTable)
    val (verified, corpus) =
      if (!pruneCorpusByCandidates) (candidates, corpus0)
      else Storage.pinAndPrune[Long](candidates, "dup_id", corpus0, idCol,
        maxCandidateIds, "candidate rows")
    jaccardVerify(verified, corpus, threshold, shingleK, idCol, textCol)
  }

  /**
   * Absorb one ingest batch INTO the stored corpus — the write half of
   * the self-updating loop: its `(idCol, textCol)` rows append bucketed
   * under the corpus table's spec, then its own band rows under the
   * index table's ([[StoredIndex.absorb]]), so the NEXT batch's probe
   * sees this batch as corpus. Per-batch cost ∝ batch size (the existing
   * index files are never rewritten); probes keep bucket-pruning across
   * append generations (StorageSpec).
   */
  def updateStoredIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, k: Int = 16, bands: Int = 4, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      indexBuckets: Int = 8, corpusBuckets: Int = 8): Unit =
    bandIndex(indexTable, corpusTable, k, bands, shingleK, idCol, textCol,
      indexBuckets, corpusBuckets).absorb(batch)

  /**
   * One step of the SELF-UPDATING ingest loop — probe, then absorb:
   * emit the batch's dup pairs against everything ingested so far, then
   * fold the batch into the stored index + corpus so the next batch
   * probes it too ([[pinThenAbsorb]]). This is the 24/7 operating shape
   * q159 (static probe) and q162 (append) each carry half of.
   *
   * Semantics: batch-vs-ingested pairs only (intra-batch duplicates are
   * [[graft.operators.Dedup.minhashDupPairs]] on the batch, exactly as
   * in [[graft.operators.Dedup.incrementalDupPairs]]'s `vsBatch`
   * branch) — a later batch DOES collide with an earlier batch's
   * documents through the appended index rows.
   */
  def ingestProbeThenUpdate(batch: DataFrame, indexTable: String,
      corpusTable: String, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeKeys: Int = 4096,
      pruneCorpusByCandidates: Boolean = false,
      tombstoneTable: Option[String] = None): DataFrame =
    pinThenAbsorb(
      probeStoredIndex(batch, indexTable, corpusTable, threshold, k, bands,
        shingleK, idCol, textCol, maxProbeKeys, pruneCorpusByCandidates,
        tombstoneTable = tombstoneTable),
      batch, bandIndex(indexTable, corpusTable, k, bands, shingleK, idCol,
        textCol, indexBuckets, corpusBuckets))

  /** One stored-index family as the self-updating loops see it: the index
    * table (its bucket column and count, and the column maintenance
    * drops tombstoned ids by), the corpus table (id and payload columns,
    * bucketed by the id), and how a batch becomes index rows. */
  private final case class StoredIndex(indexTable: String,
      indexBucketCol: String, indexBuckets: Int, indexDropCol: String,
      corpusTable: String, idCol: String, payloadCol: String,
      corpusBuckets: Int, indexRows: DataFrame => DataFrame) {

    /** Absorb a batch: its `(idCol, payloadCol)` rows append under the
      * corpus table's spec FIRST, then its index rows under the index's
      * (why corpus first: [[selfUpdating]]). */
    def absorb(batch: DataFrame): Unit = {
      Storage.appendBucketed(batch.select(col(idCol), col(payloadCol)),
        corpusTable, bucketCol = idCol, buckets = corpusBuckets)
      Storage.appendBucketed(indexRows(batch), indexTable,
        bucketCol = indexBucketCol, buckets = indexBuckets)
    }

    /** One [[runMaintenance]] cycle over the index and corpus tables. */
    def maintain(spark: SparkSession, tombstoneTable: Option[String]): Unit =
      runMaintenance(spark, tombstoneTable, Seq(
        (indexTable, indexBucketCol, indexBuckets, indexDropCol),
        (corpusTable, idCol, corpusBuckets, idCol)), tombstoneIdCol = idCol)
  }

  /** The MinHash band-index family (index bucketed by band `key`). */
  private def bandIndex(indexTable: String, corpusTable: String, k: Int,
      bands: Int, shingleK: Int, idCol: String, textCol: String,
      indexBuckets: Int, corpusBuckets: Int): StoredIndex =
    StoredIndex(indexTable, "key", indexBuckets, "dup_id", corpusTable, idCol,
      textCol, corpusBuckets,
      Dedup.lshBandIndex(_, k, bands, shingleK, idCol, textCol))

  /** The sign-LSH family (index bucketed by probe bucket `pb`). */
  private def signIndex(indexTable: String, corpusTable: String,
      nPlanes: Int, idCol: String, vecCol: String, indexBuckets: Int,
      corpusBuckets: Int): StoredIndex =
    StoredIndex(indexTable, "pb", indexBuckets, "dup_id", corpusTable, idCol,
      vecCol, corpusBuckets, Dedup.signBucketIndex(_, nPlanes, idCol, vecCol))

  /** The batch forms' ordering barrier: the probe plan is lazy, so its
    * pairs are MATERIALIZED (eager `localCheckpoint`) before the batch is
    * absorbed — without it a consumer evaluating the returned relation
    * after the append would read the batch's own index rows and report
    * every document as its own duplicate. (The streaming loops get the
    * same ordering from [[selfUpdating]], which writes the pairs before
    * absorbing.) */
  private def pinThenAbsorb(pairs: DataFrame, batch: DataFrame,
      family: StoredIndex): DataFrame = {
    val pinned = pairs.localCheckpoint(true)
    family.absorb(batch)
    pinned
  }

  /**
   * The one 24/7 self-updating loop skeleton every stored-index family
   * runs: per micro-batch of `input`, (1) skip the batch if the absorb
   * marker says it was already absorbed, (2) `probe` it against the
   * stored tables and append the pairs to `pairsDir`, (3) absorb it
   * ([[StoredIndex.absorb]]), (4) `afterAbsorb`, (5) write the marker,
   * and (6) every `maintainEvery` absorbed batches (0 = never) run
   * [[runMaintenance]] over both tables, then `afterMaintenance`. The
   * probe plan is stateless (no watermark, no state store): all
   * cross-batch memory lives in the stored tables. Returns the started
   * query; stop it to end the loop.
   *
   * Pairs before absorb: `foreachBatch` is serial per query and writes
   * the pairs first, so a batch never sees its own index rows, and no
   * probe ever races a maintenance swap.
   *
   * Corpus first: the two appends are not a transaction. A corpus-only
   * half-absorbed batch is inert (corpus rows are only read through a
   * candidate's id join, and with no index rows the batch is never a
   * candidate — it reads as "not yet absorbed"); the reverse order would
   * leave index rows whose payload is missing, and the verify join would
   * silently DROP those candidates forever.
   *
   * Replay idempotence: `foreachBatch` is AT-LEAST-ONCE (a batch whose
   * epoch commit was lost replays on restart with the same batchId), and
   * a naive replay would permanently duplicate the batch's index rows.
   * The loop records the last fully-absorbed batchId in a marker file
   * under `checkpointDir` and SKIPS replays of completed batches. The
   * remaining window: a crash inside a batch (after some writes, before
   * the marker) replays that ONE batch, so its pairs — and, if the crash
   * split the two appends, its rows — can land twice.
   *
   * Maintenance cadence: each cycle compacts both tables back to one
   * file per bucket (probe cost stays bounded by bucket count, not
   * uptime) and PHYSICALLY drops tombstoned rows, which probes already
   * hide; the applied ids leave the ledger, so it stays O(pending).
   */
  private def selfUpdating(input: DataFrame, family: StoredIndex,
      pairsDir: String, checkpointDir: String, maintainEvery: Int,
      tombstoneTable: Option[String])(probe: DataFrame => DataFrame,
      afterAbsorb: (DataFrame, Long) => Unit = (_, _) => (),
      afterMaintenance: SparkSession => Unit = _ => ()): StreamingQuery = {
    val absorbed = new AtomicLong(0L)
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > readAbsorbedMarker(spark, checkpointDir)) {
          probe(batch).write.mode("append").parquet(pairsDir)
          family.absorb(batch)
          afterAbsorb(batch, batchId)
          writeAbsorbedMarker(spark, checkpointDir, batchId)
          if (maintainEvery > 0 && absorbed.incrementAndGet() % maintainEvery == 0) {
            family.maintain(spark, tombstoneTable)
            afterMaintenance(spark)
          }
        }
      }
      .start()
  }

  /** The absorb marker's path and file system (Hadoop FS, so the
    * checkpoint can live on hdfs:// or s3a:// like the tables). */
  private def absorbedMarker(spark: SparkSession, checkpointDir: String) = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir,
      "graft_absorbed_batch")
    (marker, marker.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  /** Last-absorbed-batch marker: written AFTER a batch's pairs + absorb
    * complete; a replayed batchId at-or-below it is skipped. Only a
    * missing marker means "nothing absorbed yet"; an unreadable or garbled
    * one fails the batch, since reading it as -1 would re-absorb. */
  private def readAbsorbedMarker(spark: SparkSession,
      checkpointDir: String): Long = {
    val (marker, fs) = absorbedMarker(spark, checkpointDir)
    if (!fs.exists(marker)) -1L
    else scala.util.Using.resource(fs.open(marker))(
      scala.io.Source.fromInputStream(_, "UTF-8").mkString.trim.toLong)
  }

  private def writeAbsorbedMarker(spark: SparkSession,
      checkpointDir: String, batchId: Long): Unit = {
    val (marker, fs) = absorbedMarker(spark, checkpointDir)
    scala.util.Using.resource(fs.create(marker, true))(
      _.write(batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /**
   * The streaming 24/7 crawl loop, CLOSED: each micro-batch of raw HTML
   * pages is extracted ([[extractPages]], a projection on the input
   * stream), probes the stored band index ([[probeStoredIndex]],
   * bucket-pruned), lands its dup pairs in `pairsDir`, and is then
   * absorbed into the stored index + corpus ([[updateStoredIndex]]) — so
   * a page recrawled in a LATER micro-batch is detected against this
   * one. The probe is the stateless q156/q159 plan. Ordering, replay
   * idempotence, corpus-first appends and the `compactEvery` maintenance
   * cycle are the shared skeleton's ([[selfUpdating]]).
   *
   * `tombstoneTable` wires TAKEDOWNS into the loop: every probe
   * anti-joins its candidates against the table ([[recordDeletions]]
   * maintains it), and each maintenance cycle physically drops
   * tombstoned rows from both stored tables at the rewrite.
   */
  def crawlSelfUpdating(pages: DataFrame, indexTable: String,
      corpusTable: String, pairsDir: String, checkpointDir: String,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeKeys: Int = 4096,
      compactEvery: Int = 0, tombstoneTable: Option[String] = None)
      : StreamingQuery =
    selfUpdating(
      extractPages(pages, pageIdCol, htmlCol, corpusIdCol, corpusTextCol),
      bandIndex(indexTable, corpusTable, k, bands, shingleK, corpusIdCol,
        corpusTextCol, indexBuckets, corpusBuckets),
      pairsDir, checkpointDir, compactEvery, tombstoneTable)(
      probeStoredIndex(_, indexTable, corpusTable, threshold, k, bands,
        shingleK, corpusIdCol, corpusTextCol, maxProbeKeys,
        tombstoneTable = tombstoneTable))

  /**
   * The streaming 24/7 SEMANTIC ingest loop, CLOSED —
   * [[crawlSelfUpdating]]'s embedding twin: each micro-batch of vectors
   * probes the stored [[graft.operators.Dedup.signBucketIndex]]
   * ([[probeStoredSemanticIndex]]: bucket-pruned to the batch's
   * own-plus-bit-flip probe buckets, tombstones anti-joined), lands its
   * cosine pairs in `pairsDir`, and is then absorbed into the stored
   * index + corpus — a vector re-ingested in a LATER micro-batch is
   * detected against this one. Same guarantees as every loop
   * ([[selfUpdating]]). The batch path of the SAME probe/absorb step is
   * q172's declared, oracle-gated query ([[semanticIngestProbeThenUpdate]]).
   */
  def semanticSelfUpdating(vectors: DataFrame, indexTable: String,
      corpusTable: String, pairsDir: String, checkpointDir: String,
      tau: Double = 0.3, nPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeBuckets: Int = 4096,
      compactEvery: Int = 0, tombstoneTable: Option[String] = None)
      : StreamingQuery =
    selfUpdating(vectors,
      signIndex(indexTable, corpusTable, nPlanes, idCol, vecCol, indexBuckets,
        corpusBuckets),
      pairsDir, checkpointDir, compactEvery, tombstoneTable)(
      probeStoredSemanticIndex(_, indexTable, corpusTable, tau, nPlanes, idCol,
        vecCol, maxProbeBuckets, tombstoneTable))

  /**
   * The streaming 24/7 ANN ingest loop with DRIFT-TRIGGERED QUANTIZER
   * REFRESH — the integration the round-19 verdict called the
   * self-maintaining index's missing wire: detection
   * ([[graft.operators.Similarity.recordDriftStat]]) and remedy
   * ([[graft.operators.Similarity.refreshResidualIfDrifted]]) existed
   * as stand-alone maintenance ops; this loop calls them on the 24/7
   * cadence, so a stored residual-IVFADC index now heals itself as
   * ingest drifts the corpus distribution away from what its frozen
   * quantizers were trained on.
   *
   * Why THIS loop carries the drift wire and not
   * [[crawlSelfUpdating]]/[[semanticSelfUpdating]]: those loops'
   * stored indexes (MinHash band keys, sign-LSH buckets) are built on
   * DATA-INDEPENDENT hash families — there is no trained quantizer to
   * drift, so their probe quality is distribution-invariant by
   * construction. Frozen-quantizer drift is a property of the TRAINED
   * coarse-cells + PQ-codebooks family; the residual-IVFADC loop is
   * where it exists and therefore where the detection/refresh cycle
   * belongs.
   *
   * The family inside the shared skeleton ([[selfUpdating]]):
   *  1. PROBE: top-k against the stored index, cell-pruned (the 4096
   *     soft valve), ADC shortlist at R, exact cosine re-rank
   *     ([[graft.operators.Similarity.ivfPqTopKRerankFromIndex]]),
   *     routed with the CURRENT quantizers.
   *  2. ABSORB: the index rows are residual-encoded under the current
   *     quantizers (cost ∝ batch).
   *  3. DETECT (after absorb): one shuffle-free encode pass records the
   *     batch's quantization error (`recordDriftStat`, gen = batchId).
   *  4. REFRESH (after each maintenance cycle): healthy stats are a
   *     no-op; a crossed threshold retrains BOTH quantizers on the
   *     stored corpus, re-encodes the index through the crash-safe swap,
   *     restamps the baseline, and ATOMICALLY swaps the loop's quantizer
   *     reference, so steps 1-3 of every later batch use the fresh fits.
   *
   * Returns the started query plus the live quantizer reference — the
   * caller reads it to route its OWN probes (a serving path must
   * follow the same swap) and the spec asserts the swap fired inside
   * the loop. `tombstoneTable` wires TAKEDOWNS in exactly as in the
   * other loops: every probe anti-joins the (already cell-pruned,
   * codes-only) index rows against the ledger, and — ordering that
   * matters for compliance — the maintenance drop runs BEFORE the
   * drift check, so a fired refresh re-encodes from the
   * already-scrubbed corpus and can never resurrect a deleted vector
   * into the fresh index.
   */
  def annSelfUpdating(vectors: DataFrame, indexTable: String,
      corpusTable: String, statTable: String, statPath: String,
      pairsDir: String, checkpointDir: String,
      initCentroids: DataFrame,
      initBooks: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      k: Int = 10, r: Int = 40, nprobe: Int = 2,
      driftFactor: Double = 2.0, kmK: Int = 8, pqM: Int = 8,
      pqKsub: Int = 16, fitIters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeCells: Int = 4096,
      maintainEvery: Int = 0, tombstoneTable: Option[String] = None)
      : (StreamingQuery,
         AtomicReference[(DataFrame, IndexedSeq[IndexedSeq[(Int, Array[Double])]])]) = {
    val quant = new AtomicReference((initCentroids, initBooks))
    // Drift-baseline seeding (ADVICE r20): the refresh compares the
    // OLDEST stat row to the newest, so without a baseline the first
    // ingest batch would become it and drift from the seed corpus's
    // training distribution would be undetectable. With no stat table
    // yet, record the seed corpus's error under the initial quantizers at
    // gen -1 (below every batchId); a pre-seeded table is left untouched.
    // An empty seed corpus records nothing: an n = 0 baseline would read
    // 0 > 0 forever, so the first absorbed batch becomes the baseline.
    val spark0 = vectors.sparkSession
    if (!spark0.catalog.tableExists(statTable)) {
      val (n0, err0) = Similarity.quantizationError(Similarity.ivfResiduals(
        Storage.readTable(spark0, corpusTable), initCentroids, idCol, vecCol),
        initBooks, idCol)
      if (n0 > 0)
        Similarity.recordDriftStat(spark0, statTable, statPath, -1L, n0, err0)
    }
    val family = StoredIndex(indexTable, "cell_id", indexBuckets, idCol,
      corpusTable, idCol, vecCol, corpusBuckets, { batch =>
        val (cents, books) = quant.get()
        Similarity.ivfPqIndexResidual(batch, cents, books, idCol, vecCol)
      })
    val query = selfUpdating(vectors, family, pairsDir, checkpointDir,
      maintainEvery, tombstoneTable)(
      probe = { batch =>
        val spark = batch.sparkSession
        val (cents, books) = quant.get()
        val q = batch.select(col(idCol).as("query_id"), col(vecCol).as(vecCol))
        val probes = Similarity.ivfPqResidualProbes(q, cents, nprobe,
          vecCol = vecCol)
        val cells = Storage.pinAndPrune[Int](probes.select("cell_id").distinct(),
          "cell_id", Storage.readTable(spark, indexTable), "cell_id",
          maxProbeCells, "distinct probe cells")._2
        // Self-exclusion BEFORE ranking (ADVICE r20): on an
        // at-least-once replay (crash between the index append and the
        // marker write) the batch's own vectors are already indexed —
        // if they reach the ranking, rank 1 is the self match and a
        // consumer reading rank === 1 silently gets k-1 real
        // neighbors. Anti-join the batch's ids out of the pruned index
        // (broadcast, O(batch)) so ranks are computed over true
        // neighbors only; in a normal run the batch is not yet indexed
        // and this is a no-op. The post-rank self filter below stays
        // as defense in depth.
        val prunedNoSelf = dropTombstoned(cells, spark, tombstoneTable, idCol,
            relCol = idCol)
          .join(broadcast(batch.select(col(idCol).as("__self_id"))),
            col(idCol) === col("__self_id"), "left_anti")
        Similarity.ivfPqTopKRerankFromIndex(prunedNoSelf, probes, q,
          Storage.readTable(spark, corpusTable), books, k, r, idCol, vecCol)
          .filter(col("query_id") =!= col(idCol)) // self after absorb-replay
      },
      afterAbsorb = { (batch, batchId) =>
        val (cents, books) = quant.get()
        val (n, err) = Similarity.quantizationError(
          Similarity.ivfResiduals(batch, cents, idCol, vecCol), books, idCol)
        Similarity.recordDriftStat(batch.sparkSession, statTable, statPath,
          batchId, n, err)
      },
      afterMaintenance = { spark =>
        Similarity.refreshResidualIfDrifted(spark,
          Storage.readTable(spark, corpusTable), indexTable, statTable,
          statPath, driftFactor, kmK, pqM, pqKsub, fitIters,
          indexBuckets, idCol, vecCol)
          .foreach(fresh => quant.set(fresh))
      })
    (query, quant)
  }
}
