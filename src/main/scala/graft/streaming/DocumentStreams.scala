package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

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
      graft.operators.Dedup.signBucketIndex(corpus, nPlanes, idCol, vecCol),
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
    import graft.operators.Dedup
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
      .withColumn("cos", graft.operators.Dedup.halfUp4Signed(
        graft.tensor.cosine(col("v_b"), col("__vc0").cast("array<double>"))))
      .filter(col("cos") >= tau)
      .select("batch_id", "dup_id", "cos")

  /** The driver-pinning step of both stored-index probes: collect `rows`,
    * hold them as a local relation, and prune `target` to the distinct
    * `rowKey` values they carry — an `isin` on `targetKey` that the
    * target table's bucket spec turns into physical bucket pruning.
    * Valve: above `cap` rows, `rows` stays lazy and `target` unpruned
    * ([[graft.sources.Storage.collectWithinCap]] logs the trip). */
  private def pinAndPrune(rows: DataFrame, rowKey: String, target: DataFrame,
      targetKey: String, cap: Int, table: String,
      what: String): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    graft.sources.Storage.collectWithinCap(rows, cap, table, what)
      .fold((rows, target)) { got =>
        val keys = got.map(_.getAs[Long](rowKey)).distinct
        (rows.sparkSession.createDataFrame(got.toSeq.asJava, rows.schema),
          target.filter(col(targetKey).isin(
            keys.map(java.lang.Long.valueOf).toIndexedSeq: _*)))
      }
  }

  /**
   * The self-updating loop for EMBEDDINGS — [[ingestProbeThenUpdate]]'s
   * semantic twin: probe the stored [[graft.operators.Dedup.signBucketIndex]]
   * (pruned to the batch's probe buckets — own bucket + single-bit
   * flips — pushed as an isin literal the pb-bucketed table turns into
   * physical bucket pruning; soft-valved), emit `(batch_id, dup_id,
   * cos)` pairs, then absorb the batch: its bucket rows append under
   * the index's spec, its `(id, vector)` rows under the corpus's. The
   * pairs are materialized before the append, so the returned relation
   * can never see the batch's own index rows.
   */
  def semanticIngestProbeThenUpdate(batch: DataFrame, indexTable: String,
      corpusTable: String, tau: Double = 0.3, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      indexBuckets: Int = 8, corpusBuckets: Int = 8,
      maxProbeBuckets: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame = {
    val pairs = probeStoredSemanticIndex(batch, indexTable, corpusTable,
      tau, nPlanes, idCol, vecCol, maxProbeBuckets, tombstoneTable)
      .localCheckpoint(true)
    updateStoredSemanticIndex(batch, indexTable, corpusTable, nPlanes,
      idCol, vecCol, indexBuckets, corpusBuckets)
    pairs
  }

  /** The read half of the semantic self-updating loop: probe the stored
    * [[graft.operators.Dedup.signBucketIndex]] table (pruned to the
    * batch's probe buckets; tombstones anti-joined) and cosine-verify the
    * candidates against the stored vector corpus.
    *
    * Job budget: the batch's probe rows are computed once, in one job, and
    * held on the driver as a local relation (soft valve: above
    * `maxProbeBuckets` rows they stay lazy and the index is read
    * unpruned, with a WARN); the `pb` keys of the pruned scan come from
    * those rows. The returned plan stays LAZY: sign-LSH candidate sets
    * are large, so they are verified where they are joined, by whatever
    * action the caller runs. */
  def probeStoredSemanticIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, tau: Double = 0.3, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxProbeBuckets: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame = {
    import graft.sources.Storage
    val spark = batch.sparkSession
    val (probe, index) = pinAndPrune(
      signProbeRows(batch, nPlanes, idCol, vecCol), "pb",
      Storage.readTable(spark, indexTable), "pb", maxProbeBuckets, indexTable,
      "probe rows")
    cosineVerify(probe, dropTombstoned(index, spark, tombstoneTable),
      Storage.readTable(spark, corpusTable), tau, idCol, vecCol)
  }

  /** The write half: absorb the batch into the stored sign-LSH index +
    * vector corpus. Corpus FIRST (same failure-atomicity argument as
    * [[updateStoredIndex]]: a corpus-only half-absorb is inert; an
    * index-only one silently drops candidates at the verify join). */
  def updateStoredSemanticIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, nPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", indexBuckets: Int = 8,
      corpusBuckets: Int = 8): Unit = {
    import graft.operators.Dedup
    import graft.sources.Storage
    Storage.appendBucketed(batch.select(col(idCol), col(vecCol)),
      corpusTable, bucketCol = idCol, buckets = corpusBuckets)
    Storage.appendBucketed(Dedup.signBucketIndex(batch, nPlanes, idCol, vecCol),
      indexTable, bucketCol = "pb", buckets = indexBuckets)
  }

  def nearDupAgainstCorpus(docs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    nearDupAgainstIndex(docs,
      graft.operators.Dedup.lshBandIndex(corpus, k, bands, shingleK,
        idCol, textCol),
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
      shingleK: Int, idCol: String, textCol: String): DataFrame = {
    import graft.operators.Dedup
    docs.select(col(idCol).as("batch_id"),
        TextAnalysis.shingleHashes(col(textCol), shingleK).as("set_b"),
        Dedup.lshBandKeys(
          Dedup.minhashSignature(col(textCol), k, shingleK), k, bands)
          .as("kb"))
      .select(col("batch_id"), col("set_b"), col("kb"),
        posexplode(col("kb")).as(Seq("band", "key")))
  }

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

  /**
   * Streaming CRAWL ingest — the 24/7 front door of a crawl pipeline:
   * raw HTML pages arrive as a stream, text extraction
   * ([[graft.operators.Html.text]] — comment/script/style removal,
   * block segmentation, entity decode) runs as a STATELESS codegen
   * projection on each micro-batch, and the extracted text probes the
   * EXISTING corpus's MinHash-LSH band index via
   * [[nearDupAgainstCorpus]]'s stream-static join. Emits one
   * `(batch_id, dup_id, jaccard)` row per detected re-crawl /
   * already-have-it page, in append mode.
   *
   * Everything in the plan is streaming-stateless (no watermark, no
   * state store): extraction is a projection, candidate emission is
   * first-shared-band, the verify is an inline join. State between
   * batches: zero — the corpus index is the static side: either re-read
   * ([[nearDupAgainstCorpus]], this form) or, in production, the
   * PERSISTED [[graft.operators.Dedup.lshBandIndex]] table bucketed by
   * band key ([[crawlNearDupAgainstIndex]]) so each micro-batch reads
   * the stored index instead of re-deriving every corpus signature.
   */
  def crawlNearDupAgainstCorpus(pages: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text"): DataFrame = {
    val extracted = pages.select(col(pageIdCol).as(corpusIdCol),
      graft.operators.Html.text(col(htmlCol)).as(corpusTextCol))
    nearDupAgainstCorpus(extracted, corpus, threshold, k, bands, shingleK,
      idCol = corpusIdCol, textCol = corpusTextCol)
  }

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
    import graft.sources.Storage
    val spark = ids.sparkSession
    if (spark.catalog.tableExists(tombstoneTable))
      Storage.appendBucketed(ids.select(col(idCol)), tombstoneTable,
        bucketCol = idCol, buckets = buckets)
    else
      Storage.writeBucketed(ids.select(col(idCol)), tombstoneTable, path,
        bucketCol = idCol, buckets = buckets)
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
   * Race-safety with concurrent external takedowns (a compliance
   * process records deletions by definition outside the loop): the
   * ledger is SNAPSHOTTED once (eager localCheckpoint) before any
   * rewrite — the same snapshot both drives every table's `dropIds` and
   * bounds the ledger prune's anti-join, so an id recorded DURING the
   * cycle is neither half-applied nor pruned; it survives to the next
   * cycle's snapshot. The ledger prune reuses [[graft.sources.Storage
   * .rewriteInPlace]]'s crash-safe swap (a crash re-prunes ids that are
   * already gone from the tables — idempotent).
   */
  def runMaintenance(spark: org.apache.spark.sql.SparkSession,
      tombstoneTable: Option[String],
      tables: Seq[(String, String, Int, String)],
      tombstoneIdCol: String = "doc_id", tombstoneBuckets: Int = 8): Unit = {
    import graft.sources.Storage
    val ledger = tombstoneTable.filter(spark.catalog.tableExists)
    val snap = ledger.map { t =>
      spark.catalog.refreshTable(t)
      Storage.readTable(spark, t).localCheckpoint(true)
    }
    tables.foreach { case (tbl, bucketCol, buckets, dropCol) =>
      Storage.compactBuckets(spark, tbl, bucketCol, buckets,
        dropIds = snap.map((_, dropCol)))
    }
    ledger.zip(snap).foreach { case (t, sn) =>
      Storage.rewriteInPlace(spark, t, tombstoneIdCol, tombstoneBuckets) {
        live =>
          // id column selected EXPLICITLY (not positional toDF) — same
          // wider-ledger contract as Storage.snapshotAsOf (ADVICE r18)
          live.join(broadcast(sn.select(
              col(tombstoneIdCol).as("__applied_id"))),
            col(tombstoneIdCol) === col("__applied_id"), "left_anti")
      }
    }
  }

  /** Anti-join an index/candidate relation's `dup_id` against the stored
    * tombstone table (no-op when none is configured). Applied to the
    * (already bucket-pruned, narrow) index rows BEFORE the verify join,
    * so a tombstoned candidate never costs a corpus text read — and the
    * candidate-id corpus prune then excludes it from the isin literal
    * too. The tombstone side broadcasts: takedown lists are tiny
    * relative to any corpus worth indexing.
    *
    * The table is refreshed before every read: takedowns are recorded
    * by EXTERNAL sessions by definition (a compliance process, not the
    * loop), and a stale cached file listing would silently serve
    * pre-deletion candidates — e.g. a 24/7 crawl's cloned streaming
    * session would otherwise pin the ledger's state at stream start
    * forever. Metadata-only, O(1) vs any probe.
    *
    * A configured-but-MISSING table reads as an empty ledger: the ledger
    * is created by the first takedown ([[recordDeletions]]), so a loop
    * that has never seen one skips the read entirely instead of paying
    * an empty table's write + scan up front. */
  private def dropTombstoned(rel: DataFrame, spark: org.apache.spark.sql.SparkSession,
      tombstoneTable: Option[String], idCol: String = "dup_id"): DataFrame =
    tombstoneTable.filter(spark.catalog.tableExists).fold(rel) { t =>
      spark.catalog.refreshTable(t)
      rel.join(broadcast(graft.sources.Storage.readTable(spark, t)
        .toDF("__ts_id")), col(idCol) === col("__ts_id"), "left_anti")
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
   * are computed once, in one job, and held on the driver as a local
   * relation; the index's `isin` keys come from them (soft valve: above
   * `maxProbeKeys` rows they stay lazy and the index is read unpruned,
   * with a WARN). With `pruneCorpusByCandidates` the bucket-pruned,
   * tombstone-filtered index is scanned ONCE, by the job that collects
   * the candidate `(batch_id, set_b, dup_id)` rows; the returned plan
   * verifies those local rows against the candidate-pruned corpus and
   * never re-reads the index. Without it the returned plan stays lazy
   * over the pruned index.
   */
  def probeStoredIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxProbeKeys: Int = 4096,
      pruneCorpusByCandidates: Boolean = false,
      maxCandidateIds: Int = 4096,
      tombstoneTable: Option[String] = None): DataFrame = {
    import graft.sources.Storage
    val spark = batch.sparkSession
    val (probe, index) = pinAndPrune(
      bandProbeRows(batch, k, bands, shingleK, idCol, textCol), "key",
      Storage.readTable(spark, indexTable), "key", maxProbeKeys, indexTable,
      "probe rows")
    val candidates = bandCandidates(probe,
      dropTombstoned(index, spark, tombstoneTable))
    // The verify side reads the stored corpus for the candidates' exact
    // shingle sets. With `pruneCorpusByCandidates` the candidate rows are
    // collected (few by construction) and their ids reach the corpus
    // scan as an `isin` literal, which the doc_id-bucketed corpus table
    // turns into physical BUCKET PRUNING: per batch, only the buckets
    // holding candidate documents are opened instead of the whole stored
    // corpus. At 100 TB the corpus text scan is the verify's dominant
    // cost, so this is the read-side lever; semantically a no-op (rows
    // outside candidate ids can never survive the verify equi-join).
    // Soft valve: above `maxCandidateIds` rows the candidates stay lazy
    // and the corpus unpruned — a batch with that many collisions
    // touches most buckets anyway.
    val corpus0 = Storage.readTable(spark, corpusTable)
    val (verified, corpus) =
      if (!pruneCorpusByCandidates) (candidates, corpus0)
      else pinAndPrune(candidates, "dup_id", corpus0, idCol, maxCandidateIds,
        corpusTable, "candidate rows")
    jaccardVerify(verified, corpus, threshold, shingleK, idCol, textCol)
  }

  /**
   * Absorb one ingest batch INTO the stored corpus — the write half of
   * the self-updating loop: the batch's own band rows append bucketed
   * under the index table's spec ([[graft.sources.Storage.appendBucketed]])
   * and its `(idCol, textCol)` rows under the corpus table's, so the
   * NEXT batch's probe sees this batch as corpus. Per-batch cost ∝
   * batch size (the existing index files are never rewritten); probes
   * keep bucket-pruning across append generations (StorageSpec).
   *
   * Append ORDER matters for failure atomicity: the corpus text rows
   * land FIRST. The two appends are not a transaction; if the second
   * fails, a corpus-first half-absorbed batch is inert (extra corpus
   * rows are only ever read through a candidate's `dup_id` join, and
   * with no index rows the batch can never be a candidate — it reads as
   * "not yet absorbed"). The reverse order would leave index rows whose
   * corpus text is missing, and the verify join would silently DROP
   * those candidates — false-negative duplicates forever.
   */
  def updateStoredIndex(batch: DataFrame, indexTable: String,
      corpusTable: String, k: Int = 16, bands: Int = 4, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      indexBuckets: Int = 8, corpusBuckets: Int = 8): Unit = {
    import graft.operators.Dedup
    import graft.sources.Storage
    Storage.appendBucketed(batch.select(col(idCol), col(textCol)),
      corpusTable, bucketCol = idCol, buckets = corpusBuckets)
    Storage.appendBucketed(
      Dedup.lshBandIndex(batch, k, bands, shingleK, idCol, textCol),
      indexTable, bucketCol = "key", buckets = indexBuckets)
  }

  /**
   * One step of the SELF-UPDATING ingest loop — probe, then absorb:
   * emit the batch's dup pairs against everything ingested so far, then
   * fold the batch into the stored index + corpus so the next batch
   * probes it too. This is the 24/7 operating shape q159 (static probe)
   * and q162 (append) each carry half of.
   *
   * The emitted pairs are MATERIALIZED (eager `localCheckpoint`) before
   * the append — the probe plan is lazy, so without the barrier a
   * consumer evaluating the returned relation after the append would
   * read the batch's own index rows and report every document as its
   * own duplicate. (The streaming form gets the same ordering for free:
   * [[crawlSelfUpdating]] writes the pairs to the sink before
   * appending.)
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
      tombstoneTable: Option[String] = None): DataFrame = {
    val pairs = probeStoredIndex(batch, indexTable, corpusTable, threshold,
      k, bands, shingleK, idCol, textCol, maxProbeKeys,
      pruneCorpusByCandidates, tombstoneTable = tombstoneTable)
      .localCheckpoint(true)
    updateStoredIndex(batch, indexTable, corpusTable, k, bands, shingleK,
      idCol, textCol, indexBuckets, corpusBuckets)
    pairs
  }

  /**
   * The streaming 24/7 crawl loop, CLOSED: each micro-batch of raw HTML
   * pages is extracted ([[graft.operators.Html.text]]), probes the
   * stored band index (bucket-pruned), lands its dup pairs in
   * `pairsDir`, and is then absorbed into the stored index + corpus —
   * so a page recrawled in a LATER micro-batch is detected against this
   * one. `foreachBatch` gives the ordering guarantee the loop needs
   * (pairs written before the index absorbs the batch); the probe
   * itself is the stateless q156/q159 plan, so there is still no
   * watermark and no state store — all cross-batch memory lives in the
   * two stored tables.
   *
   * Replay idempotence: `foreachBatch` is AT-LEAST-ONCE (a batch whose
   * epoch commit was lost replays on restart with the same batchId),
   * and neither the pairs append nor the table absorb is naturally
   * idempotent — a naive replay would permanently duplicate the batch's
   * index rows, doubling every future probe's pairs for those docs. The
   * loop therefore records the last fully-absorbed batchId in a marker
   * file under `checkpointDir` and SKIPS replays of completed batches.
   * Remaining window, documented honestly: a crash inside a batch
   * (after some writes, before the marker) replays that ONE batch, so
   * its pairs — and, if the crash split the two appends, its corpus/
   * index rows — can land twice; bounded to a single batch per crash,
   * vs. unbounded duplication without the marker. (The appends
   * themselves order corpus-first so a split absorb degrades to "not
   * yet absorbed", never to silent candidate loss — see
   * [[updateStoredIndex]].)
   *
   * `tombstoneTable` wires TAKEDOWNS into the loop: every probe
   * anti-joins its candidates against the table ([[recordDeletions]]
   * maintains it), and each `compactEvery` maintenance cycle physically
   * drops tombstoned rows from both stored tables at the rewrite.
   *
   * Returns the started query; stop it to end the crawl.
   */
  def crawlSelfUpdating(pages: DataFrame, indexTable: String,
      corpusTable: String, pairsDir: String, checkpointDir: String,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeKeys: Int = 4096,
      compactEvery: Int = 0, tombstoneTable: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // `compactEvery = n > 0` folds the MAINTENANCE half of the 24/7 loop
    // in: after every n-th absorbed batch, both stored tables rewrite to
    // one file per bucket (Storage.compactBuckets), periodically
    // resetting the file count the append loop grows linearly — probe
    // cost stays bounded by bucket count, not uptime. foreachBatch is
    // serial per query, so no probe ever races the swap.
    val absorbed = new java.util.concurrent.atomic.AtomicLong(0L)
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > readAbsorbedMarker(spark, checkpointDir)) {
          val extracted = batch.select(col(pageIdCol).as(corpusIdCol),
            graft.operators.Html.text(col(htmlCol)).as(corpusTextCol))
          probeStoredIndex(extracted, indexTable, corpusTable, threshold,
            k, bands, shingleK, corpusIdCol, corpusTextCol, maxProbeKeys,
            tombstoneTable = tombstoneTable)
            .write.mode("append").parquet(pairsDir)
          updateStoredIndex(extracted, indexTable, corpusTable, k, bands,
            shingleK, corpusIdCol, corpusTextCol, indexBuckets, corpusBuckets)
          writeAbsorbedMarker(spark, checkpointDir, batchId)
          if (compactEvery > 0 && absorbed.incrementAndGet() % compactEvery == 0)
            // compaction PHYSICALLY drops tombstoned rows (LSM delete):
            // probes already hide them via the anti-join above, so the
            // swap changes no probe result — it reclaims the bytes; the
            // applied ids are then pruned from the ledger itself, so the
            // probes' broadcast stays O(pending), not O(lifetime)
            runMaintenance(spark, tombstoneTable, Seq(
              (indexTable, "key", indexBuckets, "dup_id"),
              (corpusTable, corpusIdCol, corpusBuckets, corpusIdCol)),
              tombstoneIdCol = corpusIdCol)
        }
      }
      .start()
  }

  /** Last-absorbed-batch marker (Hadoop FS, so the checkpoint can live
    * on hdfs://s3a:// like the tables): written AFTER a batch's pairs +
    * absorb complete; a replayed batchId at-or-below it is skipped. Only a
    * missing marker means "nothing absorbed yet"; an unreadable or garbled
    * one fails the batch, since reading it as -1 would re-absorb. */
  private def readAbsorbedMarker(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): Long = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir,
      "graft_absorbed_batch")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) -1L
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeAbsorbedMarker(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String, batchId: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir,
      "graft_absorbed_batch")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(marker, true)
    try out.write(batchId.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /**
   * The streaming 24/7 SEMANTIC ingest loop, CLOSED —
   * [[crawlSelfUpdating]]'s embedding twin: each micro-batch of vectors
   * probes the stored [[graft.operators.Dedup.signBucketIndex]]
   * (bucket-pruned to the batch's own-plus-bit-flip probe buckets,
   * tombstones anti-joined), lands its cosine pairs in `pairsDir`, and
   * is then absorbed into the stored index + corpus — a vector
   * re-ingested in a LATER micro-batch is detected against this one.
   * Same guarantees as the crawl loop, for the same reasons: stateless
   * plan (cross-batch memory lives in the two stored tables),
   * pairs-before-absorb ordering inside `foreachBatch`, replay
   * idempotence via the absorbed-batch marker (one-batch window on a
   * mid-batch crash, documented at [[crawlSelfUpdating]]), corpus-first
   * appends, and `compactEvery`-cycle maintenance that physically drops
   * tombstoned rows. The batch path of the SAME probe/absorb step is
   * q172's declared, oracle-gated query ([[semanticIngestProbeThenUpdate]]).
   *
   * Returns the started query; stop it to end the ingest.
   */
  def semanticSelfUpdating(vectors: DataFrame, indexTable: String,
      corpusTable: String, pairsDir: String, checkpointDir: String,
      tau: Double = 0.3, nPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", indexBuckets: Int = 8,
      corpusBuckets: Int = 8, maxProbeBuckets: Int = 4096,
      compactEvery: Int = 0, tombstoneTable: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val absorbed = new java.util.concurrent.atomic.AtomicLong(0L)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > readAbsorbedMarker(spark, checkpointDir)) {
          probeStoredSemanticIndex(batch, indexTable, corpusTable, tau,
            nPlanes, idCol, vecCol, maxProbeBuckets, tombstoneTable)
            .write.mode("append").parquet(pairsDir)
          updateStoredSemanticIndex(batch, indexTable, corpusTable,
            nPlanes, idCol, vecCol, indexBuckets, corpusBuckets)
          writeAbsorbedMarker(spark, checkpointDir, batchId)
          if (compactEvery > 0 && absorbed.incrementAndGet() % compactEvery == 0)
            runMaintenance(spark, tombstoneTable, Seq(
              (indexTable, "pb", indexBuckets, "dup_id"),
              (corpusTable, idCol, corpusBuckets, idCol)),
              tombstoneIdCol = idCol)
        }
      }
      .start()
  }

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
   * Per micro-batch (same marker-gated at-least-once handling, same
   * pairs-before-absorb ordering, same corpus-first append atomicity
   * as the other loops):
   *  1. PROBE: the batch's vectors top-k against the stored index —
   *     cell-pruned isin (the 4096 soft valve), per-cell query
   *     residuals, bounded-aggregate ADC shortlist at R, exact cosine
   *     re-rank ([[graft.operators.Similarity.ivfPqResidualTopKRerankFromIndex]]),
   *     routed with the CURRENT quantizers — pairs land in `pairsDir`.
   *  2. ABSORB: `(id, vector)` rows append under the corpus table's
   *     spec FIRST, then the batch's residual-encoded rows under the
   *     index's (cost ∝ batch, frozen-quantizer encode).
   *  3. DETECT: one extra shuffle-free encode pass records the batch's
   *     quantization error under the current quantizers
   *     (`recordDriftStat`, gen = batchId) — the statistic that grows
   *     when ingest leaves the training distribution.
   *  4. Every `maintainEvery` absorbed batches, the threshold check
   *     runs: healthy stats are a cheap no-op; a crossed threshold
   *     retrains BOTH quantizers on the current stored corpus,
   *     re-encodes the index through the crash-safe swap, restamps the
   *     stat baseline, and ATOMICALLY swaps the loop's own quantizer
   *     reference — step 1 of every subsequent batch routes with the
   *     fresh fits, which is the "probes MUST switch" contract the
   *     stand-alone refresh documents. The corpus table compacts on
   *     the same cadence (the refresh rewrite already leaves the index
   *     at one file per bucket).
   *
   * Returns the started query plus the live quantizer reference — the
   * caller reads it to route its OWN probes (a serving path must
   * follow the same swap) and the spec asserts the swap fired inside
   * the loop. `tombstoneTable` wires TAKEDOWNS in exactly as in the
   * other loops: every probe anti-joins the (already cell-pruned,
   * codes-only) index rows against the ledger, the maintenance cycle
   * physically drops tombstoned rows from BOTH stored tables and
   * prunes the ledger ([[runMaintenance]]), and — ordering that
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
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.atomic.AtomicReference[
           (DataFrame, IndexedSeq[IndexedSeq[(Int, Array[Double])]])]) = {
    import graft.operators.Similarity
    import graft.sources.Storage
    val quant = new java.util.concurrent.atomic.AtomicReference(
      (initCentroids, initBooks))
    val absorbed = new java.util.concurrent.atomic.AtomicLong(0L)
    // Drift-baseline seeding (ADVICE r20): refreshResidualIfDrifted
    // compares the OLDEST stat row to the newest, and the loop only
    // records per-batch stats — without a pre-recorded baseline the first
    // ingest batch becomes the baseline, so drift relative to the seed
    // corpus's training distribution is undetectable (and a drifted first
    // batch poisons the comparison forever). If no stat table exists yet,
    // record the seed corpus's residual quantization error under the
    // initial quantizers at gen -1 (below every batchId, so it stays the
    // oldest row). Callers that pre-seed (the documented precondition)
    // are untouched: the table exists and this is skipped.
    locally {
      val spark0 = vectors.sparkSession
      if (!spark0.catalog.tableExists(statTable)) {
        val seed = Storage.readTable(spark0, corpusTable)
        val (n0, err0) = Similarity.residualQuantizationError(seed,
          initCentroids, initBooks, idCol, vecCol)
        Similarity.recordDriftStat(spark0, statTable, statPath, -1L, n0, err0)
      }
    }
    val query = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > readAbsorbedMarker(spark, checkpointDir)) {
          val (cents, books) = quant.get()
          val q = batch.select(col(idCol).as("query_id"),
            col(vecCol).as(vecCol))
          val probes = Similarity.ivfPqResidualProbesAgg(q, cents, nprobe,
            vecCol = vecCol)
          val cells = Storage.collectWithinCap(probes.select("cell_id").distinct(),
            maxProbeCells, indexTable, "distinct probe cells")
          val index0 = Storage.readTable(spark, indexTable)
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
          val prunedNoSelf = dropTombstoned(
            cells.fold(index0)(cs => index0.filter(col("cell_id").isin(
              cs.map(r => Integer.valueOf(r.getInt(0))).toIndexedSeq: _*))),
            spark, tombstoneTable, idCol)
            .join(broadcast(batch.select(col(idCol).as("__self_id"))),
              col(idCol) === col("__self_id"), "left_anti")
          Similarity.ivfPqResidualTopKRerankFromIndex(prunedNoSelf, probes, q,
            Storage.readTable(spark, corpusTable), books, k, r,
            idCol, vecCol)
            .filter(col("query_id") =!= col(idCol)) // self after absorb-replay
            .write.mode("append").parquet(pairsDir)
          Storage.appendBucketed(batch.select(col(idCol), col(vecCol)),
            corpusTable, bucketCol = idCol, buckets = corpusBuckets)
          Storage.appendBucketed(
            Similarity.ivfPqIndexResidual(batch, cents, books, idCol, vecCol),
            indexTable, bucketCol = "cell_id", buckets = indexBuckets)
          val (n, err) = Similarity.residualQuantizationError(batch, cents,
            books, idCol, vecCol)
          Similarity.recordDriftStat(spark, statTable, statPath, batchId,
            n, err)
          writeAbsorbedMarker(spark, checkpointDir, batchId)
          if (maintainEvery > 0 &&
              absorbed.incrementAndGet() % maintainEvery == 0) {
            // takedowns apply PHYSICALLY first (both tables compact with
            // the ledger's drops; the ledger itself prunes) so the drift
            // refresh below — which retrains and re-encodes from the
            // CURRENT corpus table — can never re-encode a deleted
            // vector into the fresh index
            runMaintenance(spark, tombstoneTable, Seq(
              (indexTable, "cell_id", indexBuckets, idCol),
              (corpusTable, idCol, corpusBuckets, idCol)),
              tombstoneIdCol = idCol)
            Similarity.refreshResidualIfDrifted(spark,
              Storage.readTable(spark, corpusTable), indexTable, statTable,
              statPath, driftFactor, kmK, pqM, pqKsub, fitIters,
              indexBuckets, idCol, vecCol)
              .foreach(fresh => quant.set(fresh))
          }
        }
      }
      .start()
    (query, quant)
  }

  /** [[crawlNearDupAgainstCorpus]] probing a pre-built (typically
    * persisted, bucketed-by-`key`) band-index relation — the 24/7 crawl
    * operating form: the static side of the stream-static join is a
    * stored-table read, not a per-micro-batch corpus recompute. */
  def crawlNearDupAgainstIndex(pages: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, pageIdCol: String = "page_id",
      htmlCol: String = "html", corpusIdCol: String = "doc_id",
      corpusTextCol: String = "text"): DataFrame = {
    val extracted = pages.select(col(pageIdCol).as(corpusIdCol),
      graft.operators.Html.text(col(htmlCol)).as(corpusTextCol))
    nearDupAgainstIndex(extracted, index, corpus, threshold, k, bands,
      shingleK, idCol = corpusIdCol, textCol = corpusTextCol)
  }
}
