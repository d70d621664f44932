package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextAnalysis.{HashP, shingleHashes}

/**
 * Deduplication for large-scale training-data pipelines. Five detectors,
 * all shuffle-frugal and driver-free:
 *
 *  - exact:       one groupBy on the full text (or its hash at scale)
 *  - minhash+LSH: shingle → k minhashes → b bands → bucket equi-join
 *  - simhash:     32-bit weighted bit-vote fingerprint, banded for radius
 *  - ngram jaccard: exact verify over LSH candidates (no all-pairs scan)
 *  - embedding:   cosine near-dup via sign-LSH buckets + residual check
 *
 * Hashes use the engine-portable polynomial core (see TextAnalysis), so
 * every stage is reproducible in plain SQL for differential testing.
 */
object Dedup {

  // ---- exact dedup (hash-groupBy) ----

  /**
   * Exact duplicate groups: one row per distinct text with >1 occurrence;
   * `keep_id` = smallest doc id (the canonical survivor), `dup_ids` the
   * rest. One shuffle; at 100 TB group on a hash of the text instead of
   * the text itself to keep shuffle rows narrow (`byHash = true`).
   */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", byHash: Boolean = true): DataFrame = {
    val key = if (byHash) md5(col(textCol)) else col(textCol)
    docs.groupBy(key.as("text_key"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n"),
        sort_array(collect_list(col(idCol))).as("all_ids"))
      .filter(col("n") > 1)
      .withColumn("dup_ids", expr("slice(all_ids, 2, cast(n - 1 as int))"))
      .drop("all_ids")
  }

  /**
   * Exact duplicates as (keep_id, dup_id) PAIRS — the scale-safe shape:
   * no per-group array, so boilerplate texts duplicated millions of times
   * (common at 100 TB) can't OOM an executor the way `collect_list` in
   * [[exactDupGroups]] can. Two shuffles on the text key, narrow rows.
   */
  def exactDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", byHash: Boolean = true): DataFrame = {
    val key = if (byHash) md5(col(textCol)) else col(textCol)
    val keyed = docs.select(key.as("text_key"), col(idCol).as("id"))
    val keeps = keyed.groupBy("text_key")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    keyed.join(keeps, "text_key")
      .filter(col("id") =!= col("keep_id"))
      .select(col("keep_id"), col("id").as("dup_id"))
  }

  // ---- minhash + LSH ----

  /** Deterministic hash-family parameters: (a_i, b_i) odd/prime-ish,
    * small enough that a*h never overflows a long. */
  def hashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3L, 10007L * (i + 1)))

  /** Half-up 4dp stabilization without BigDecimal `round`: the engine and
    * the DuckDB oracles compute the IDENTICAL floor(x·1e4 + 0.5) double
    * expression, so a rational sitting exactly on a decimal boundary
    * (p/q with q | 2·10⁴ — common for set-overlap ratios) can never
    * round differently across engines (the q87 1-ulp class), and the
    * projection stays inside whole-stage codegen. Valid for x ≥ 0. */
  private def halfUp4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4

  /** Sign-aware [[halfUp4]] (half away from zero) for cosine, which can
    * be negative. Mirrored verbatim in the q17/q98 oracles. */
  private[graft] def halfUp4Signed(c: Column): Column =
    (when(c >= 0, floor(c * 1e4 + 0.5))
      .otherwise(-floor(-c * 1e4 + 0.5))) / 1e4

  /**
   * MinHash signature (array<long>, length k) over word `shingleK`-gram
   * shingles. One fused JVM pass over the shingle-hash set per row — the
   * equivalent expression tree re-evaluates the shingle set k times in
   * interpreted higher-order functions (~50x slower measured at sf0.1).
   * Arithmetic is engine-portable; the oracle mirrors it in SQL.
   */
  def minhashSignature(text: Column, k: Int = 16, shingleK: Int = 3): Column =
    org.apache.spark.sql.graft.WordShingles.minhash(
      shingleHashes(text, shingleK), k)

  /** UDF form of [[minhashSignature]] — parity reference for
    * WordShinglesParitySpec. */
  private[graft] def minhashSignatureUdfForm(text: Column, k: Int = 16,
      shingleK: Int = 3): Column = {
    val params = hashParams(k).toArray
    val sigUdf = udf((hs: Seq[Long]) => Option(hs).map(_ => // null in → null out
      params.map { case (a, b) =>
        var m = Long.MaxValue
        hs.foreach { h => val v = (h * a + b) % HashP; if (v < m) m = v }
        m
      }.toSeq))
    sigUdf(TextAnalysis.shingleHashesUdfForm(text, shingleK))
  }

  /**
   * LSH band keys: the signature split into `bands` contiguous bands of
   * `k/bands` rows each, each band hashed to one long. Docs sharing any
   * band key are candidate duplicates.
   */
  def lshBandKeys(sig: Column, k: Int = 16, bands: Int = 4): Column =
    // Native single-evaluation form (round-22): the aggregate-array form
    // below re-references `sig` once per band, which re-evaluated the
    // whole minhash chain `bands` times per row in codegen contexts
    // without subexpression elimination (Generate input, Filter
    // predicates). Value-identical (WordShinglesParitySpec pins it).
    org.apache.spark.sql.graft.WordShingles.bands(sig, k, bands)

  /** Aggregate-array form of [[lshBandKeys]] — parity reference for
    * WordShinglesParitySpec. */
  private[graft] def lshBandKeysAggForm(sig: Column, k: Int = 16,
      bands: Int = 4): Column = {
    val rows = k / bands
    array((0 until bands).map { bnd =>
      aggregate(slice(sig, bnd * rows + 1, rows), lit(bnd.toLong),
        (acc, h) => (acc * 31 + h) % HashP)
    }: _*)
  }

  /**
   * MinHash-LSH near-duplicate pairs with exact n-gram Jaccard verify.
   * Plan: signature (narrow) → explode band keys → shuffle on (band,key)
   * self-join → distinct candidate pairs → exact Jaccard on the two docs'
   * distinct shingle-hash sets → threshold filter. The candidate set, not
   * the corpus, pays the quadratic cost — the standard scale-out shape.
   *
   * Skew valve (`maxBandBucket`): a pathological band bucket — one key
   * shared by m ≫ cap documents (boilerplate/empty-text clusters at
   * 100 TB) — would emit m² candidates and hot-spot the self-join no
   * matter how the shuffle is split (AQE's skew split distributes the
   * read, not the quadratic output). Bucket sizes come from one
   * map-side-combinable aggregate; keys above the cap (found as a TINY
   * broadcast relation) switch to STAR candidates — every member paired
   * with the bucket's min id, m-1 rows — while normal buckets keep the
   * exact all-pairs form. Star candidates still go through the exact
   * Jaccard verify, so no unverified pair is ever emitted; the
   * approximation is candidate recall INSIDE monster buckets only (two
   * non-min members pair only via other shared bands — and members of a
   * same-signature bucket that large are near-identical boilerplate, the
   * case the cluster endpoint resolves through the shared min anyway).
   * The default cap is far above any test corpus's bucket sizes, so
   * results are exact at verification scale.
   *
   * Output: id_a < id_b, jaccard (rounded 4dp).
   */
  def minhashDupPairs(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 16, bands: Int = 4, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      maxBandBucket: Int = 4096): DataFrame = {
    // Band join carries ONLY (band, key, id): the shingle sets (≈ doc
    // length) must not ride through the ×bands explode and self-join
    // shuffle. Candidates join back to the narrow (id, shingle_set)
    // relation once for the exact-Jaccard verify.
    val withSets = docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleK).as("shingle_set"),
      minhashSignature(col(textCol), k, shingleK).as("sig"))
    val banded = withSets.select(col("id"),
      posexplode(lshBandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
    // Hot-bucket PROBE, fully lazy: band a deterministic 5% document
    // sample (≈5% of one signature pass), count keys, keep those whose
    // sample count clears max(2, cap·p/2) together with a stable
    // representative id (the sample min — any member works: candidates
    // are ordered with least/greatest and verified afterwards). The probe
    // rides into the main join as a BROADCAST subtree — no driver action,
    // no plan branching. A bucket of true size ≥ 2·cap is flagged with
    // overwhelming probability; one under cap/2 essentially never is, and
    // a borderline miss only means that bucket takes the exact (slower)
    // all-pairs path, never a wrong answer.
    //
    // The sample is a HASH of the id, not df.sample(): Bernoulli sampling
    // is per-partition, so the flagged-bucket set and the representative
    // would depend on input partitioning — same data, different cluster
    // layout, different pairs inside near-cap buckets. The id-hash filter
    // picks the same documents on any layout.
    val p = 0.05
    val sampleThresh = math.max(2.0, maxBandBucket * p / 2)
    val hotReps = docs.filter(pmod(xxhash64(col(idCol)), lit(20)) === 0)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), k, shingleK).as("sig"))
      .select(col("id"),
        posexplode(lshBandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
      .groupBy("band", "key")
      .agg(count(lit(1)).as("__c"), min(col("id")).as("__rep"))
      .filter(col("__c") >= sampleThresh)
      .select(col("band"), col("key"), col("__rep"))
    // The star form costs NO extra pass: tag both join sides with the
    // (tiny) hot-rep relation; a hot bucket keeps only its representative
    // on the build side, so the join emits rep×members (m-1 star
    // candidates) instead of m²; cold buckets keep the exact id_a < id_b
    // all-pairs form.
    val tagged = banded.join(broadcast(hotReps), Seq("band", "key"), "left")
    val a = tagged.filter(col("__rep").isNull || col("id") === col("__rep"))
      .select(col("band"), col("key"), col("id").as("id_a"),
        col("__rep").isNotNull.as("__hot"))
    val b = tagged.select(col("band").as("band_b"), col("key").as("key_b"),
      col("id").as("id_b"))
    val candidates = a.join(b,
        col("band") === col("band_b") && col("key") === col("key_b") &&
          ((col("__hot") && col("id_a") =!= col("id_b")) ||
            (!col("__hot") && col("id_a") < col("id_b"))))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = withSets.select(col("id"), col("shingle_set"))
    candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "shingle_set" -> "set_a")), "id_a")
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "shingle_set" -> "set_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("uni", size(array_union(col("set_a"), col("set_b"))))
      .withColumn("jaccard", halfUp4(col("inter").cast("double") / col("uni")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- simhash ----

  /**
   * 32-bit SimHash over words (with multiplicity as weights): each word's
   * portable hash votes ±1 per bit; fingerprint bit i set iff the vote sum
   * is positive. Fused JVM kernel over the (codegen'd) word list — the
   * equivalent expression tree does 32 interpreted array ops per word.
   */
  def simhash(text: Column): Column = {
    val fpUdf = udf((ws: Seq[String]) => Option(ws).map { ws => // null in → null out
      val votes = new Array[Long](32)
      ws.foreach { w =>
        val h = TextAnalysis.hashString(w)
        var i = 0
        while (i < 32) {
          votes(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
          i += 1
        }
      }
      var fp = 0L
      var i = 0
      while (i < 32) { if (votes(i) > 0) fp |= 1L << i; i += 1 }
      fp
    })
    fpUdf(TextAnalysis.words(text))
  }

  /**
   * Wide SimHash: `families` independent 31-bit fingerprints concatenated
   * (family i uses the affine word-hash (h*(2i+3) + 10007(i+1)) mod P —
   * same family construction as minhash). The 32-bit default's chunk
   * buckets grow linearly with corpus size; widening the fingerprint is
   * the scale lever that keeps bucket sizes (and candidate volume)
   * sub-quadratic at high SF. Output: array<long> of per-family
   * fingerprints, each < 2^31.
   */
  def simhashWide(text: Column, families: Int = 2): Column = {
    val params = hashParams(families).toArray
    val fpUdf = udf((ws: Seq[String]) => Option(ws).map { ws => // null in → null out
      params.map { case (a, b) =>
        val votes = new Array[Long](31)
        ws.foreach { w =>
          val h = (TextAnalysis.hashString(w) * a + b) % HashP
          var i = 0
          while (i < 31) {
            votes(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
            i += 1
          }
        }
        var fp = 0L
        var i = 0
        while (i < 31) { if (votes(i) > 0) fp |= 1L << i; i += 1 }
        fp
      }.toSeq
    })
    fpUdf(TextAnalysis.words(text))
  }

  /**
   * Near-dup pairs over the wide fingerprint: total width = families*31
   * bits, split into `maxDist+1` equal-ish chunks (each a slice of one
   * family's bits), equi-join on (chunk, value), popcount residual over
   * the concatenated distance. With families=2 and maxDist=3 each chunk
   * key has ~15-16 bits — 256x smaller buckets than the 32-bit variant.
   */
  def simhashWideDupPairs(docs: DataFrame, maxDist: Int = 3, families: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val totalBits = families * 31
    val chunks = maxDist + 1
    require(chunks <= totalBits, "more chunks than bits")
    val withFp = docs.select(col(idCol).as("id"),
      simhashWide(col(textCol), families).as("fps"))
    // chunk c covers global bits [c*totalBits/chunks, (c+1)*totalBits/chunks);
    // a chunk crossing a family boundary stitches the two families' bit
    // slices together, so every fingerprint bit lands in exactly one chunk
    // key for ANY (maxDist, families) — uncovered bits would silently
    // inflate candidate volume
    val chunkCols = (0 until chunks).map { c =>
      val lo = c * totalBits / chunks
      val hi = (c + 1) * totalBits / chunks
      val fam = lo / 31
      val famLo = lo % 31
      val loBits = math.min(hi - lo, 31 - famLo)
      val low = shiftright(element_at(col("fps"), fam + 1), famLo)
        .bitwiseAND((1L << loBits) - 1L)
      val hiBits = (hi - lo) - loBits
      if (hiBits == 0) low
      else low.bitwiseOR(shiftleft(
        element_at(col("fps"), fam + 2).bitwiseAND((1L << hiBits) - 1L), loBits))
    }
    val banded = withFp.select(col("id"), col("fps"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "val")))
    val a = banded.select(col("chunk"), col("val"), col("id").as("id_a"),
      col("fps").as("fps_a"))
    val b = banded.select(col("chunk").as("chunk_b"), col("val").as("val_b"),
      col("id").as("id_b"), col("fps").as("fps_b"))
    val dist = (1 to families).map(i =>
      bit_count(element_at(col("fps_a"), i).bitwiseXOR(element_at(col("fps_b"), i))))
      .reduce(_ + _)
    // popcount residual BEFORE the pair dedup: candidates that fail the
    // distance check vastly outnumber true pairs, so filtering first keeps
    // the dropDuplicates shuffle at result-set size
    a.join(b, col("chunk") === col("chunk_b") && col("val") === col("val_b") &&
        col("id_a") < col("id_b"))
      .withColumn("dist", dist)
      .filter(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "dist")
  }

  /**
   * LEGACY (retired from the declared query surface, round 7): SimHash
   * near-dup pairs within Hamming distance `maxDist` over the 32-bit
   * fingerprint, split into `maxDist+1` chunks — two fingerprints within
   * distance d agree exactly on ≥1 chunk — then a popcount residual.
   * Equi-join on (chunk index, chunk value); no all-pairs comparison.
   *
   * Retirement rationale: with ≤8 bits per chunk the bucket population
   * (and therefore candidate volume) grows linearly with corpus size —
   * the one super-linear term left in the suite at round 6. The declared
   * queries (q16, q54) now both use [[simhashWideDupPairs]], whose
   * per-chunk key width scales with `families`, keeping buckets
   * corpus-size-independent. This function stays as the documented
   * comparison baseline for recall studies on small corpora.
   */
  def simhashDupPairs(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 32 / chunks
    val withFp = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    val banded = withFp.select(col("id"), col("fp"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("fp"), c * bitsPer)
          .bitwiseAND((1L << bitsPer) - 1L)
      }: _*)).as(Seq("chunk", "val")))
    val a = banded.select(col("chunk"), col("val"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("chunk").as("chunk_b"), col("val").as("val_b"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    // popcount residual before the dedup — see simhashWideDupPairs
    a.join(b, col("chunk") === col("chunk_b") && col("val") === col("val_b") &&
        col("id_a") < col("id_b"))
      .withColumn("dist", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "dist")
  }

  // ---- embedding cosine near-dup ----

  /** Sign-LSH bucket over a HASHED ±1 hyperplane family. The legacy
    * [[signBucket]] coefficient pattern `(j*(p+3)+p) mod 4` is PERIODIC
    * in p with period 4 (p and p+4 define the same hyperplane, and bit p
    * always equals bit p+4), so its effective family is 4 planes / 16
    * distinct buckets no matter how large nPlanes is — fine for the
    * oracle-mirrored 8-plane queries (q17/q19/q120, where the exact
    * verify makes extra candidates a constant-factor cost), fatal for a
    * caller using nPlanes as the bucket-count SCALE knob. This family's
    * coefficient is one bit of a mixed 32-bit integer hash of (plane,
    * dim) ([[hashedPlanePositive]]), so no two planes coincide or negate
    * each other: `PipelineOpsSpec` pins that for dim 8/32/128 up to 16
    * planes, and that 2,000 seeded vectors fill at least 1,000 of the
    * 4,096 buckets of 12 planes. Mirrored exactly in the oracle's
    * `bucketH` SQL. */
  def signBucketHashed(vec: Column, nPlanes: Int): Column = {
    val np = nPlanes
    val bucketUdf = udf((v: Seq[Double]) => Option(v).map { v =>
      var bucket = 0L
      var p = 0
      while (p < np) {
        var proj = 0.0
        var j = 0
        while (j < v.length) {
          proj += (if (hashedPlanePositive(p, j)) v(j) else -v(j))
          j += 1
        }
        if (proj > 0) bucket |= 1L << p
        p += 1
      }
      bucket
    })
    bucketUdf(vec)
  }

  /** Sign of the hashed family's coefficient of plane `p` on dimension
    * `j` (0-based): bit 31 of a murmur-style finalizer over `(j+1,
    * p+1)`, +1 iff it is 0. Every intermediate stays below 2^62, so the
    * oracle's BIGINT SQL computes the same bits. */
  private[graft] def hashedPlanePositive(p: Int, j: Int): Boolean = {
    var x = ((j + 1).toLong * 2654435761L + (p + 1).toLong * 40499L) & 0xffffffffL
    x ^= x >>> 15
    x = (x * 0x2c1b3c6dL) & 0xffffffffL
    x ^= x >>> 12
    x = (x * 0x297a2d39L) & 0xffffffffL
    x ^= x >>> 15
    (x & 0x80000000L) == 0
  }

  /** A bucket column expanded to itself + every single-bit-flip probe —
    * the one-sided multi-probe set shared by the sign-LSH callers. */
  def probeBuckets(bucket: Column, nPlanes: Int): Column =
    array((bucket +: (0 until nPlanes).map(p =>
      bucket.bitwiseXOR(lit(1L << p)))): _*)

  /**
   * Sign-LSH bucket keys for an embedding: the sign pattern of `nPlanes`
   * pseudo-random hyperplane projections, as one long. Hyperplane
   * coefficients are a deterministic ±1 pattern derived from (plane, dim)
   * parity — no RNG, reproducible everywhere. Fused JVM kernel with the
   * same left-to-right double fold as the expression form / SQL oracle.
   * NOTE: this legacy pattern is periodic in the plane index (effective
   * family = 4 planes; see [[signBucketHashed]]) — keep it for the
   * oracle-mirrored 8-plane queries, use the hashed family wherever
   * nPlanes is a scale knob.
   */
  def signBucket(vec: Column, nPlanes: Int = 8): Column = {
    val np = nPlanes
    val bucketUdf = udf((v: Seq[Double]) => Option(v).map { v => // null in → null out
      var bucket = 0L
      var p = 0
      while (p < np) {
        var proj = 0.0
        var j = 0
        while (j < v.length) {
          // coefficient for dim j: +1 if (j*(p+3) + p) mod 4 < 2 else -1
          proj += (if ((j * (p + 3) + p) % 4 < 2) v(j) else -v(j))
          j += 1
        }
        if (proj > 0) bucket |= 1L << p
        p += 1
      }
      bucket
    })
    bucketUdf(vec)
  }

  /**
   * The corpus's sign-LSH bucket index as a PERSISTABLE relation —
   * `(dup_id, pb)`, one row per vector, `pb` its [[signBucketHashed]]
   * bucket. The embedding analog of [[lshBandIndex]]: every semantic
   * ingest probe re-derives this from raw corpus vectors per batch
   * ([[graft.streaming.DocumentStreams.semanticDupAgainstCorpus]]);
   * persisting it bucketed by `pb` (`Storage.writeBucketed(...,
   * bucketCol = "pb")`) turns the recurring per-batch cost into a
   * bucket-pruned stored-table read, and a new batch's rows APPEND
   * under the same spec — the q169 self-updating loop for embeddings.
   */
  def signBucketIndex(corpus: DataFrame, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("dup_id"),
      signBucketHashed(col(vecCol).cast("array<double>"), nPlanes).as("pb"))

  /**
   * Embedding near-duplicate pairs: bucket by sign-LSH, exact cosine inside
   * buckets, keep pairs with cosine >= `tau`. For recall, the probe side
   * also visits the buckets differing in one bit (`probe = true`), which
   * finds every pair within bucket Hamming distance 1.
   */
  def embeddingDupPairs(embeddings: DataFrame, tau: Double = 0.95,
      nPlanes: Int = 8, probe: Boolean = true,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Narrow candidate generation: only (id, bucket) rides the ×(nPlanes+1)
    // probe explode and self-join; candidate pairs then join back to the
    // (id, vector) relation once for the exact-cosine verify.
    val withV = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withB = withV.select(col("id"), signBucket(col("v"), nPlanes).as("bucket"))
    // multi-probe: each vector also probes the nPlanes single-bit-flip
    // buckets. ONE-SIDED: probed rows join the unprobed bucket relation —
    // bucket Hamming distance is symmetric, so probing one side already
    // finds every pair within distance 1, with (nPlanes+1)·N × N join keys
    // instead of (nPlanes+1)²·N² and far fewer duplicate candidates.
    val probed = if (!probe) withB.withColumn("pbucket", col("bucket"))
      else withB.select(col("id"),
        explode(probeBuckets(col("bucket"), nPlanes)).as("pbucket"))
    val a = probed.select(col("pbucket"), col("id").as("id_a"))
    val b = withB.select(col("bucket").as("pb2"), col("id").as("id_b"))
    val candidates = a.join(b, col("pbucket") === col("pb2") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(withV.withColumnsRenamed(Map("id" -> "id_a", "v" -> "v_a")), "id_a")
      .join(withV.withColumnsRenamed(Map("id" -> "id_b", "v" -> "v_b")), "id_b")
      .withColumn("cos", halfUp4Signed(graft.tensor.cosine(col("v_a"), col("v_b"))))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b", "cos")
  }

  /**
   * Semantic dedup — the SemDeDup shape (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space with the trained
   * k-means coarse quantizer, then inside each cluster mark a document
   * as a duplicate iff some LOWER-id cluster-mate has cosine >= `tau`
   * ("keep the first, drop the rest" — deterministic, no RNG). Catches
   * the paraphrase-level redundancy that lexical MinHash cannot see.
   *
   * Scale shape: the pairwise-cosine join is confined WITHIN clusters —
   * the whole point of the coarse quantizer: candidate pairs cost
   * Σ|cluster|², not N², and k is chosen so clusters stay bounded.
   * Cluster assignment is a shuffle-free literal-centroid projection
   * (see Similarity.kmeansAssign); the corpus never self-joins on
   * anything coarser than cluster_id, and the dup-id set joins back as
   * a narrow single-column relation.
   *
   * At 100 TB the bounded-cluster rule makes k grow WITH the corpus, and
   * then the k-means stages themselves become the bottleneck — fit and
   * single-level assignment are both N×k ∝ N² (the 100x scale smoke
   * measured 38x wall for 10x data × 10x k). The operating knobs, both
   * default-off so the oracle-gated exact path is unchanged:
   *  - `fitFraction` < 1: fit the quantizer on a deterministic hash
   *    sample (SemDeDup itself fits on a subset) — fit cost drops to
   *    (fN)×k while every vector still gets assigned;
   *  - `twoLevelAssign`: assignment via Similarity.kmeansAssignTwoLevel —
   *    O(√k) per row instead of O(k), at the cost of possible
   *    mis-assignment near coarse-cell boundaries (a clustering-quality
   *    wobble, not a correctness break, for dedup purposes).
   */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      tau: Double = 0.9, idCol: String = "vec_id",
      vecCol: String = "embedding", fitFraction: Double = 1.0,
      twoLevelAssign: Boolean = false): DataFrame = {
    // fail at the knob, not as an empty-centroid require deep in the plan;
    // the hash threshold floors at 1e-6 (pmod bucket granularity)
    require(fitFraction >= 1e-6 && fitFraction <= 1.0,
      s"fitFraction must be in [1e-6, 1], got $fitFraction")
    val fitInput =
      if (fitFraction >= 1.0) embeddings
      else embeddings.filter(
        pmod(TextAnalysis.portableHash(col(idCol).cast("string")), lit(1000000L))
          < lit((fitFraction * 1e6).toLong))
    val cents = Similarity.kmeansFitCentroids(fitInput, k, iters, idCol, vecCol)
    val sided = (if (twoLevelAssign)
        Similarity.kmeansAssignTwoLevel(embeddings, cents, nprobe = 1,
          idCol = idCol, vecCol = vecCol)
      else Similarity.kmeansAssign(embeddings, cents, idCol, vecCol))
      .select(col(idCol).as("id"), col("cluster"))
      .join(embeddings.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")), "id")
    // Cosine can be negative, so the 4dp stabilization is a SIGN-AWARE
    // half-away-from-zero floor — the codegen equivalent of round(c, 4)
    // (BigDecimal HALF_UP, which Spark evaluates through a per-row string
    // parse) without leaving whole-stage codegen in the hottest loop.
    // Mirrored verbatim in the q98 DuckDB oracle.
    val dup = sided.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      .join(sided.select(col("cluster"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cluster"))
      .filter(col("id_b") < col("id_a"))
      .withColumn("__c", graft.tensor.cosine(col("va"), col("vb")))
      .filter(halfUp4Signed(col("__c")) >= tau)
      .select(col("id_a").as("id")).distinct()
    sided.join(dup.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  // ---- pair → cluster resolution (connected components) ----

  /**
   * Resolve near-duplicate PAIRS into duplicate CLUSTERS: every doc in a
   * connected component of the pair graph gets `cluster_id` = the smallest
   * doc id reachable from it. This is the step that turns a pair detector
   * into a dedup policy — "keep the cluster's canonical doc, drop the
   * rest" — and pairs alone can't express it (A~B, B~C must collapse to
   * one cluster even though A~C was never emitted).
   *
   * Algorithm: min-label propagation (the hash-to-min scheme of Rastogi et
   * al., "Finding Connected Components in MapReduce in Logarithmic Rounds").
   * Every node starts labeled with itself; each round takes the min label
   * over its closed neighborhood; fixpoint = components. Rounds needed =
   * graph diameter, and near-dup graphs are shallow (stars/cliques around
   * boilerplate), so this converges in a handful of rounds. Scale shape:
   *  - each round is ONE shuffle (edge-label equi-join + groupBy-min),
   *    with narrow (long, long) rows — no vertex/edge state on the driver;
   *  - `localCheckpoint` after each round truncates lineage so the plan
   *    does not grow with rounds (mandatory for iterative jobs, or round N
   *    re-executes rounds 1..N-1 under recomputation);
   *  - convergence is probed with `sum(label)`: labels only ever decrease,
   *    so an unchanged sum IS the fixpoint — one cheap action per round
   *    instead of a change-count join;
   *  - a graph that has not converged after `maxRounds` rounds throws
   *    `IllegalStateException` rather than returning partial labels.
   *
   * HYBRID: iterative propagation is the 100 TB shape, but its cost floor
   * is `diameter × (shuffle + action)` — overhead-dominated when the edge
   * set is small, which near-dup graphs usually are AFTER candidate
   * filtering (pairs ∝ true duplicates, not corpus size). The edge set is
   * already materialized by the checkpoint, so one cheap count picks the
   * plan at runtime (the AQE idea, applied where AQE can't see): at or
   * under `localEdgeThreshold` edges (default 2M ≈ 32 MB of (long,long)
   * rows — a fraction of one executor's task memory) the components are
   * solved exactly in ONE task with union-find; above it, the loop runs.
   * Both paths produce identical labels: union-by-min-root makes find()
   * return the component minimum, the same fixpoint propagation reaches.
   */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxRounds: Int = 20, localEdgeThreshold: Long = 1L << 21): DataFrame = {
    val edges = pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // sym holds both directions of every pair — 2 rows per edge
    if (sym.count() / 2 <= localEdgeThreshold) return localUnionFind(sym)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // sum over zero rows is NULL, not 0 — read null-safely so an empty
    // pair set converges (to the empty cluster frame) instead of NPE-ing
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum("label")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(sym("a").as("node")).agg(min("label").as("nl"))
      // lazy checkpoint: the convergence probe right below is the round's
      // only action, so it materializes the checkpoint in the same job
      // (eager would spend a second job per round on materialization)
      labels = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint(false)
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      round += 1
    }
    // unconverged labels split components silently — fail instead
    if (!converged) throw new IllegalStateException(
      s"dupClusters: label propagation did not converge after $round rounds " +
        s"(maxRounds = $maxRounds); the pair graph's diameter exceeds maxRounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Exact single-task components for small (post-threshold) edge sets:
    * union-find with union-by-min-root, so every find() is the smallest
    * reachable id — label-identical to the iterative fixpoint. */
  private def localUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keys.toArray.iterator.map(n => (n, find(n)))
    }.toDF("doc_id", "cluster_id")
  }

  /**
   * The dedup POLICY end-to-end: given near-dup pairs, resolve clusters
   * and anti-join the corpus against the non-canonical members — each
   * cluster keeps exactly its smallest doc id, docs in no cluster pass
   * through. The anti-join broadcasts when the duplicate set is small
   * relative to the corpus (the common case), so the corpus itself is
   * never shuffled.
   */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware variant of [[dropNearDuplicates]]: each duplicate cluster
   * keeps its BEST member by `scoreCol` (ties broken toward the smaller id)
   * instead of the smallest id — the policy real corpus pipelines want
   * ("keep the longest / highest-quality copy", e.g. Dolma's dedup stage;
   * green-field — the reference has no dedup surface).
   *
   * Scale shape: the score join and the winner aggregation touch only
   * cluster MEMBERS (tiny vs the corpus — clusters come from near-dup
   * pairs); winners resolve with one `max_by` per cluster, and the corpus
   * itself is only ever on the build side of a broadcast-able anti-join,
   * exactly like [[dropNearDuplicates]].
   */
  def dropNearDuplicatesBest(docs: DataFrame, pairs: DataFrame,
      score: Column, idCol: String = "doc_id"): DataFrame = {
    // members feeds THREE plan branches (winner agg, loser join, corpus
    // anti-join); without lineage truncation each branch would recompute
    // the whole pair-detection + clustering chain. It is cluster-members
    // small, so a lazy local checkpoint is cheap insurance.
    val members = dupClusters(pairs)
      .join(docs.select(col(idCol).as("doc_id"), score.as("__score")), "doc_id")
      .localCheckpoint(false)
    val winners = members.groupBy("cluster_id")
      .agg(max_by(col("doc_id"), struct(col("__score"), -col("doc_id")))
        .as("keep_id"))
    val losers = members.join(winners, "cluster_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---- duplicated-substring spans (exact substring dedup) ----

  /**
   * Maximal duplicated token ranges: for every document, the token spans
   * `[begin_tok, end_tok)` whose every length-n word window also occurs
   * in at least `minDocs - 1` OTHER documents — the substring-level
   * complement of the document-level detectors above, in the spirit of
   * suffix-array training-data dedup (Lee et al., "Deduplicating Training
   * Data Makes Language Models Better", ACL 2022; reference guidance on
   * corpus hygiene only — the reference itself has no substring dedup).
   *
   * Spark-first shape instead of a suffix array:
   *   1. positional n-gram hashes per doc (narrow (doc, pos, h) rows);
   *   2. one groupBy(h) marks hashes seen in >= minDocs distinct docs —
   *      at 100 TB this survivor set is tiny relative to the gram stream,
   *      and the re-join on h is a plain shuffle equi-join AQE can size;
   *   3. per-doc window sessionization merges consecutive duplicated
   *      positions into maximal runs (partitioned by doc — no global
   *      ordering anywhere).
   * Output: doc_id, begin_tok, end_tok (token indices into words(text),
   * end exclusive, each span >= n tokens long).
   */
  def duplicatedSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && minDocs >= 2, "need n >= 1 and minDocs >= 2")
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.ngramHashes(col(textCol), n)).as(Seq("pos", "h")))
    val dupHashes = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dupHashes, "h")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) === 1, lit(0)).otherwise(lit(1)))
      .withColumn("run", sum("brk").over(w))
      .groupBy(col("doc_id"), col("run"))
      .agg(min("pos").as("begin_tok"), (max("pos") + n).as("end_tok"))
      .select("doc_id", "begin_tok", "end_tok")
  }

  /**
   * The POLICY side of substring dedup (Lee et al. 2022 cut the duplicated
   * text out of the corpus): rebuild each document's text from its word
   * sequence minus the tokens covered by `spansDf` ([begin_tok, end_tok)
   * ranges, e.g. [[duplicatedSpans]] output — pre-filter it to implement
   * keep-one-copy policies). Narrow shapes throughout: ranges explode to
   * (doc, pos) rows, removal is a hash anti-join on (doc_id, pos), text
   * reassembles in one aggregate with order restored by `array_sort` over
   * (pos, word) structs. Documents whose every token was cut — and docs
   * with no tokens at all — survive with empty text (corpus totality:
   * dropping them is a separate filter decision).
   * Output: all `docs` columns except `textCol`, plus clean_text, n_kept.
   */
  def stripSpans(docs: DataFrame, spansDf: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val covered = spansDf
      .filter(col("end_tok") > col("begin_tok"))
      .select(col("doc_id"),
        explode(sequence(col("begin_tok"), col("end_tok") - 1)).as("pos"))
      .distinct()
    val kept = docs.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "w")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w").as("w")))),
          x => x("w")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.drop(textCol).withColumnRenamed(idCol, "doc_id")
      .join(kept, Seq("doc_id"), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /**
   * Corpus-WIDE duplicate-line removal — the C4 dedup step the per-doc
   * line rules ([[graft.operators.TextAnalysis.c4Clean]]) cannot express:
   * any line occurring more than once ANYWHERE in the corpus keeps only
   * its first occurrence (smallest (doc, line index)); every other copy
   * is cut and each document's text reassembled from its surviving lines.
   * This is what removes cross-site boilerplate (cookie banners, nav
   * footers) that a static phrase list misses. Whitespace-only lines are
   * structural, not content — always kept, never dedup candidates.
   *
   * Scale shape: the first-occurrence winner per line is ONE
   * map-side-combinable `min` aggregate KEYED BY THE LINE TEXT — exact
   * (a 32-bit line hash collides at real corpus scale and would merge
   * distinct lines) and no window, so a million-fold duplicated
   * boilerplate line collapses map-side to one row per partition instead
   * of a sorted window partition. Position packing bounds: line index
   * < 1e6 and id×1e6 must fit a long (any realistic doc/corpus; the
   * packed key is mirrored verbatim in the oracle).
   *
   * Output: (doc_id, clean_text, n_kept) — every input doc present;
   * n_kept counts surviving non-blank lines.
   */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
    val keyed = lines.withColumn("__blank", trim(col("line")) === "")
      .withColumn("__pk", col("doc_id") * 1000000L + col("line_idx"))
    val firsts = keyed.filter(!col("__blank"))
      .groupBy("line").agg(min(col("__pk")).as("__first"))
    val kept = keyed.join(firsts, Seq("line"), "left")
      .filter(col("__blank") || col("__pk") === col("__first"))
      .groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line").as("l")))),
          x => x("l")), "\n").as("clean_text"),
        count(when(!col("__blank"), 1)).as("n_kept"))
    docs.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /**
   * Eval-set decontamination: per corpus document, the number of distinct
   * word n-grams it shares with a benchmark relation (0-row absence =
   * clean; join `left_anti` on the output to drop contaminated docs).
   * The standard pre-training hygiene sweep (e.g. GPT-3 appendix C /
   * Dolma's decontamination stage; green-field — no reference
   * counterpart). Benchmark grams are deduplicated then BROADCAST:
   * eval sets are tiny next to a training corpus, so the corpus-side
   * gram stream joins map-side without shuffling.
   */
  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    val bGrams = benchmark.select(
        explode(array_distinct(TextAnalysis.ngramHashes(col(benchTextCol), n)))
          .as("h"))
      .distinct()
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.ngramHashes(col(textCol), n))).as("h"))
      .join(broadcast(bGrams), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * FUZZY eval-set decontamination — the near-duplicate form of
   * [[contaminatedDocs]]: a corpus document is contaminated when its
   * shingle-set Jaccard against any benchmark document clears
   * `threshold`, with MinHash-LSH band collisions generating the
   * candidates (the Llama/Dolma-style "paraphrased eval leakage" sweep;
   * exact n-gram matching misses light rewording). Same machinery as
   * [[minhashDupPairs]], but the join is corpus × BENCHMARK, never
   * corpus × corpus.
   *
   * Scale shape: the benchmark side (signatures, band keys, shingle
   * sets) is BROADCAST — eval sets are tiny next to a training corpus —
   * so both the band-collision join and the exact-Jaccard verify are
   * map-side; the corpus is scanned once and nothing wide ever
   * shuffles. No skew valve is needed: candidate fan-out per corpus doc
   * is bounded by benchmark size, not corpus size. Self-pairs (same id
   * on both sides, the benchmark-drawn-from-corpus harness case) are
   * excluded; callers with an external benchmark whose id space
   * legitimately overlaps the corpus should disambiguate ids upstream.
   *
   * Output: (doc_id, n_bench, max_jaccard) — one row per contaminated
   * doc; `left_anti` on it to drop them.
   */
  def fuzzyContaminatedDocs(docs: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.7, k: Int = 8, bands: Int = 4, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      benchIdCol: String = "doc_id", benchTextCol: String = "text"): DataFrame = {
    // Corpus side mirrors minhashDupPairs: the band join carries ONLY
    // (id, band, key); shingle sets join back on the candidate ids.
    val withSets = docs.select(col(idCol).as("doc_id"),
      shingleHashes(col(textCol), shingleK).as("set_d"),
      minhashSignature(col(textCol), k, shingleK).as("sig"))
    val banded = withSets.select(col("doc_id"),
      posexplode(lshBandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
    val bSets = benchmark.select(col(benchIdCol).as("bench_id"),
      shingleHashes(col(benchTextCol), shingleK).as("set_b"),
      minhashSignature(col(benchTextCol), k, shingleK).as("sigb"))
    val bBanded = bSets.select(col("bench_id"),
      posexplode(lshBandKeys(col("sigb"), k, bands)).as(Seq("band", "key")))
    val candidates = banded
      .join(broadcast(bBanded), Seq("band", "key"))
      .filter(col("doc_id") =!= col("bench_id"))
      .select("doc_id", "bench_id").dropDuplicates("doc_id", "bench_id")
    candidates
      .join(withSets.select("doc_id", "set_d"), "doc_id")
      .join(broadcast(bSets.select("bench_id", "set_b")), "bench_id")
      .withColumn("jaccard",
        halfUp4(size(array_intersect(col("set_d"), col("set_b"))).cast("double") /
          size(array_union(col("set_d"), col("set_b")))))
      .filter(col("jaccard") >= threshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench"), max(col("jaccard")).as("max_jaccard"))
  }

  /**
   * Leakage-safe train/val/test split — the fix for what
   * [[splitLeakage]] measures: hash-split by NEAR-DUP CLUSTER id
   * instead of document id, so a document and its near-duplicates land
   * in the SAME split by construction and can never leak train content
   * into a held-out set. Documents in no dup cluster split by their own
   * id (their cluster is themselves), so the assignment degrades to
   * [[TextAnalysis.hashSplit]] exactly on a fully-deduplicated corpus.
   *
   * Scale shape: [[dupClusters]]' connected components over the
   * (narrow) pair graph + one left join of the (pairs-sized, usually
   * tiny next to the corpus) cluster relation onto the corpus + the
   * shuffle-free split projection. Deterministic: assignment depends
   * only on (cluster min-id, salt, weights).
   *
   * Output: corpus rows + (cluster_id, split).
   */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      idCol: String = "doc_id", salt: String = "split"): DataFrame = {
    val clusters = dupClusters(pairs)
      .withColumnRenamed("doc_id", idCol)
    val withCluster = docs.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    TextAnalysis.hashSplit(withCluster, weights, idCol = "cluster_id",
      salt = salt)
  }

  /**
   * Train/eval split-leakage audit — after a corpus is split (however:
   * [[TextAnalysis.hashSplit]], time-based, source-based), measure how
   * much n-gram content each held-out split SHARES with the training
   * split: per eval split, the number of documents with at least one
   * leaked `n`-gram and the total count of (per-doc-distinct) shared
   * grams. The post-split audit that catches what upstream
   * decontamination ([[contaminatedDocs]], [[fuzzyContaminatedDocs]])
   * is supposed to have prevented — run it before trusting a held-out
   * loss.
   *
   * Scale shape: everything is keyed by the gram hash — the train-side
   * `distinct` and the eval×train equi-join shuffle narrow `(h)` /
   * `(h, id)` longs with map-side partial aggregation, never document
   * text; no broadcast assumption (at 100 TB BOTH gram sides are
   * corpus-scale, unlike the tiny-benchmark decontamination case).
   *
   * @param split docs WITH a `split` column already assigned
   * @return one row per non-train split: (split, n_docs, n_docs_leaked,
   *         n_shared_grams)
   */
  def splitLeakage(split: DataFrame, n: Int = 8, trainSplit: String = "train",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = split.select(col(idCol).as("doc_id"), col("split"),
      explode(array_distinct(TextAnalysis.ngramHashes(col(textCol), n)))
        .as("h"))
    val trainGrams = grams.filter(col("split") === trainSplit)
      .select("h").distinct()
    val leaks = grams.filter(col("split") =!= trainSplit)
      .join(trainGrams, "h")
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs_leaked"),
        count(lit(1)).as("n_shared_grams"))
    split.filter(col("split") =!= trainSplit)
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(leaks, Seq("split"), "left")
      .na.fill(0L, Seq("n_docs_leaked", "n_shared_grams"))
  }

  /**
   * Incremental ingest dedup — near-duplicate detection for a NEW batch
   * of documents arriving into an EXISTING corpus, the continuous-crawl
   * shape (CommonCrawl monthly snapshots, streaming ingestion): the
   * corpus was deduplicated long ago and must not be re-self-joined;
   * only the batch needs checking, (a) against the corpus and (b)
   * against itself.
   *
   * Scale shape: the batch side — signatures, band keys, shingle sets —
   * is BROADCAST (an ingest batch is tiny next to a 100 TB corpus), so
   * the corpus-probe band join and the exact-Jaccard verify are
   * map-side over one corpus scan; nothing corpus-sized ever shuffles.
   * In production the corpus band index `(band, key, id)` is the thing
   * you PERSIST (bucketed by band key, sources/Storage) and the probe
   * becomes a storage-local lookup; here it is computed in-plan from
   * text. No skew valve is needed on this path: a monster corpus bucket
   * costs m candidates per batch doc sharing it — linear in m — never
   * the m² of the self-join form. Batch-internal pairs reuse
   * [[minhashDupPairs]] (the valve applies there).
   *
   * Output: one row per detected duplication — `batch_id` (the new
   * doc), `dup_id` (the existing corpus doc, or the LOWER-id batch doc
   * for intra-batch pairs: first-seen-wins), `jaccard` (exact, 4dp),
   * `dup_src` ('corpus' | 'batch'). `left_anti` the batch on it to
   * admit only novel documents.
   */
  def incrementalDupPairs(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batchSets = batch.select(col(idCol).as("batch_id"),
      shingleHashes(col(textCol), shingleK).as("set_b"),
      minhashSignature(col(textCol), k, shingleK).as("sigb"))
    val batchBands = batchSets.select(col("batch_id"),
      posexplode(lshBandKeys(col("sigb"), k, bands)).as(Seq("band", "key")))
    // Corpus probe: narrow (id, band, key) stream joined map-side against
    // the broadcast batch bands; sets join back on the candidates only.
    val corpusBands = corpus.select(col(idCol).as("dup_id"),
        posexplode(lshBandKeys(
          minhashSignature(col(textCol), k, shingleK), k, bands))
          .as(Seq("band", "key")))
    val corpusCand = corpusBands
      .join(broadcast(batchBands), Seq("band", "key"))
      .select("batch_id", "dup_id").dropDuplicates("batch_id", "dup_id")
    // shingle sets computed ABOVE the candidates join (round-22): inside
    // the corpus projection they were evaluated for EVERY corpus row per
    // probe (cost ∝ corpus); post-join only candidates pay. Values
    // identical (deterministic expression of the joined text); the
    // separate select keeps CollapseProject from duplicating the
    // non-cheap expression into the two jaccard references.
    val vsCorpus = corpusCand
      .join(corpus.select(col(idCol).as("dup_id"), col(textCol).as("__vtext")),
        "dup_id")
      .join(broadcast(batchSets.select("batch_id", "set_b")), "batch_id")
      .select(col("batch_id"), col("dup_id"), col("set_b"),
        shingleHashes(col("__vtext"), shingleK).as("set_c"))
      .withColumn("jaccard",
        halfUp4(size(array_intersect(col("set_b"), col("set_c"))).cast("double") /
          size(array_union(col("set_b"), col("set_c")))))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("dup_id"), col("jaccard"),
        lit("corpus").as("dup_src"))
    val vsBatch = minhashDupPairs(batch, threshold, k, bands, shingleK,
        idCol, textCol)
      .select(col("id_b").as("batch_id"), col("id_a").as("dup_id"),
        col("jaccard"), lit("batch").as("dup_src"))
    vsCorpus.unionByName(vsBatch)
  }

  /**
   * The corpus's MinHash-LSH band index as a PERSISTABLE relation —
   * `(dup_id, kc, band, key)`, one row per (document, band), where `kc`
   * is the document's full band-key array (what the first-shared-band
   * emission trick needs on the index side) and `key = kc[band]` is the
   * equi-join/bucketing key.
   *
   * This is the relation every ingest probe re-derives from raw corpus
   * text per batch ([[incrementalDupPairs]]'s corpus branch, the
   * stream-static joins in streaming/DocumentStreams): computing it once
   * and persisting it bucketed by `key`
   * (`Storage.writeBucketed(..., bucketCol = "key")`) turns the dominant
   * recurring cost of a 24/7 ingest — a full corpus scan + signature
   * recompute per batch — into a pruned read: a batch's band keys reach
   * the scan as an `isin` literal, which Spark plans as physical BUCKET
   * pruning (SelectedBucketsCount < buckets; asserted in StorageSpec).
   * New corpus shards append their own index rows; no global rebuild.
   */
  def lshBandIndex(corpus: DataFrame, k: Int = 16, bands: Int = 4,
      shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus.select(col(idCol).as("dup_id"),
        lshBandKeys(minhashSignature(col(textCol), k, shingleK), k, bands)
          .as("kc"))
      .select(col("dup_id"), col("kc"),
        posexplode(col("kc")).as(Seq("band", "key")))

  /**
   * Prune a (typically persisted, bucketed-by-`key`) [[lshBandIndex]]
   * relation to the buckets one ingest batch can touch: the batch's
   * DISTINCT band keys — bounded by |batch| × bands — reach the scan as
   * an `isin` literal, which Spark plans as physical BUCKET PRUNING
   * (SelectedBucketsCount < buckets; StorageSpec asserts the pattern).
   * Soft valve: a micro-batch's key set is small (that is the lever —
   * unprobed buckets are never opened), while a huge backfill batch
   * would touch every bucket anyway, so above `maxProbeKeys` the
   * (semantically no-op) prune is skipped, with a WARN
   * ([[graft.sources.Storage.pinAndPrune]]), instead of growing the
   * literal and the driver fetch.
   */
  def pruneIndexForBatch(index: DataFrame, batch: DataFrame, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, textCol: String = "text",
      maxProbeKeys: Int = 4096): DataFrame =
    graft.sources.Storage.pinAndPrune[Long](
      batch.select(explode(lshBandKeys(
          minhashSignature(col(textCol), k, shingleK), k, bands)).as("key"))
        .distinct(),
      "key", index, "key", maxProbeKeys, "distinct band keys")._2

  /**
   * [[incrementalDupPairs]] with the corpus branch probing a pre-built
   * [[lshBandIndex]] relation instead of re-deriving band keys from
   * corpus text — row-identical by construction (the index rows ARE the
   * corpusBands projection), so it shares the oracle. `corpus` is still
   * needed for the exact shingle-Jaccard verify, but only the (few)
   * candidates' sets are computed — the full-corpus signature recompute
   * is gone.
   */
  def incrementalDupPairsIndexed(index: DataFrame, corpus: DataFrame,
      batch: DataFrame, threshold: Double = 0.8, k: Int = 16,
      bands: Int = 4, shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val batchSets = batch.select(col(idCol).as("batch_id"),
      shingleHashes(col(textCol), shingleK).as("set_b"),
      minhashSignature(col(textCol), k, shingleK).as("sigb"))
    val batchBands = batchSets.select(col("batch_id"),
      posexplode(lshBandKeys(col("sigb"), k, bands)).as(Seq("band", "key")))
    val corpusCand = index.select(col("dup_id"), col("band"), col("key"))
      .join(broadcast(batchBands), Seq("band", "key"))
      .select("batch_id", "dup_id").dropDuplicates("batch_id", "dup_id")
    // shingle sets computed ABOVE the candidates join (round-22): inside
    // the corpus projection they were evaluated for EVERY corpus row per
    // probe (cost ∝ corpus); post-join only candidates pay. Values
    // identical (deterministic expression of the joined text); the
    // separate select keeps CollapseProject from duplicating the
    // non-cheap expression into the two jaccard references.
    val vsCorpus = corpusCand
      .join(corpus.select(col(idCol).as("dup_id"), col(textCol).as("__vtext")),
        "dup_id")
      .join(broadcast(batchSets.select("batch_id", "set_b")), "batch_id")
      .select(col("batch_id"), col("dup_id"), col("set_b"),
        shingleHashes(col("__vtext"), shingleK).as("set_c"))
      .withColumn("jaccard",
        halfUp4(size(array_intersect(col("set_b"), col("set_c"))).cast("double") /
          size(array_union(col("set_b"), col("set_c")))))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("dup_id"), col("jaccard"),
        lit("corpus").as("dup_src"))
    val vsBatch = minhashDupPairs(batch, threshold, k, bands, shingleK,
        idCol, textCol)
      .select(col("id_b").as("batch_id"), col("id_a").as("dup_id"),
        col("jaccard"), lit("batch").as("dup_src"))
    vsCorpus.unionByName(vsBatch)
  }
}
