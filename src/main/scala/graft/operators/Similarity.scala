package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tensor

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths:
 *  - brute-force cosine top-k: broadcast the (small) query set, score every
 *    corpus row, per-query top-k via window. Exact; linear in corpus size,
 *    embarrassingly parallel — the right baseline even at scale when the
 *    query set is small.
 *  - LSH-bucketed top-k: sign-LSH buckets (with single-bit probing) shrink
 *    the candidate set per query; approximate but sub-linear work.
 */
object Similarity {

  /** `df` cut to each `part` group's first n rows by `order`, numbered
    * 1..n in `rankCol` — Spark plans the filter with a partial
    * `WindowGroupLimit` before the window's exchange. */
  private def firstN(df: DataFrame, n: Int, part: Seq[String],
      rankCol: String)(order: Column*): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(part.map(col): _*).orderBy(order: _*)))
      .filter(col(rankCol) <= n)

  /** Each query's first k rows by `score` (descending unless `ascending`,
    * ties to the smaller `idCol`) as (queryIdCol, idCol, score, rank). */
  private def firstK(scored: DataFrame, k: Int, queryIdCol: String,
      idCol: String, score: String, ascending: Boolean = false): DataFrame =
    firstN(scored, k, Seq(queryIdCol), "rank")(
      if (ascending) col(score) else col(score).desc, col(idCol))
      .select(col(queryIdCol), col(idCol), col(score), col("rank"))

  /** Each `keyCol` group's k highest-`score` rows (ties to the smaller `idCol`)
    * by the bounded [[TextAnalysis.topKByScore]] aggregate, with `rank`. */
  private def topKByAgg(scored: DataFrame, k: Int, keyCol: String,
      idCol: String, score: String): DataFrame =
    scored.groupBy(keyCol)
      .agg(TextAnalysis.topKByScore(k)(col(score), col(idCol)).as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col(keyCol), col("__e")("_2").as(idCol),
        col("__e")("_1").as(score), (col("__r") + 1).cast("int").as("rank"))

  /**
   * Exact brute-force cosine top-k. `queries` is broadcast (the scan side
   * never shuffles); ties broken by corpus id for determinism. The rank
   * filter is planned with a partial `WindowGroupLimit` before the
   * per-query exchange, so each task forwards at most k rows per query.
   * Output: query_id, vec_id, cos, rank.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
    firstK(corpus.select(col(idCol), col(vecCol).as("c_vec"))
      .crossJoin(broadcast(q))
      .withColumn("cos", round(tensor.cosine(col("q_vec"), col("c_vec")), 6)),
      k, queryIdCol, idCol, "cos")
  }

  /**
   * Deterministic coarse quantizer for [[ivfTopK]]: one centroid per value
   * of `cellCol` (mean vector, rounded to 6dp so the value is independent
   * of aggregation order). A production IVF trains k-means centroids; the
   * index/probe/re-rank machinery below is identical either way.
   */
  def labelCentroids(embeddings: DataFrame, vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame =
    embeddings.groupBy(col(cellCol).as("cell_id"))
      .agg(tensor.sumVec(col(vecCol)).as("sv"), count(lit(1)).as("n"))
      .select(col("cell_id"), transform(col("sv"), x => round(x / col("n"), 6)).as("centroid"))

  /**
   * IVF-style ANN: assign every corpus vector to its nearest centroid
   * (broadcast — centroid count is small by construction), probe the
   * query's `nprobe` nearest cells, exact cosine re-rank inside the
   * candidate cells. Work per query is ~nprobe/ncells of the corpus — the
   * inverted-file scale path; recall < 1 when the true neighbor lives in
   * an unprobed cell.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nprobe: Int = 2, k: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame = {
    val cb = broadcast(centroids.select(col("cell_id"), col("centroid")))
    // Cell assignment as a partial-aggregatable min_by, NOT a row_number
    // window: the window form sort-shuffles the corpus ×C with the full
    // vector riding in every frame row — the 100 TB killer. Here the
    // broadcast crossJoin is narrow, map-side partial aggregation collapses
    // the ×C expansion back to one row per vector BEFORE the exchange, and
    // the one shuffle carries each corpus row exactly once. first(c_vec) is
    // deterministic (the vector is constant within its group). Tie-break
    // matches the old window ordering: max cosine, then smallest cell_id —
    // min over the lexicographic struct (-ccos, cell_id). The IVF-PQ
    // builds route with the NearestCosineCell kernel instead; it takes
    // Int cell ids, and [[labelCentroids]] ids take the label's type.
    val assigned = corpus.select(col(idCol), col(vecCol).as("c_vec"))
      .crossJoin(cb)
      .withColumn("ccos", tensor.cosine(col("c_vec"), col("centroid")))
      .groupBy(col(idCol))
      .agg(first(col("c_vec")).as("c_vec"),
        min_by(col("cell_id"), struct((-col("ccos")).as("nc"), col("cell_id"))).as("cell_id"))
      .select(col(idCol), col("c_vec"), col("cell_id"))
    val probes = ivfPqProbes(queries, centroids, nprobe, queryIdCol, vecCol)
    // probes = queries × nprobe is small by assumption — broadcast it so
    // the corpus-side candidates never shuffle on cell_id; the only
    // exchange touching corpus-width rows stays the one-row-per-vector
    // assignment aggregate above.
    firstK(assigned.join(broadcast(probes), "cell_id")
      .withColumn("cos", round(tensor.cosine(col("q_vec"), col("c_vec")), 6)),
      k, queryIdCol, idCol, "cos")
  }

  /**
   * Distributed Lloyd's k-means over the embedding column — the trained
   * coarse quantizer for [[ivfTopK]] ([[labelCentroids]] is the
   * label-supervised shortcut). Execution is the 100 TB shape: the corpus
   * never shuffles whole vectors. Each iteration is (1) a cluster
   * assignment computed by an expression over the current centroid matrix
   * inlined as literals — no join, no shuffle — and (2) ONE map-side-
   * combined aggregation of per-(cluster, dim) means whose exchange
   * carries at most k×dim rows per partition; only the k×dim centroid
   * matrix (a few KB) reaches the driver, once per iteration, and rides
   * back into the next iteration's task closures as literals.
   *
   * Determinism (strict-oracle contract): init = the k smallest `idCol`
   * rows in id order (cid = rank); squared-L2 distances are left-fold
   * sums over dims (the DuckDB oracle's `list_reduce` order); assignment
   * ties break to the smallest cid (lexicographic struct min); updated
   * coordinates round to 6dp so their value is independent of
   * aggregation order. A cluster that loses all its points drops out on
   * both sides.
   */
  def kmeansFitCentroids(corpus: DataFrame, k: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Array[Double])] =
    lloyd(corpus, seedRows(corpus, k, idCol, vecCol), 1, iters, vecCol).head

  /** The ≤ k smallest-`idCol` rows' vectors in id order — every Lloyd's seed. */
  private def seedRows(corpus: DataFrame, k: Int, idCol: String,
      vecCol: String): IndexedSeq[Array[Double]] =
    corpus.orderBy(col(idCol)).select(col(vecCol).cast("array<double>"))
      .limit(k).collect().map(_.getSeq[Double](0).toArray).toIndexedSeq

  /** `iters` Lloyd's rounds of `m` per-subspace quantizers seeded with
    * `seeds` (code = seed index; m = 1 is plain k-means) — the one loop of
    * [[kmeansFitCentroids]] and [[pqFitCodebooks]] (see their scaladocs). */
  private def lloyd(corpus: DataFrame, seeds: IndexedSeq[Array[Double]], m: Int,
      iters: Int, vecCol: String): IndexedSeq[IndexedSeq[(Int, Array[Double])]] = {
    require(seeds.nonEmpty, "Lloyd's fit needs at least one seed row")
    val d = seeds.head.length / m
    val vecD = col(vecCol).cast("array<double>")
    var books = (0 until m).map(s => seeds.zipWithIndex.map {
      case (v, i) => (i, v.slice(s * d, (s + 1) * d))
    })
    for (_ <- 0 until iters) {
      val rows = corpus.select(pqCodeCols(vecD, books) :+ posexplode(vecD).as(Seq("pos", "x")): _*)
        .withColumn("sub", (col("pos") / d).cast("int"))
        .withColumn("code", element_at(
          array(books.indices.map(s => col(s"c$s")): _*), col("sub") + 1))
        .groupBy(col("sub"), col("code"), (col("pos") % d).as("subpos"))
        .agg(round(avg(col("x")), 6).as("m"))
        .collect()
      books = books.indices.map { s =>
        rows.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toIndexedSeq
          .sortBy(_._1).map { case (code, rs) =>
            (code, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
          }
      }
    }
    books
  }

  /** [[kmeansFitCentroids]] packaged as the (cell_id, centroid) relation
    * [[ivfTopK]] consumes. */
  def kmeansFit(corpus: DataFrame, k: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansFitCentroids(corpus, k, iters, idCol, vecCol)
      .map { case (cid, v) => (cid, v.toSeq) }.toDF("cell_id", "centroid")
  }

  /** Final assignment relation: (id, cluster, squared-L2 dist rounded to
    * 6dp) against a fitted centroid set. Pure projection — no join, no
    * shuffle (the centroid matrix is literal). */
  def kmeansAssign(corpus: DataFrame, cents: Seq[(Int, Array[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignedBy(corpus, idCol, bestCentroid(cents, col(vecCol).cast("array<double>")))

  /** (id, cluster, dist rounded to 6dp) from a nearest-centroid (d, cid). */
  private def assignedBy(corpus: DataFrame, idCol: String, best: Column): DataFrame =
    corpus.withColumn("__best", best).select(col(idCol),
      col("__best")("cid").as("cluster"), round(col("__best")("d"), 6).as("dist"))

  /** (d, cid) of the nearest centroid: squared-L2 left-fold per centroid,
    * ties to smallest cid. A native expression (NearestCentroid) carrying
    * the matrix as one referenced object — the previous array_min(array(
    * aggregate(zip_with(...)))) literal tree cost seconds of analyzer/
    * optimizer time PER ACTION at k=8×dim=64, which dominated the whole
    * fit on any corpus size (plan cost, not row cost). */
  private def bestCentroid(cents: Seq[(Int, Array[Double])], vec: Column): Column =
    org.apache.spark.sql.graft.NearestCentroid(vec, cents)

  /**
   * Two-level assignment — [[kmeansAssign]]'s O(√k)-per-row scale path.
   * The k fine centroids are clustered driver-side (the matrix is k×dim,
   * small by construction) into ~√k coarse cells; each row scans the
   * coarse cells, probes the `nprobe` nearest, and argmins over only
   * their fine members. Single-level assignment is O(k) per row, which
   * turns N×k ∝ N² under the SemDeDup rule that k grows with the corpus
   * at fixed cluster size — the 100x scale smoke measured 38x wall for
   * 10x data × 10x k on the single-level path, ~linear on this one.
   *
   * `nprobe` ≥ the coarse-cell count reproduces [[kmeansAssign]] exactly
   * (the spec pins this); small `nprobe` may mis-assign vectors near
   * coarse boundaries — acceptable for SemDeDup-style clustering, not for
   * an oracle-gated exact argmin. Deterministic: coarse clustering uses
   * smallest-cid init, fixed iterations, and smallest-id tie-breaks.
   */
  def kmeansAssignTwoLevel(corpus: DataFrame, cents: Seq[(Int, Array[Double])],
      nprobe: Int = 1, coarseK: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val kc = if (coarseK > 0) coarseK
      else math.max(1, math.ceil(math.sqrt(cents.size.toDouble)).toInt)
    if (cents.size <= 4 || kc >= cents.size)
      kmeansAssign(corpus, cents, idCol, vecCol)
    else {
      val (coarse, fine) = coarseCells(cents, kc)
      assignedBy(corpus, idCol, org.apache.spark.sql.graft.NearestCentroidTwoLevel(
        col(vecCol).cast("array<double>"), coarse, fine, nprobe))
    }
  }

  /** Driver-side Lloyd's over the fine-centroid MATRIX (not the corpus):
    * groups the k fine centroids into ≤ kc non-empty coarse cells.
    * Deterministic: init = smallest-cid centroids, 5 fixed iterations,
    * nearest-slot ties to the smallest slot; empty cells are dropped. */
  private def coarseCells(cents: Seq[(Int, Array[Double])], kc: Int)
      : (Seq[(Int, Array[Double])], Seq[(Int, Int, Array[Double])]) = {
    val sorted = cents.sortBy(_._1).toIndexedSeq
    val dim = sorted.head._2.length
    var coarse: IndexedSeq[Array[Double]] = sorted.take(kc).map(_._2.clone)
    var assign: IndexedSeq[Int] = null
    def nearestSlot(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var s = 0
      while (s < coarse.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val x = v(i) - coarse(s)(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = s }
        s += 1
      }
      best
    }
    for (_ <- 0 until 5) {
      assign = sorted.map { case (_, v) => nearestSlot(v) }
      coarse = coarse.indices.map { s =>
        val members = sorted.indices.filter(assign(_) == s)
        if (members.isEmpty) coarse(s)
        else {
          val m = new Array[Double](dim)
          members.foreach { mi => var i = 0
            while (i < dim) { m(i) += sorted(mi)._2(i); i += 1 } }
          var i = 0
          while (i < dim) { m(i) /= members.size; i += 1 }
          m
        }
      }
    }
    val nonEmpty = coarse.indices.filter(s => assign.contains(s))
    val slotId = nonEmpty.zipWithIndex.toMap
    val coarseOut = nonEmpty.map(s => (slotId(s), coarse(s))).toSeq
    val fineOut = sorted.indices.map { i =>
      (slotId(assign(i)), sorted(i)._1, sorted(i)._2)
    }.toSeq
    (coarseOut, fineOut)
  }

  /**
   * Cluster-balanced diversity sampling — the "diversify the training
   * mix" companion to semantic dedup: assign every embedding to a trained
   * k-means cluster ([[kmeansFitCentroids]] + [[kmeansAssign]]), then cap
   * each cluster at `cap` members, keeping the ones that sort first by a
   * salted portable hash. Where [[graft.operators.Dedup.semanticDedup]]
   * removes within-cluster redundancy pairwise, this bounds every
   * semantic region's share of the corpus directly — the embedding-space
   * analogue of [[graft.operators.TextAnalysis.stratifiedSample]]'s
   * per-source caps. Deterministic: no RNG; the keep set depends only on
   * (id, salt, cap) — identical across runs, partitionings, and engines.
   *
   * Scale shape: assignment is a shuffle-free projection (the centroid
   * matrix rides inside one native expression), and the rank window runs
   * over the NARROW (id, cluster, hash) projection — vectors never ride
   * the per-cluster sort-shuffle. Under the SemDeDup rule that k grows
   * with the corpus at fixed cluster size, per-cluster work stays
   * constant — and the k-means stages themselves get the same two
   * operating knobs as [[graft.operators.Dedup.semanticDedup]], both
   * default-off so the oracle-gated exact path is unchanged:
   * `fitFraction` < 1 fits the quantizer on a deterministic hash sample,
   * `twoLevelAssign` switches assignment to the O(√k)-per-row
   * [[kmeansAssignTwoLevel]] path.
   *
   * Output: (idCol, cluster, rank), rank 1-based within cluster.
   */
  def diversitySample(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      cap: Int = 20, idCol: String = "vec_id", vecCol: String = "embedding",
      salt: String = "div", fitFraction: Double = 1.0,
      twoLevelAssign: Boolean = false): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(fitFraction >= 1e-6 && fitFraction <= 1.0,
      s"fitFraction must be in [1e-6, 1], got $fitFraction")
    val fitInput =
      if (fitFraction >= 1.0) embeddings
      else embeddings.filter(
        pmod(TextAnalysis.portableHash(col(idCol).cast("string")), lit(1000000L))
          < lit((fitFraction * 1e6).toLong))
    val cents = kmeansFitCentroids(fitInput, k, iters, idCol, vecCol)
    val h = TextAnalysis.portableHash(
      concat(col(idCol).cast("string"), lit(":" + salt)))
    val assigned = (if (twoLevelAssign)
        kmeansAssignTwoLevel(embeddings, cents, nprobe = 1,
          idCol = idCol, vecCol = vecCol)
      else kmeansAssign(embeddings, cents, idCol, vecCol))
      .select(col(idCol), col("cluster"))
      .withColumn("__h", h)
    firstN(assigned, cap, Seq("cluster"), "rank")(col("__h"), col(idCol))
      .select(col(idCol), col("cluster"), col("rank"))
  }

  /**
   * Hard-negative mining for contrastive / metric learning: for EVERY
   * anchor vector, the top-`k` most-similar vectors carrying a DIFFERENT
   * label — the "closest wrong answers" that make informative training
   * negatives (easy random negatives teach an embedding model nothing).
   *
   * Scale shape: anchors never scan the corpus — candidates come from
   * sign-LSH buckets with one-sided single-bit multi-probe (the
   * [[graft.operators.Dedup.embeddingDupPairs]] pattern): only the
   * narrow (id, bucket, label) relation rides the ×(nPlanes+1) probe
   * explode and self-join, the label-mismatch filter prunes candidates
   * BEFORE pair dedup, and vectors join back once for the exact-cosine
   * re-rank of surviving candidates. Recall < 1 by construction (a
   * hard negative in a bucket ≥ 2 bit-flips away is missed) — the
   * standard ANN-mining trade; raise nPlanes probing or union multiple
   * hash families to tighten it.
   *
   * Buckets come from [[graft.operators.Dedup.signBucketHashed]] — the
   * hashed hyperplane family whose nPlanes planes are all distinct, so up
   * to 2^nPlanes buckets (the legacy 8-plane pattern is periodic and caps out at 16 buckets,
   * which would make the nPlanes knob below a no-op).
   *
   * Two SCALE knobs, both recall trades:
   *  - `nPlanes`: bucket count is 2^nPlanes, so at fixed nPlanes bucket
   *    populations grow ∝ corpus and the candidate self-join goes
   *    N²/2^nPlanes — grow nPlanes with the corpus
   *    (≈ log2(N / target bucket size)).
   *  - `maxBucket` (0 = off): more planes cannot split a bucket whose
   *    members are GENUINELY similar (dense semantic clusters keep
   *    bucket populations ∝ corpus at any nPlanes) — the same monster-
   *    bucket problem as MinHash boilerplate, with the same valve: cap
   *    the neighbor side of each bucket PER LABEL at its `maxBucket`
   *    smallest-id members (label-blind capping could evict a bucket's
   *    only rare-label vectors and leave its anchors negative-less),
   *    bounding candidates per anchor at (nPlanes+1)·maxBucket·labels.
   *    Deterministic (id order), and measured linear in the
   *    `hard_negatives_scaled` scale-smoke row recorded in BASELINE.md;
   *    the fixed-knob row is super-linear at 10x by construction. The
   *    bound BINDING is measured too: the `hard_negatives_saturated` row
   *    runs a dense-2-label corpus whose buckets exceed maxBucket at every
   *    tier, so candidates/anchor sit AT the bound and the tier ratio must
   *    be (and is) ~linear.
   *  - `maxCandPerAnchor` (0 = off): the HARD guarantee on top of the
   *    valve — after the bucket join, each anchor keeps only its first
   *    `maxCandPerAnchor` candidates in (n_id) order, applied to the
   *    narrow pair relation BEFORE vectors join back, so the cosine
   *    re-rank stage is bounded at cap·N pairs no matter what the data
   *    distribution does. Recall trade like any pre-score cap (eviction
   *    is id-ordered, not similarity-ordered); size it at a comfortable
   *    multiple of k.
   *
   * Top-k selection is the bounded [[TextAnalysis.topKByScore]]
   * aggregate, not a rank window: every vector is an anchor, so there
   * are as many keys as vectors and only a few candidates per key. A
   * per-task window group limit would prune almost nothing there and
   * still pay a local sort, while the aggregate's map-side partial mode
   * forwards at most k pairs per (task, anchor). With the default open
   * valves the plan has no WindowExec at all.
   *
   * Output: (anchor_id, neg_id, cos, rank), rank by descending cosine,
   * ties to the smaller neighbor id.
   */
  def hardNegatives(corpus: DataFrame, k: Int = 3, nPlanes: Int = 8,
      maxBucket: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label",
      maxCandPerAnchor: Int = 0): DataFrame = {
    val withV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withB = corpus.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      Dedup.signBucketHashed(col(vecCol).cast("array<double>"), nPlanes).as("bucket"))
    val probed = withB.select(col("id").as("a_id"), col("lbl").as("a_lbl"),
      explode(Dedup.probeBuckets(col("bucket"), nPlanes)).as("pbucket"))
    // dense-cluster valve: the NEIGHBOR side of a bucket is capped at its
    // maxBucket smallest-id members PER LABEL (narrow (bucket, id, lbl)
    // window) — per label, not per bucket, so a bucket's rare-label
    // members survive the cap and its anchors keep their negatives
    val neighbors0 = withB.select(col("bucket").as("pbucket"),
      col("id").as("n_id"), col("lbl").as("n_lbl"))
    val neighbors = if (maxBucket <= 0) neighbors0 else {
      firstN(neighbors0, maxBucket, Seq("pbucket", "n_lbl"), "__r")(col("n_id"))
        .drop("__r")
    }
    // no dedup pass needed: an anchor's nPlanes+1 probe buckets are
    // pairwise distinct and a neighbor lives in exactly one bucket, so a
    // (a_id, n_id) pair can match on at most one probe row (the same
    // argument semanticDupAgainstCorpus uses to omit DISTINCT)
    val cand0 = probed
      .join(neighbors, "pbucket")
      .filter(col("a_id") =!= col("n_id") && col("a_lbl") =!= col("n_lbl"))
      .select("a_id", "n_id")
    // hard per-anchor cap on the NARROW pair relation (vectors have not
    // joined back yet): the downstream cosine stage is bounded at cap·N
    val cand = if (maxCandPerAnchor <= 0) cand0 else {
      firstN(cand0, maxCandPerAnchor, Seq("a_id"), "__c")(col("n_id"))
        .drop("__c")
    }
    val scored = cand
      .join(withV.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(withV.select(col("id").as("n_id"), col("v").as("n_v")), "n_id")
      .select(col("a_id").as("anchor_id"), col("n_id").as("neg_id"),
        round(tensor.cosine(col("a_v"), col("n_v")), 6).as("cos"))
      // No NaN can reach topKByScore's comparator: CosineSim's CONTRACT
      // (CosineSim.scala:78) maps zero-norm and null vectors to 0.0,
      // never 0/0 — and the oracle's cos() mirrors the same CASE
      // (Oracles.cos: ELSE 0.0). So the aggregate and the DuckDB oracle
      // see the identical well-ordered score set even on degenerate
      // embeddings; a `!isnan(cos)` guard here would be dead code that,
      // were it ever live, would DROP pairs the oracle still ranks at 0.0.
    topKByAgg(scored, k, "anchor_id", "neg_id", "cos")
  }

  // ---- Product quantization (Jegou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") ----

  /** Left-fold squared-L2 distance between two array<double> columns —
    * the same element-order fold as the DuckDB oracle's list_reduce. */
  private def sqDistCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Sub-dimension of PQ codebooks — the one check that they are non-empty. */
  private def subDim(books: IndexedSeq[IndexedSeq[(Int, Array[Double])]]): Int = {
    require(books.nonEmpty && books.head.nonEmpty,
      "PQ needs non-empty codebooks (m >= 1 subspaces, >= 1 code each)")
    books.head.head._2.length
  }

  /** A small (id → vector) table as a literal map column. */
  private def vecMap(rows: Seq[(Int, Array[Double])]): Column =
    typedLit(rows.map { case (c, v) => (c, v.toSeq) }.toMap)

  /** The m per-subspace NearestCentroid assignments (struct d, cid) of an
    * array<double> column — every PQ encode (fit, encode, ADC scan, index
    * builds, OPQ's decode) goes through it. */
  private def pqAssign(vec: Column,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]]): IndexedSeq[Column] = {
    val d = subDim(books)
    books.indices.map(s =>
      org.apache.spark.sql.graft.NearestCentroid(slice(vec, s * d + 1, d), books(s)))
  }

  /** [[pqAssign]]'s codes as the index columns c0..c{m-1}. */
  private def pqCodeCols(vec: Column,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]]): IndexedSeq[Column] =
    pqAssign(vec, books).zipWithIndex.map { case (a, s) => a("cid").as(s"c$s") }

  /** The ADC of `qVec` to codes c0..c{m-1}: per-subspace squared-L2 folds
    * summed in subspace order, rounded to 6dp. */
  private def adcCol(qVec: Column,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]]): Column = {
    val d = subDim(books)
    round(books.indices.map(s =>
      sqDistCol(slice(qVec, s * d + 1, d), element_at(vecMap(books(s)), col(s"c$s")))
    ).reduceLeft(_ + _), 6)
  }

  /**
   * Product-quantization codebooks: split every `dim`-vector into `m`
   * contiguous subspaces of dim/m coordinates and fit an independent
   * deterministic Lloyd's quantizer of `ksub` centroids in each — the
   * memory side of the 100 TB ANN story. A PQ code is m small ints
   * (m bytes at ksub<=256) instead of 4·dim bytes of floats: at
   * dim=64/m=8 the index compresses 32x, which is what lets a
   * billion-vector index live in executor memory while the raw vectors
   * stay in parquet.
   *
   * Scale shape: ONE aggregation pass per iteration covers ALL m
   * subspaces — each row computes its m sub-assignments inside a single
   * projection (m native NearestCentroid expressions over sliced
   * vectors), the per-dim explode maps dims to (subspace, coordinate),
   * and the exchange after map-side partial aggregation carries at most
   * m·ksub·(dim/m) = ksub·dim rows per partition. Only the codebook
   * matrix (ksub·dim doubles, a few KB) ever reaches the driver, once
   * per iteration.
   *
   * Determinism (strict-oracle contract, same rules as
   * [[kmeansFitCentroids]] applied per subspace): init = the ksub
   * smallest-id rows' sub-vectors in id order (code = rank); assignment
   * ties break to the smallest code; updated coordinates round to 6dp;
   * a code that loses all its points drops out on both sides. Caveat
   * (same accepted risk as [[kmeansFitCentroids]]): the centroid update
   * is avg(x), whose partial-aggregation summation order is
   * partition-dependent BEFORE the 6dp round — a coordinate mean landing
   * exactly on a rounding boundary could differ in the last digit from
   * an ordered-fold engine. Not observed at any tested SF; the round
   * absorbs everything short of an exact half-ulp boundary.
   *
   * Requires at least `ksub` corpus rows (init seeds one code per row).
   */
  def pqFitCodebooks(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding")
      : IndexedSeq[IndexedSeq[(Int, Array[Double])]] = {
    val seeds = seedRows(corpus, ksub, idCol, vecCol)
    require(seeds.length == ksub,
      s"pqFitCodebooks needs >= ksub=$ksub corpus rows to seed the " +
        s"codebooks, got ${seeds.length}")
    val dim = seeds.head.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    lloyd(corpus, seeds, m, iters, vecCol)
  }

  /**
   * PQ encoding — each vector's per-subspace nearest-code assignment, in
   * long form (id, sub, code, dist). Pure shuffle-free projection: the
   * codebooks ride inside m native NearestCentroid expressions, the
   * explode to one-row-per-subspace is narrow. `dist` is the exact
   * squared-L2 of the sub-vector to its code centroid (the per-row
   * quantization error term), rounded to 6dp.
   */
  def pqEncode(corpus: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val entries = pqAssign(col(vecCol).cast("array<double>"), books)
      .zipWithIndex.map { case (best, s) =>
        struct(lit(s).as("sub"), best("cid").as("code"),
          round(best("d"), 6).as("dist"))
      }
    corpus.select(col(idCol), explode(array(entries: _*)).as("e"))
      .select(col(idCol), col("e")("sub").as("sub"),
        col("e")("code").as("code"), col("e")("dist").as("dist"))
  }

  /**
   * Asymmetric-distance (ADC) top-k over the PQ index: the query keeps
   * its exact vector, every corpus vector is represented only by its m
   * codes — approximate distance = Σ over subspaces of
   * ||query_sub − codebook[code]||². The scale point is what the scoring
   * join DOESN'T read: corpus vectors never ride it (the encode
   * projection reduces each row to m small ints before the broadcast
   * crossJoin), so the scan side is the 32x-compressed index, not the
   * parquet floats. Recall < 1 by construction (quantization error).
   *
   * The per-pair kernel here evaluates the per-subspace fold directly
   * (O(dim) per pair) so the double arithmetic is bit-identical to the
   * DuckDB oracle's per-subspace list_reduce folds summed in subspace
   * order; a production kernel hoists the per-query distance table
   * (m·ksub entries) out of the pair loop for O(m) per pair — an
   * algebraically identical regrouping of the same sums.
   *
   * Output: (query_id, vec_id, adc, rank), rank by ascending ADC, ties
   * to the smaller corpus id.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]], k: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val q = broadcast(queries.select(col(queryIdCol), vecD.as("q_vec")))
    firstK(corpus.select(col(idCol) +: pqCodeCols(vecD, books): _*)
      .crossJoin(q)
      .withColumn("adc", adcCol(col("q_vec"), books)),
      k, queryIdCol, idCol, "adc", ascending = true)
  }

  /**
   * IVF-PQ (IVFADC) top-k — the composition of the trained coarse
   * quantizer ([[ivfTopK]]'s cell routing) with the product-quantized
   * index ([[pqTopK]]'s asymmetric distance): queries are routed to
   * their `nprobe` nearest cells, and ADC is computed ONLY over the
   * probed cells' codes. This is the billion-vector ANN operating point
   * of Jégou, Douze & Schmid 2011 ("Product Quantization for Nearest
   * Neighbor Search", IVFADC variant): the inverted lists bound the scan
   * to nprobe/C of the index, and the index itself is the 32x-compressed
   * code table, not the raw vectors.
   *
   * Scale shape, piecewise:
   *  - Index build is ONE shuffle-free projection ([[ivfPqIndex]]): the
   *    native NearestCosineCell kernel routes each vector and m native
   *    NearestCentroid expressions encode it — the raw vector never
   *    crosses an exchange.
   *  - Query routing is a broadcast crossJoin against the C-row centroid
   *    table (queries × C is tiny by assumption).
   *  - Scoring joins the encoded index to the BROADCAST probe set on
   *    cell_id: rows outside probed cells drop at the join before any
   *    distance arithmetic, and the scan side carries only codes. On a
   *    cell_id-bucketed index table this becomes partition pruning; at
   *    bench scale it is the broadcast-semi-join equivalent.
   *
   * Determinism: cell routing = max cosine, ties to smallest cell_id
   * (the rule [[ivfTopK]] and [[ivfPqProbes]] rank by); ADC = per-subspace squared-L2 folds
   * summed in subspace order (identical to [[pqTopK]]); rank by
   * ascending ADC, ties to the smaller corpus id. Recall < 1 by
   * construction (coarse routing AND quantization error compound).
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]], nprobe: Int = 2,
      k: Int = 10, idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame =
    ivfPqTopKFromIndex(ivfPqIndex(corpus, centroids, books, idCol, vecCol),
      ivfPqProbes(queries, centroids, nprobe, queryIdCol, vecCol),
      books, k, idCol, queryIdCol)

  /**
   * The IVF-PQ INDEX relation: (id, cell_id, c0..c{m-1}) — one row per
   * corpus row, the vector replaced by its coarse cell and m PQ codes of
   * `x` itself (the residual and OPQ builds encode `x − c(cell)` and
   * `R·(x − c(cell))` through the same [[ivfRouted]] pass). One
   * shuffle-free projection; a NULL vector gets NULL cell and codes.
   * This is the relation a production deployment PERSISTS
   * (bucketed by cell_id via [[graft.sources.Storage.writeBucketed]]):
   * the build cost amortizes over every query batch, and a cell_id
   * filter on the stored table becomes physical bucket pruning at the
   * scan (asserted in StorageSpec; q154 runs exactly that shape).
   */
  def ivfPqIndex(corpus: DataFrame, centroids: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqIndexOf(ivfRouted(corpus, centroids, idCol, vecCol)((x, _) => x),
      books, idCol)

  /**
   * Query→cell routing: (query_id, q_vec, cell_id), one row per probed
   * cell — each query's `nprobe` max-cosine cells (ties to the smaller
   * cell_id) from a broadcast crossJoin against the C-row centroid
   * table. The rank filter is planned with a partial `WindowGroupLimit`
   * before the per-query exchange, so at most nprobe rows per
   * (task, query) cross it, whatever the centroid count.
   */
  def ivfPqProbes(queries: DataFrame, centroids: DataFrame, nprobe: Int = 2,
      queryIdCol: String = "query_id", vecCol: String = "embedding"): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val cb = broadcast(centroids.select(col("cell_id"), col("centroid")))
    firstN(queries.select(col(queryIdCol), vecD.as("q_vec"))
      .crossJoin(cb)
      .withColumn("qcos", tensor.cosine(col("q_vec"), col("centroid"))),
      nprobe, Seq(queryIdCol), "__rn")(col("qcos").desc, col("cell_id"))
      .select(col(queryIdCol), col("q_vec"), col("cell_id"))
  }

  /** Shared ADC scoring stage: probed index rows (the cell_id equi-join
    * against the broadcast probe set drops unprobed cells before any
    * distance arithmetic) with their ADC attached. */
  private def ivfPqScored(index: DataFrame, probes: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]]): DataFrame =
    index.join(broadcast(probes), "cell_id")
      .withColumn("adc", adcCol(col("q_vec"), books))

  /**
   * IVFADC scoring over a PREBUILT index relation — [[ivfPqTopK]] with
   * the index build factored out, so the index can come straight from
   * [[ivfPqIndex]] or be read back from bucketed storage. `index` must
   * have the (id, cell_id, c0..c{m-1}) shape [[ivfPqIndex]] produces;
   * rows outside probed cells may already be filtered away (e.g. a
   * cell_id isin pushdown that bucket-prunes the stored table — q154) —
   * the cell_id equi-join makes that filter a no-op on results. Works
   * unchanged over every family's index with that family's probes. The rank
   * filter is planned with a partial `WindowGroupLimit` before the
   * per-query exchange, so at most k scored rows per (task, query)
   * cross it.
   */
  def ivfPqTopKFromIndex(index: DataFrame, probes: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]], k: Int = 10,
      idCol: String = "vec_id", queryIdCol: String = "query_id"): DataFrame =
    firstK(ivfPqScored(index, probes, books), k, queryIdCol, idCol, "adc",
      ascending = true)

  /**
   * IVFADC+R — [[ivfPqTopK]]'s ADC scoring followed by EXACT re-ranking
   * of the top-R ADC shortlist against the true vectors (Jégou, Douze &
   * Schmid 2011, "Product Quantization for Nearest Neighbor Search",
   * the IVFADC+R variant): ADC ordering carries quantization error —
   * the measured round-15 recall@10 at default knobs on the diverse
   * tier was 0.38 — so the standard remedy keeps R ≥ k ADC candidates
   * and re-scores ONLY those with the exact metric. Routing loss (a
   * true neighbor in an unprobed cell) is the remaining ceiling: rerank
   * recall converges to the probed-cells-exact recall ([[ivfTopK]] over
   * the same cells) as R grows, at R·|queries| exact distances instead
   * of the probed cells' full membership.
   *
   * Scale shape: the shortlist is bounded at R rows per (task, query) by
   * the [[TextAnalysis.topKByScore]] aggregate, and the exact re-score
   * joins the R·|queries|-row shortlist against the corpus BY ID — the
   * shortlist BROADCASTS, so the corpus side is a broadcast-hash probe
   * (no corpus shuffle, no new scan shape). The final top-k is the same
   * bounded aggregate at k.
   *
   * Output: (query_id, vec_id, cos, rank) — [[bruteForceTopK]]'s schema
   * and metric (cosine desc, ties to the smaller corpus id), because
   * after exact re-scoring the ranking IS an exact ranking of the
   * shortlist.
   */
  def ivfPqTopKRerank(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      nprobe: Int = 2, k: Int = 10, r: Int = 40, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame =
    ivfPqTopKRerankFromIndex(ivfPqIndex(corpus, centroids, books, idCol, vecCol),
      ivfPqProbes(queries, centroids, nprobe, queryIdCol, vecCol),
      queries, corpus, books, k, r, idCol, vecCol, queryIdCol)

  /**
   * [[ivfPqTopKRerank]] over a PREBUILT index relation of any IVF-PQ
   * family with that family's probes — the production composition: the
   * index may be read back from bucketed storage and cell-pruned (q154;
   * the cell_id equi-join makes that filter a results no-op), and the
   * exact re-score joins the broadcast shortlist against the TRUE vectors
   * by id. True query vectors come from `queries` (one row per query id):
   * residual and OPQ probes carry per-cell residuals. `corpus` serves only
   * the re-score — at production scale the stored vector table, probed
   * by the broadcast id-join without a shuffle.
   */
  def ivfPqTopKRerankFromIndex(index: DataFrame, probes: DataFrame,
      queries: DataFrame, corpus: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      k: Int = 10, r: Int = 40, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame = {
    require(r >= k, s"rerank shortlist r=$r must be >= k=$k")
    val shortlist = topKByAgg(ivfPqScored(index, probes, books)
        .withColumn("__nadc", -col("adc")), r, queryIdCol, idCol, "__nadc")
      .select(col(queryIdCol), col(idCol))
    val qv = queries.select(col(queryIdCol),
      col(vecCol).cast("array<double>").as("q_vec"))
    topKByAgg(corpus.select(col(idCol), col(vecCol).as("c_vec"))
      .join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qv), Seq(queryIdCol))
      .withColumn("cos", round(tensor.cosine(col("q_vec"), col("c_vec")), 6)),
      k, queryIdCol, idCol, "cos")
  }

  /**
   * Approximate top-k via sign-LSH: candidates share the query's bucket or
   * any single-bit-flip neighbor; exact cosine re-rank inside candidates.
   * Recall < 1 by construction; the scale path when queries are many.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nPlanes: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val cb = corpus.select(col(idCol), col(vecCol).as("c_vec"),
      Dedup.signBucket(col(vecCol), nPlanes).as("bucket"))
    val qb = queries.select(col(queryIdCol), col(vecCol).as("q_vec"),
      Dedup.signBucket(col(vecCol), nPlanes).as("qbucket"))
    // probe: query also looks in all single-bit-flip buckets
    val probed = qb.select(col(queryIdCol), col("q_vec"),
      explode(Dedup.probeBuckets(col("qbucket"), nPlanes)).as("bucket"))
    firstK(probed.join(cb, Seq("bucket"))
      .dropDuplicates(queryIdCol, idCol)
      .withColumn("cos", round(tensor.cosine(col("q_vec"), col("c_vec")), 6)),
      k, queryIdCol, idCol, "cos")
  }

  /**
   * Quantizer REFRESH for a stored IVF-PQ index — the drift-maintenance
   * op the frozen-quantizer contract eventually requires. Frozen
   * quantizers (trained once, reused across every build/append/probe —
   * the q162 production contract) are exactly right while the corpus
   * distribution holds; as ingest drifts it, the coarse cells unbalance
   * and the PQ codebooks stop covering the data, and recall decays with
   * no knob to win it back (raising nprobe/R re-ranks the WRONG
   * shortlist — BASELINE.md's sweep shows both saturate). The remedy is
   * periodic: retrain BOTH quantizers on the current corpus, re-encode
   * every vector, and swap the rewritten index in atomically.
   *
   * Mechanics: one corpus training pass per quantizer (the same
   * deterministic [[kmeansFit]]/[[pqFitCodebooks]] fits as the original
   * build — smallest-id init, fixed iterations, 6dp-rounded means, so
   * refresh(corpus) ≡ build(corpus) row-for-row), one [[ivfPqIndex]]
   * encode pass, and [[graft.sources.Storage.rewriteInPlace]]'s
   * crash-safe rename swap (compaction's machinery — at no point is the
   * index unreachable, and a crash mid-swap repairs on the next
   * maintenance call). The swap deletes the old snapshot's files before
   * it returns, so a probe must re-resolve the index table after a
   * refresh; a plan resolved before it reads deleted files.
   * Cost: O(corpus) — the same price as the original build, paid once
   * per drift epoch, vs. the append path's O(batch) per batch; schedule
   * it like compaction. Returns the fresh (centroids, codebooks) —
   * probes MUST route with these from the swap on (stale-quantizer
   * routing against a refreshed index would probe the wrong cells).
   */
  def refreshStoredIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, indexTable: String, k: Int = 8, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, buckets: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, IndexedSeq[IndexedSeq[(Int, Array[Double])]]) = {
    val cents = kmeansFit(corpus, k, iters, idCol, vecCol)
    val books = pqFitCodebooks(corpus, m, ksub, iters, idCol, vecCol)
    graft.sources.Storage.rewriteInPlace(spark, indexTable, "cell_id",
      buckets)(_ => ivfPqIndex(corpus, cents, books, idCol, vecCol))
    (cents, books)
  }

  /** Collect a (cell_id, centroid) relation to the driver-side matrix the
    * native routing/residual expressions carry. Bounded by construction —
    * a coarse quantizer is C ≈ √N cells of a few hundred bytes each; the
    * require is the same misuse valve as the probe-cell isin caps. */
  private def centroidMatrix(centroids: DataFrame): Seq[(Int, Array[Double])] = {
    val rows = centroids.select(col("cell_id"), col("centroid").cast("array<double>"))
      .limit(65537).collect()
    require(rows.length <= 65536,
      "centroid table exceeds 65536 cells — not a coarse quantizer; " +
        "train fewer cells")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toSeq
  }

  /** The one routing pass of every IVF-PQ family: (id, extraCols,
    * cell_id, res) — max cosine, ties to the smaller cell_id, by the
    * native NearestCosineCell kernel — with `res` = pqInput(x,
    * centroid(cell)), the vector the family's quantizer encodes. One
    * shuffle-free projection: the raw vector never crosses an exchange. */
  private def ivfRouted(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, extraCols: Seq[String] = Nil)(
      pqInput: (Column, Column) => Column): DataFrame = {
    val cents = centroidMatrix(centroids)
    val vecD = col(vecCol).cast("array<double>")
    corpus
      .withColumn("cell_id",
        org.apache.spark.sql.graft.NearestCosineCell(vecD, cents))
      .select(col(idCol) +: extraCols.map(col) :+ col("cell_id") :+
        pqInput(vecD, element_at(vecMap(cents), col("cell_id"))).as("res"): _*)
  }

  /** A routed relation's index rows (id, extraCols, cell_id, c0..c{m-1}). */
  private def pqIndexOf(routed: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]], idCol: String,
      extraCols: Seq[String] = Nil): DataFrame =
    routed.select(col(idCol) +: extraCols.map(col) ++:
      col("cell_id") +: pqCodeCols(col("res"), books): _*)

  /**
   * RESIDUAL relation for the true-IVFADC family (Jégou, Douze & Schmid
   * 2011 §III): each vector's assigned coarse cell (the routing of
   * [[ivfPqIndex]]) and the residual `x − centroid(cell)` the product
   * quantizer then encodes. Raw PQ ([[ivfPqIndex]]) quantizes the
   * original subvectors, so every codebook must cover the whole data
   * spread; quantizing residuals centers every cell's distribution at
   * the origin, and the same codebook budget buys a finer quantization
   * of what actually varies — the measured recall gap in BASELINE.md's
   * sweep. One shuffle-free projection ([[ivfRouted]]; the subtraction
   * is `zip_with`).
   */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraCols: Seq[String] = Nil): DataFrame =
    ivfRouted(corpus, centroids, idCol, vecCol, extraCols)(
      (x, c) => zip_with(x, c, (a, b) => a - b))

  /** PQ codebooks trained on RESIDUALS — [[pqFitCodebooks]]'s exact fit
    * (ksub smallest-id init, per-subspace Lloyd's, 6dp-rounded means,
    * smallest-code ties) run over [[ivfResiduals]] instead of the raw
    * vectors. This is the codebook the true-IVFADC index encodes with;
    * training and encoding MUST use the same centroids. */
  def pqFitCodebooksResidual(corpus: DataFrame, centroids: DataFrame,
      m: Int = 8, ksub: Int = 16, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): IndexedSeq[IndexedSeq[(Int, Array[Double])]] =
    pqFitCodebooks(ivfResiduals(corpus, centroids, idCol, vecCol),
      m, ksub, iters, idCol, "res")

  /**
   * The RESIDUAL (true IVFADC) index relation: (id, extraCols, cell_id,
   * c0..c{m-1}) — [[ivfPqIndex]]'s shape, but the m codes quantize the
   * residual `x − centroid(cell)` against residual-trained codebooks
   * ([[pqFitCodebooksResidual]]). Same persistence contract (bucket by
   * cell_id, probe with an isin that bucket-prunes), same single
   * shuffle-free projection ([[ivfResiduals]] + m native NearestCentroid
   * codes fused into one select).
   *
   * `extraCols` carries FILTERABLE METADATA columns (label, source,
   * license tier …) into the index relation next to the codes — the
   * FAISS-IDSelector-style production shape for FILTERED ANN: with the
   * attribute stored in the index, a probe-time predicate reaches the
   * (bucket-pruned) index SCAN as a pushed parquet filter, so
   * filtering costs nothing extra and the shortlist is built only from
   * passing rows (rank-k over the filtered set, not post-filtered
   * rank-k — the semantics a "top-k WHERE license = permissive" query
   * means). A few bytes per row; the build stays one shuffle-free
   * projection.
   */
  def ivfPqIndexResidual(corpus: DataFrame, centroids: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      extraCols: Seq[String] = Nil): DataFrame =
    pqIndexOf(ivfResiduals(corpus, centroids, idCol, vecCol, extraCols),
      books, idCol, extraCols)

  /** [[ivfPqProbes]] with each (query, probed cell) row's `q_vec`
    * residualized to `q − centroid(cell)` — ADC against a residual index
    * compares residual to residual within the probed cell (Jégou 2011
    * eq. 17: ‖(q − c) − pq(x − c)‖²). Broadcast join against the C-row
    * centroid table; queries×nprobe rows. */
  def ivfPqResidualProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int = 2, queryIdCol: String = "query_id",
      vecCol: String = "embedding"): DataFrame =
    ivfPqProbes(queries, centroids, nprobe, queryIdCol, vecCol)
      .join(broadcast(centroids.select(col("cell_id"),
        col("centroid").cast("array<double>").as("__cent"))), "cell_id")
      .select(col(queryIdCol),
        zip_with(col("q_vec"), col("__cent"), (x, c) => x - c).as("q_vec"),
        col("cell_id"))

  /**
   * TRUE-IVFADC top-k (residual encoding — Jégou, Douze & Schmid 2011
   * §III): [[ivfPqTopK]] with the index quantizing residuals and the
   * probes carrying query residuals per probed cell. The ADC scoring
   * stage is IDENTICAL machinery ([[ivfPqTopKFromIndex]] works unchanged
   * over a residual index + residual probes, because ADC is oblivious to
   * what the codes and q_vec are relative to) — the residual form just
   * feeds it centered inputs, which is where the recall improvement
   * comes from. Determinism: same rules as [[ivfPqTopK]].
   */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      nprobe: Int = 2, k: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame =
    ivfPqTopKFromIndex(
      ivfPqIndexResidual(corpus, centroids, books, idCol, vecCol),
      ivfPqResidualProbes(queries, centroids, nprobe, queryIdCol, vecCol),
      books, k, idCol, queryIdCol)

  // ---- Drift detection for stored ANN indexes (round-19) ----

  /** Quantization error of a batch under FROZEN quantizers, over the
    * relation the family's quantizer encodes — [[ivfResiduals]] for the
    * residual family, [[opqResiduals]] for OPQ: (rows, total squared
    * sub-vector error) where total = Σ over rows and subspaces of
    * ‖res_sub − code_centroid‖² — [[pqEncode]]'s per-assignment `dist`,
    * which the index build already computes and discards. This is THE
    * drift statistic for a frozen-quantizer index: in-distribution
    * batches score near the training error; a distribution shift the
    * codebooks never saw scores visibly higher, and recall decay follows
    * (BASELINE.md's drift sweep). An empty batch scores (0, 0.0).
    *
    * One linear encode pass over the batch (shuffle-free projection +
    * a 2-value aggregate) — cheap enough to piggyback on every append.
    * The TOTAL is returned rather than the mean: `dist` values are
    * exact 6dp decimals, so their rounded sum is engine-reproducible,
    * while a mean's division lands on arbitrary digits (thresholds
    * compare total·n cross-multiplied, exactly). */
  def quantizationError(residuals: DataFrame,
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      idCol: String = "vec_id", resCol: String = "res"): (Long, Double) = {
    val row = pqEncode(residuals, books, idCol, resCol)
      .agg(count(lit(1)), coalesce(round(sum(col("dist")), 6), lit(0.0)))
      .collect()(0)
    (row.getLong(0) / books.size, row.getDouble(1))
  }

  /** Append one generation's drift statistic to the stats side table
    * (created on first use; bucketed by gen — the table is O(appends
    * since last refresh), a few bytes per generation). */
  def recordDriftStat(spark: org.apache.spark.sql.SparkSession,
      statTable: String, statPath: String, gen: Long, n: Long,
      totalErr: Double): Unit = {
    import spark.implicits._
    val df = Seq((gen, n, totalErr)).toDF("gen", "n", "total_err")
    if (spark.catalog.tableExists(statTable))
      graft.sources.Storage.appendBucketed(df, statTable,
        bucketCol = "gen", buckets = 1)
    else
      graft.sources.Storage.writeBucketed(df, statTable, statPath,
        bucketCol = "gen", buckets = 1)
  }

  /** The stats relation, oldest generation first — metadata-cheap (the
    * table holds one tiny row per append since the last refresh). */
  def driftStats(spark: org.apache.spark.sql.SparkSession,
      statTable: String): DataFrame = {
    spark.catalog.refreshTable(statTable)
    spark.table(statTable).orderBy("gen")
  }

  /** Threshold maintenance for a stored RESIDUAL index: if the LATEST
    * recorded generation's per-row quantization error exceeds `factor`×
    * the BASELINE generation's (the oldest row — the post-refresh
    * restamp), retrain+re-encode+swap via
    * [[refreshStoredIvfPqIndexResidual]] and RESET the stats table to a
    * single fresh baseline row (the full current corpus under the fresh
    * quantizers, stamped with the latest generation id). Returns the
    * fresh quantizers when a refresh ran — probes MUST switch to them —
    * and None when the index is healthy. The comparison cross-multiplies
    * totals by row counts (total_latest·n_base > factor·total_base·
    * n_latest), so no division touches the recorded exact-decimal
    * totals. This is the self-maintaining wire the 24/7 loops were
    * missing: append → recordDriftStat → refreshResidualIfDrifted on
    * the maintenance cadence, no manual trigger. */
  def refreshResidualIfDrifted(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, indexTable: String, statTable: String,
      statPath: String, factor: Double = 2.0, k: Int = 8, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, buckets: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Option[(DataFrame, IndexedSeq[IndexedSeq[(Int, Array[Double])]])] =
    refreshIfDrifted(spark, statTable, factor)(
      refreshStoredIvfPqIndexResidual(spark, corpus, indexTable, k, m,
        ksub, iters, buckets, idCol, vecCol)) { case (cents, books) =>
      quantizationError(ivfResiduals(corpus, cents, idCol, vecCol), books, idCol)
    }

  /** [[refreshResidualIfDrifted]] for an OPQ stored index — the same
    * threshold contract, firing [[refreshStoredIvfPqIndexOpq]] (all
    * three fits re-coupled) and restamping the baseline with the fresh
    * triple's full-corpus error. */
  def refreshOpqIfDrifted(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, indexTable: String, statTable: String,
      statPath: String, factor: Double = 2.0, k: Int = 8, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, sweeps: Int = 2, buckets: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Option[(DataFrame, Array[Array[Double]],
                IndexedSeq[IndexedSeq[(Int, Array[Double])]])] =
    refreshIfDrifted(spark, statTable, factor)(
      refreshStoredIvfPqIndexOpq(spark, corpus, indexTable, k, m, ksub,
        iters, sweeps, buckets, idCol, vecCol)) { case (cents, r, books) =>
      quantizationError(opqResiduals(corpus, cents, r, idCol, vecCol), books, idCol)
    }

  /** The one drift-threshold body of the refresh entries above: when due,
    * `refresh` and restamp the stats table to one baseline row, the full
    * corpus's `error` under the fresh quantizers at the latest gen. */
  private def refreshIfDrifted[Q](spark: org.apache.spark.sql.SparkSession,
      statTable: String, factor: Double)(refresh: => Q)(
      error: Q => (Long, Double)): Option[Q] = {
    require(factor > 0, "drift factor must be positive")
    val stats = driftStats(spark, statTable).collect()
    if (stats.length < 2) return None // baseline only — nothing to compare
    val base = stats.head
    val latest = stats.last
    val due = latest.getDouble(2) * base.getLong(1) >
      factor * base.getDouble(2) * latest.getLong(1)
    if (!due) return None
    val fresh = refresh
    val (n, err) = error(fresh)
    graft.sources.Storage.rewriteInPlace(spark, statTable, "gen", 1) { _ =>
      import spark.implicits._
      Seq((latest.getLong(0), n, err)).toDF("gen", "n", "total_err")
    }
    Some(fresh)
  }

  // ---- OPQ: optimized product quantization (Ge, He, Ke & Sun,
  // "Optimized Product Quantization for Approximate Nearest Neighbor
  // Search", CVPR 2013 — public knowledge) ----

  /** Apply a FIXED rotation matrix to an `array<double>` column:
    * out[i] = Σ_j r[i][j]·v[j]. One projection — the matrix rides as a
    * literal array-of-arrays and the per-coordinate dot is the same
    * zip_with/aggregate left fold as [[tensor.dot]] (and therefore the
    * DuckDB oracle's `list_reduce` mirror). DELIBERATELY unrounded: a
    * per-row fold in a fixed order is bit-identical across engines
    * already, whereas 6dp-stabilizing here would turn every downstream
    * codebook MEAN into a mean of exact 6dp decimals — which lands on
    * exact decimal ties at the 7th digit for ~1/groupsize of
    * coordinates, exactly where the order-dependent partial sum makes
    * round()/floor() engine-divergent (observed: 10 of 128 book rows at
    * sf0.001 before this was removed). Unrounded inputs keep the fit's
    * tie probability at the residual family's negligible level. */
  def rotate(vec: Column, r: Array[Array[Double]]): Column = {
    val rl = typedLit(r.map(_.toSeq).toSeq)
    transform(rl, rr => aggregate(zip_with(rr, vec, (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x))
  }

  /** OPQ rotation + codebooks, the non-parametric alternation of Ge 2013
    * §4 over an (id, residual) relation: starting from R = I, alternate
    * (a) fit PQ codebooks on the ROTATED residuals ([[pqFitCodebooks]]'s
    * exact deterministic fit) and (b) re-solve the rotation as the
    * orthogonal Procrustes problem min_R ‖R·x − y‖²_F against the
    * current reconstruction y = decode(encode(R·x)) — solved in closed
    * form as R = U·Vᵀ from the SVD of M = Σ_n y xᵀ (U·Vᵀ is invariant
    * under the SVD's per-column sign ambiguity, so the solution is
    * well-defined whenever M is nonsingular). The returned pair is
    * COHERENT: the books are trained on rotate(R)-rotated residuals for
    * the returned R, which is what the encode/probe path needs.
    *
    * Scale shape: each Procrustes step is ONE aggregation pass — every
    * row computes its reconstruction (m native NearestCentroid codes +
    * literal-map decode) and its flattened d×d outer product y·xᵀ inside
    * a single projection, and the groupBy(pos) sum exchanges at most d²
    * partial sums per partition; only the d×d matrix (a few KB) reaches
    * the driver, where breeze's LAPACK SVD solves a 64×64 problem.
    * Like every quantizer fit here, production trains on a SAMPLE of
    * the corpus and freezes the result (the frozen-quantizer contract).
    *
    * Determinism (strict-oracle contract): R is rounded to 6dp after
    * every Procrustes solve — the final codebook fit and all encoding
    * run against the ROUNDED matrix, so an engine given the same 64×64
    * literals (the oracle embeds them) reproduces the fit exactly. The
    * accepted kmeans caveat (partial-sum order before a round) applies
    * to M's entries; M is rounded to 6dp before the SVD to absorb it.
    */
  def opqFitRotation(residuals: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, sweeps: Int = 2, idCol: String = "vec_id",
      resCol: String = "res")
      : (Array[Array[Double]], IndexedSeq[IndexedSeq[(Int, Array[Double])]]) = {
    require(sweeps >= 1, "opqFitRotation needs at least one sweep")
    val dim = residuals.select(size(col(resCol)).as("d")).limit(1)
      .collect()(0).getInt(0)
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var books: IndexedSeq[IndexedSeq[(Int, Array[Double])]] = IndexedSeq.empty
    for (sweep <- 1 to sweeps) {
      val rot = residuals.select(col(idCol), col(resCol), rotate(col(resCol), r).as("rv"))
      books = pqFitCodebooks(rot, m, ksub, iters, idCol, "rv")
      if (sweep < sweeps) {
        val ySubs = pqAssign(col("rv"), books).zip(books).map {
          case (a, b) => element_at(vecMap(b), a("cid"))
        }
        // flattened outer product y·xᵀ, row-major: pos = i*dim + j holds
        // y[i]·x[j] (x = the UNROTATED residual — Procrustes aligns R·x
        // to y)
        val outer = flatten(transform(concat(ySubs: _*),
          yi => transform(col(resCol).cast("array<double>"), xi => yi * xi)))
        val mRows = rot.select(posexplode(outer).as(Seq("pos", "p")))
          .groupBy("pos").agg(sum("p").as("s"))
          .collect()
        val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
        mRows.foreach { row => val p = row.getInt(0)
          mMat(p / dim, p % dim) = math.rint(row.getDouble(1) * 1e6) / 1e6 }
        val s = breeze.linalg.svd(mMat)
        val rNew = s.U * s.Vt
        r = Array.tabulate(dim, dim)(
          (i, j) => math.rint(rNew(i, j) * 1e6) / 1e6)
      }
    }
    (r, books)
  }

  /** [[ivfResiduals]] with the residual ROTATED by the OPQ matrix —
    * still one shuffle-free projection (route, subtract, rotate are all
    * expressions; the raw vector never crosses an exchange). */
  def opqResiduals(corpus: DataFrame, centroids: DataFrame,
      r: Array[Array[Double]], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfResiduals(corpus, centroids, idCol, vecCol)
      .withColumn("res", rotate(col("res"), r))

  /** The OPQ index relation: [[ivfPqIndexResidual]]'s shape, with the m
    * codes quantizing the ROTATED residual R·(x − centroid(cell))
    * against OPQ-trained codebooks ([[opqFitRotation]]). Same
    * persistence contract (bucket by cell_id, probe with a
    * bucket-pruning isin), same single shuffle-free projection. */
  def ivfPqIndexOpq(corpus: DataFrame, centroids: DataFrame,
      r: Array[Array[Double]],
      books: IndexedSeq[IndexedSeq[(Int, Array[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqIndexOf(opqResiduals(corpus, centroids, r, idCol, vecCol), books, idCol)

  /** [[ivfPqResidualProbes]] with the per-cell query residual ROTATED —
    * ADC against an OPQ index compares R·(q−c) to pq(R·(x−c)). */
  def ivfPqOpqProbes(queries: DataFrame, centroids: DataFrame,
      r: Array[Array[Double]], nprobe: Int = 2,
      queryIdCol: String = "query_id", vecCol: String = "embedding"): DataFrame =
    ivfPqResidualProbes(queries, centroids, nprobe, queryIdCol, vecCol)
      .withColumn("q_vec", rotate(col("q_vec"), r))

  /** [[refreshStoredIvfPqIndexResidual]] for an OPQ stored index: all
    * THREE fits recouple on the current corpus (fresh centroids → fresh
    * residuals → fresh rotation+codebooks), the index rewrites through
    * the same crash-safe swap. Probes MUST route, residualize AND rotate
    * with the returned quantizers from the swap on. */
  def refreshStoredIvfPqIndexOpq(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, indexTable: String, k: Int = 8, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, sweeps: Int = 2, buckets: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[Array[Double]],
         IndexedSeq[IndexedSeq[(Int, Array[Double])]]) = {
    val cents = kmeansFit(corpus, k, iters, idCol, vecCol)
    val (r, books) = opqFitRotation(
      ivfResiduals(corpus, cents, idCol, vecCol), m, ksub, iters, sweeps, idCol)
    graft.sources.Storage.rewriteInPlace(spark, indexTable, "cell_id",
      buckets)(_ => ivfPqIndexOpq(corpus, cents, r, books, idCol, vecCol))
    (cents, r, books)
  }

  /** [[refreshStoredIvfPqIndex]] for a RESIDUAL (true IVFADC) stored
    * index: retrains the coarse quantizer AND the residual codebooks on
    * the current corpus (residuals against the FRESH centroids — the
    * two fits are coupled, unlike the raw family where the codebooks
    * are centroid-independent), re-encodes every vector, and swaps via
    * the same crash-safe rewrite. Probes MUST route and residualize
    * with the returned quantizers from the swap on. */
  def refreshStoredIvfPqIndexResidual(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, indexTable: String, k: Int = 8, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, buckets: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, IndexedSeq[IndexedSeq[(Int, Array[Double])]]) = {
    val cents = kmeansFit(corpus, k, iters, idCol, vecCol)
    val books = pqFitCodebooksResidual(corpus, cents, m, ksub, iters, idCol, vecCol)
    graft.sources.Storage.rewriteInPlace(spark, indexTable, "cell_id",
      buckets)(_ => ivfPqIndexResidual(corpus, cents, books, idCol, vecCol))
    (cents, books)
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
   * standard HYBRID-retrieval combiner: given one per-system top-k
   * ranking relation `(query_id, doc_id, rank)` per retrieval system
   * (e.g. [[graft.operators.TextAnalysis.bm25TopK]] lexical and
   * [[bruteForceTopK]]/[[ivfPqTopKRerank]] semantic), every candidate
   * scores Σ_s 1/(c + rank_s) over the systems that retrieved it, and
   * the fused top-k is returned. Rank-based fusion needs no score
   * calibration between systems — BM25 scores and cosines never meet —
   * which is exactly why RRF is the production default for
   * lexical+dense retrieval (decontamination probes, hard-negative
   * mining, topic slicing where either modality alone misses).
   *
   * Determinism: each contribution 1/(c + rank) is one exact IEEE
   * division, and the per-(query, doc) sum folds in SYSTEM ORDER
   * (array_sort over (sys, part) structs — at most one row per system
   * after each input's own top-k), so the double is reproducible across
   * partitionings and engines; the half-up 6dp floor stabilizes the
   * display value and ties break by doc id.
   *
   * Scale shape: inputs are already bounded (k_s rows per query per
   * system), so the union carries Σ_s k_s rows per query; the fuse is
   * one narrow groupBy on (query, doc) and the final rank window
   * partitions over those same bounded rows — nothing here ever sees
   * corpus-sized data. The heavy lifting stays in the per-system
   * retrievers ([[TextAnalysis.bm25TopK]], [[bruteForceTopK]],
   * [[ivfPqTopKRerankFromIndex]]), each bounded before its exchange.
   *
   * Output: (query_id, doc_id, rrf, rank), best-first per query.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, c: Int = 60,
      idCol: String = "doc_id", queryIdCol: String = "query_id"): DataFrame =
    rrfFuseWeighted(rankings.map((_, 1.0)), k, c, idCol, queryIdCol)

  /**
   * WEIGHTED reciprocal-rank fusion — [[rrfFuse]] with a per-system
   * weight: candidate score = Σ_s w_s/(c + rank_s). The two contract
   * knobs a production fusion stack reaches for first, pinned
   * explicitly:
   *
   *  - Per-system WEIGHTS: w_s scales system s's whole contribution
   *    (w_s = 0 removes it; all weights 1 IS [[rrfFuse]] — the unit
   *    fraction is bit-identical, not approximately equal). Weights must
   *    be finite and non-negative (a negative weight would turn
   *    "retrieved by s" into a penalty, which is a different operator).
   *  - System DROPOUT: a system that did not retrieve a (query, doc)
   *    contributes NOTHING to it — the sum ranges over retrieving
   *    systems only, never imputing a worst-case rank for absent ones
   *    (the Cormack 2009 formulation). A system absent for an entire
   *    query affects that query exactly as if it had not been passed.
   *  - TIES: equal fused scores order by ascending doc id — pinned and
   *    engine-independent, so a weight change that creates a tie cannot
   *    make the output depend on partitioning.
   *
   * Defensive input contract (the per-system relations are top-k
   * rankings — at most one row per (query, doc)): a buggy upstream that
   * emits duplicates would silently double-count, so each system is
   * folded to its BEST (minimum) rank per (query, doc) before
   * contributing — for lawful inputs a no-op on both the result and the
   * fold order, for buggy ones a defined answer instead of an inflated
   * score.
   *
   * Determinism: contributions fold in SYSTEM ORDER exactly as
   * [[rrfFuse]]; the weight multiplies inside the per-system division
   * (w/(c+rank), one IEEE division) so the sum is reproducible across
   * partitionings and engines.
   */
  def rrfFuseWeighted(rankings: Seq[(DataFrame, Double)], k: Int = 10,
      c: Int = 60, idCol: String = "doc_id",
      queryIdCol: String = "query_id"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rankings.forall { case (_, wt) => wt >= 0 && !wt.isInfinite && !wt.isNaN },
      "rrf weights must be finite and non-negative")
    val contrib = rankings.zipWithIndex.map { case ((r, wt), i) =>
      r.groupBy(col(queryIdCol), col(idCol))
        .agg(min(col("rank").cast("double")).as("__rank"))
        .select(col(queryIdCol), col(idCol), lit(i).as("__sys"),
          (lit(wt) / (lit(c.toDouble) + col("__rank"))).as("__part"))
    }.reduce(_ unionByName _)
    val fused = contrib.groupBy(queryIdCol, idCol)
      .agg(aggregate(array_sort(collect_list(struct(col("__sys"), col("__part")))),
        lit(0.0), (acc, e) => acc + e("__part")).as("__raw"))
      // contributions are non-negative → half-up floor == round, cheaply
      .withColumn("rrf", floor(col("__raw") * 1e6 + 0.5) / 1e6)
    firstK(fused, k, queryIdCol, idCol, "rrf")
  }
}
