package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Pii, Similarity, TextAnalysis}

/** LLM-pipeline operator behavior: dedup detectors, ANN, text analysis,
  * tensor ops, multimodal plumbing. */
class PipelineOpsSpec extends GraftSuite {
  import spark.implicits._

  val docsData = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away today"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away tonight"), // near-dup of 0
    (2L, "completely different text about database engines and query planners"),
    (3L, "the quick brown fox jumps over the lazy dog and runs far away today"), // exact dup of 0
    (4L, "der hund und die katze sind nicht auf der wiese mit einem ball"))
  def docs = docsData.toDF("doc_id", "text")

  test("exact dedup groups") {
    val g = Dedup.exactDupGroups(docs)
    assert(g.count() == 1)
    val r = g.head
    assert(r.getAs[Long]("keep_id") == 0L)
    assert(r.getAs[scala.collection.Seq[Long]]("dup_ids").toSeq == Seq(3L))
  }

  test("exact dedup pairs (scale-safe shape) matches groups") {
    import spark.implicits._
    val p = Dedup.exactDupPairs(docs).as[(Long, Long)].collect().toSet
    assert(p == Set((0L, 3L)))
  }

  test("wide simhash: identical docs distance 0, fewer noise pairs than 32-bit") {
    import spark.implicits._
    val wide = Dedup.simhashWideDupPairs(docs, maxDist = 3, families = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
    assert(wide.exists(x => x._1 == 0L && x._2 == 3L && x._3 == 0)) // exact dup
    val narrow = Dedup.simhashDupPairs(docs, maxDist = 3).count()
    assert(wide.length <= narrow)
  }

  test("minhash LSH finds near and exact duplicates, not unrelated docs") {
    val pairs = Dedup.minhashDupPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash skew valve: monster band buckets take the star path, results verified") {
    import spark.implicits._
    // 300 identical boilerplate docs (one monster bucket per band) + the
    // normal corpus; cap 8 forces the hot path that a 100 TB boilerplate
    // cluster would hit. The probe samples 5%, so with 300 copies and
    // threshold max(2, 8*0.05/2)=2 the bucket is flagged.
    val boiler = (100L until 400L).map(i => (i, "copy paste boiler plate text body"))
    val skewed = docs.select(col("doc_id"), col("text"))
      .unionByName(boiler.toDF("doc_id", "text"))
    val pairs = Dedup.minhashDupPairs(skewed, threshold = 0.5, maxBandBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // star pairs: ONE hub id pairs with every other boilerplate copy at
    // jaccard 1.0. Which id is the hub depends on the probe's id-hash
    // sample, so assert the star SHAPE rather than a specific hub — a
    // pinned hub would break on any sampling or layout change.
    val boilerPairs = pairs.filter(p =>
      p._1 >= 100L && p._1 < 400L && p._2 >= 100L && p._2 < 400L)
    val hubs = (100L until 400L).filter(h => (100L until 400L).forall(i =>
      i == h || boilerPairs.contains((math.min(h, i), math.max(h, i)))))
    assert(hubs.nonEmpty, "no hub pairs with all 299 other boilerplate copies")
    // the unskewed corpus's results are unaffected (its buckets are cold)
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // and piping the pairs through cluster resolution yields ONE
    // boilerplate cluster containing all 300 copies
    val clusters = Dedup.dupClusters(
      Dedup.minhashDupPairs(skewed, threshold = 0.5, maxBandBucket = 8))
    val boilerCluster = clusters.filter(col("doc_id") >= 100L && col("doc_id") < 400L)
      .select("cluster_id").distinct().collect()
    assert(boilerCluster.length == 1)
  }

  test("simhash: identical docs distance 0, near dups small distance") {
    val fps = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) == fps(3L))
    val d01 = java.lang.Long.bitCount(fps(0L) ^ fps(1L))
    val d02 = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    assert(d01 < d02)
    val pairs = Dedup.simhashDupPairs(docs, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("embedding near-dup + ANN top-k") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.05f, 0.0f, 0.0f)), // near 0
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingDupPairs(vecs, tau = 0.95, nPlanes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(dups == Set((0L, 1L)))

    val queries = Seq((100L, Seq(1.0f, 0.01f, 0.0f, 0.0f))).toDF("query_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs, queries, k = 2)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(topk.toSeq == Seq(0L, 1L))
    // LSH path finds the same top hit
    val lsh = Similarity.lshTopK(vecs, queries, k = 1, nPlanes = 4)
      .select("vec_id").as[Long].collect()
    assert(lsh.headOption.contains(0L))
  }

  test("gopher rules: each rule trips on its designed offender") {
    val g = Seq(
      // 132 words, mwl ~3.8, clean prose, 4 required stopwords → pass
      (0L, Seq.fill(12)("the quick brown fox and dog have been with them all today").mkString(" ")),
      (1L, "too short to pass"),
      (2L, (1 to 60).map(_ => "- bullet item here").mkString("\n")),
      (3L, Seq.fill(60)("word #").mkString(" ")),
      (4L, (1 to 60).map(_.toString).mkString(" ") + " the of"),
      (5L, (1 to 60).map(i => s"line number $i trails off ...").mkString("\n"))
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(g).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("gopher_pass"))
    assert(!r(1L).getAs[Boolean]("gopher_pass") && r(1L).getAs[Int]("n_words") < 50)
    assert(!r(2L).getAs[Boolean]("gopher_pass") && r(2L).getAs[Double]("bullet_ratio") >= 0.9)
    assert(!r(3L).getAs[Boolean]("gopher_pass") && r(3L).getAs[Double]("symbol_ratio") >= 0.1)
    assert(!r(4L).getAs[Boolean]("gopher_pass") && r(4L).getAs[Double]("alpha_ratio") <= 0.8)
    assert(!r(5L).getAs[Boolean]("gopher_pass") && r(5L).getAs[Double]("ellipsis_ratio") >= 0.3)
    // null text → NULL metrics and NULL verdict (same propagation as the
    // SQL oracle); getAs unboxes those to 0/false
    val n = TextAnalysis.gopherRules(
      Seq((9L, null: String)).toDF("doc_id", "text")).head
    assert(!n.getAs[Boolean]("gopher_pass") && n.getAs[Int]("n_words") == 0)
  }

  test("c4 cleaning: line rules, boilerplate, keep verdict") {
    val g = Seq(
      // 3 good sentences survive; short/unterminated/boilerplate lines drop
      (0L, Seq(
        "This is a perfectly fine sentence.",
        "Another good line ends with a question mark?",
        "A third proper sentence right here!",
        "no terminal punctuation on this line",
        "Too short.",
        "This site uses cookie banners and trackers.",
        "Please enable javascript to continue reading.").mkString("\n")),
      (1L, "Lorem ipsum dolor sit amet and more filler here.\nAnother fine sentence is right here.\nAnd one more to reach the minimum count."),
      (2L, "A curly brace { appears in this document body.\nSecond valid sentence of the page.\nThird valid sentence of the page."),
      (3L, "Only two sentences survive the line filter here.\nWhich is one short of the minimum needed.")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(g).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Int]("n_lines") == 7)
    assert(r(0L).getAs[Int]("n_kept") == 3)
    assert(r(0L).getAs[Boolean]("c4_keep"))
    assert(r(0L).getAs[String]("clean_text").linesIterator.size == 3)
    // lorem ipsum and curly brace each kill the whole document
    assert(!r(1L).getAs[Boolean]("c4_keep") && r(1L).getAs[Boolean]("boilerplate"))
    assert(!r(2L).getAs[Boolean]("c4_keep") && r(2L).getAs[Boolean]("boilerplate"))
    // under 3 surviving sentences → dropped even with clean lines
    assert(!r(3L).getAs[Boolean]("c4_keep") && r(3L).getAs[Int]("n_sentences") == 2)
  }

  test("dropNearDuplicatesBest keeps the highest-score cluster member") {
    // cluster {0,1,3}: doc 1 is one token LONGER ("tonight" vs "today"
    // makes no length difference — give doc 1 an extra word instead)
    val d = docs.withColumn("text",
      when(col("doc_id") === 1L, concat(col("text"), lit(" indeed"))).otherwise(col("text")))
    val pairs = Dedup.minhashDupPairs(d, threshold = 0.5)
    val best = Dedup.dropNearDuplicatesBest(d, pairs,
      TextAnalysis.tokenCountWs(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(best.contains(1L) && !best.contains(0L) && !best.contains(3L),
      s"longest member should survive, got $best")
    assert(best.contains(2L) && best.contains(4L)) // non-clustered pass through
    // tie on score -> smaller id wins (min-id fallback = dropNearDuplicates)
    val tied = Dedup.dropNearDuplicatesBest(docs,
      Dedup.minhashDupPairs(docs, threshold = 0.9), lit(1))
      .select("doc_id").as[Long].collect().toSet
    assert(tied.contains(0L) && !tied.contains(3L))
  }

  test("chunkDocuments: greedy line packing respects budget and order") {
    val g = Seq(
      (0L, "one two three\nfour five\nsix seven eight nine\nten"),
      (1L, "a single line with exactly seven short words"),
      (2L, "this one line alone blows straight past any budget cap ever set"),
      (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.chunkDocuments(g, budget = 5)
      .orderBy("doc_id", "chunk_id").collect()
    val byDoc = r.groupBy(_.getAs[Long]("doc_id"))
    // doc 0 line counts [3,2,4,1]: 3+2=5 fits; +4 blows -> break; 4+1=5 fits
    assert(byDoc(0L).map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "one two three\nfour five", "six seven eight nine\nten"))
    assert(byDoc(0L).map(_.getAs[Int]("n_tokens")).toSeq == Seq(5, 5))
    // one-line docs are one chunk even when over budget (lines never split)
    assert(byDoc(1L).length == 1 && byDoc(1L).head.getAs[Int]("n_tokens") == 8)
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getAs[Int]("n_tokens") == 12)
    // empty doc survives as one empty chunk (totality, like stripSpans)
    assert(byDoc(3L).length == 1 && byDoc(3L).head.getAs[Int]("n_tokens") == 0)
    // reassembling chunks in order restores the full text
    assert(byDoc(0L).map(_.getAs[String]("chunk_text")).mkString("\n") ==
      "one two three\nfour five\nsix seven eight nine\nten")
  }

  test("text analysis: counts, langid, quality, fingerprint") {
    val r = docs.select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2),
        x.getString(3), x.getDouble(4), x.getLong(5)))).toMap

    { val (ws, _, lang, q, _) = r(0L)
      assert(ws == 14); assert(lang == "en"); assert(q > 0.3 && q <= 1.0) }
    assert(r(4L)._3 == "de")
    // identical docs → identical fingerprints; distinct docs differ
    assert(r(0L)._5 == r(3L)._5 && r(0L)._5 != r(1L)._5)
    // portable hash agrees with the reference computation
    val h = docs.filter(col("doc_id") === 0)
      .select(TextAnalysis.portableHash(lit("hello"))).head.getLong(0)
    assert(h == 99162322L)
  }

  test("tensor ops: elementwise, dot/cosine, axis-0 aggregations") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f))).toDF("g", "v")
    val r = df.groupBy("g").agg(graft.tensor.sumVec(col("v")).as("s"),
      count(lit(1)).as("n")).head
    assert(r.getAs[scala.collection.Seq[Double]]("s").toSeq == Seq(4.0, 6.0))
    val d = df.select(graft.tensor.dot(col("v"), col("v")).as("d"),
      graft.tensor.cosine(col("v"), col("v")).as("c")).collect()
    assert(d.map(_.getDouble(0)).toSet == Set(5.0, 25.0))
    assert(d.forall(x => math.abs(x.getDouble(1) - 1.0) < 1e-9))
  }

  test("multimodal plumbing: real PPM/WAV/y4m payloads decode end-to-end") {
    val docsT = docs.withColumn("n_chars", length(col("text")))
    val media = Multimodal.syntheticMedia(docsT)
    assert(media.count() == 5)
    // image features come from genuinely decoded PPM pixels (docs 0, 3)
    val feats = Multimodal.extractImageFeatures(media)
    assert(feats.count() == media.filter(col("kind") === "image").count())
    assert(feats.select(size(col("features"))).distinct().head.getInt(0) == 8)
    val f0 = feats.filter(col("media_id") === 0L)
      .select(col("features")).head.getSeq[Double](0)
    // doc 0: 4x3 raster, pixel i = (0*31 + i*7) % 256; recompute directly
    val px0 = (0 until 36).map(i => i * 7 % 256)
    def m4(s: Long, n: Long) = math.floor(s.toDouble / n * 1e4 + 0.5) / 1e4
    assert(f0(0) == 4.0 && f0(1) == 3.0)
    assert(f0(2) == m4(px0.zipWithIndex.collect { case (v, i) if i % 3 == 0 => v.toLong }.sum, 12))
    assert(f0(5) == px0.min && f0(6) == px0.max)
    assert(f0(7) == m4(px0.map(_.toLong).sum, 36))
    // deterministic: same bytes → same features
    val f2 = Multimodal.extractImageFeatures(media)
    assert(feats.collect().map(_.toString).sorted.toSeq ==
      f2.collect().map(_.toString).sorted.toSeq)
    // video: doc 2 has 3 + 2%5 = 5 real y4m frames at 200 ms → 1000 ms
    val frames = Multimodal.sampleVideoFrames(media, everyMs = 100)
    assert(frames.count() == 10)
    assert(frames.select("media_id").distinct().count() ==
      media.filter(col("kind") === "video").count())
    // sampled frame 0 luma checksum matches the closed form
    val y0 = frames.filter(col("frame_ms") === 0).head.getAs[Long]("y_sum")
    assert(y0 == (0 until 16).map(j => (2 * 17 + j * 7) % 256).sum)
    // resize: real nearest-neighbor resample re-encoded as an 8x8 PPM
    val resized = Multimodal.resizeImages(media, 8, 8)
    assert(resized.count() == media.filter(col("kind") === "image").count())
    val rr = resized.head
    assert(rr.getStruct(4).getInt(0) == 8 && rr.getStruct(4).getInt(1) == 8)
    val rb = rr.getAs[Array[Byte]]("bytes")
    assert(rb.length == 203) // "P6\n8 8\n255\n" + 8*8*3
    val (rw, rh, rpx) = graft.operators.Codecs.decodePpm(rb)
    assert(rw == 8 && rh == 8 && rpx.length == 192)
    // audio stats decode the real WAV payload (doc 1: 161 samples)
    val st = Multimodal.audioStats(media).filter(col("media_id") === 1L).head
    assert(st.getInt(1) == 8000 && st.getInt(2) == 161)
    val s1 = (0 until 161).map(i => (13 + i * 7) % 65536 - 32768)
    assert(st.getInt(3) == s1.min && st.getInt(4) == s1.max)
    assert(st.getLong(5) == s1.map(_.toLong).sum)
    // sample-accurate chunks: 80-sample windows, 40-sample hop
    val sc = Multimodal.chunkAudioSamples(media, windowMs = 10, hopMs = 5)
      .filter(col("media_id") === 1L).collect().sortBy(_.getInt(2))
    assert(sc.map(r => (r.getInt(3), r.getInt(4))).toSeq ==
      Seq((0, 80), (40, 120), (80, 160)))
    assert(sc.head.getLong(5) == s1.take(80).map(_.toLong).sum)
    // metadata-level chunk planning: window fits clip, hop spacing exact
    val chunks = Multimodal.chunkAudio(media, windowMs = 200, hopMs = 100)
      .join(media.select(col("media_id"), col("meta")("duration_ms").as("dur")), "media_id")
    assert(chunks.count() > 0)
    assert(chunks.filter(col("end_ms") > col("dur")).count() == 0)
    assert(chunks.filter(col("start_ms") =!= col("chunk_idx") * 100).count() == 0)
  }

  test("dupClusters: transitive pairs collapse to one component, min id wins") {
    // chain 1-2, 2-3, plus isolated pair 10-11: A~B~C must share a cluster
    // even though (1,3) was never emitted as a pair.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // a longer path exercises multiple propagation rounds
    val chain = (0L until 9L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val roots = Dedup.dupClusters(chain).select("cluster_id").distinct().collect()
    assert(roots.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("dupClusters: single-task and iterative paths produce identical labels") {
    val edges = Seq((0L, 1L), (1L, 3L), (5L, 6L), (8L, 5L), (2L, 9L), (9L, 4L),
      (4L, 7L)).toDF("id_a", "id_b")
    val local = Dedup.dupClusters(edges).as[(Long, Long)].collect().toSet
    val iter = Dedup.dupClusters(edges, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == iter)
    assert(local == Set((0L, 0L), (1L, 0L), (3L, 0L), (5L, 5L), (6L, 5L),
      (8L, 5L), (2L, 2L), (9L, 2L), (4L, 2L), (7L, 2L)))
  }

  test("dupClusters: the iterative path throws when maxRounds is below the " +
      "diameter, and converges to one cluster when it is not") {
    // a 60-node path needs 59 propagation rounds plus one to see the
    // fixpoint; 20 rounds used to return 40 clusters without an error
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(path, maxRounds = 20, localEdgeThreshold = 0)
    }
    assert(e.getMessage.contains("20 rounds") && e.getMessage.contains("maxRounds = 20"),
      e.getMessage)
    val out = Dedup.dupClusters(path, maxRounds = 64, localEdgeThreshold = 0)
      .as[(Long, Long)].collect()
    assert(out.length == 60 && out.map(_._2).toSet == Set(0L))
  }

  test("dropNearDuplicates keeps cluster minimum and untouched docs") {
    val pairs = Seq((0L, 1L), (1L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, pairs).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 4L)) // 1 and 3 fold into cluster 0
  }

  test("dupClusters / dropNearDuplicates: empty pair set passes every doc through") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.dupClusters(noPairs).count() == 0)
    val kept = Dedup.dropNearDuplicates(docs, noPairs).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == docs.select("doc_id").as[Long].collect().toSet)
  }

  test("duplicatedSpans: shared run found in both docs, maximal, unique text clean") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota unique0 tail0"),
      (1L, "prefix1 alpha beta gamma delta epsilon zeta eta theta iota unique1"),
      (2L, "totally unrelated words about storage engines and columnar scans here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, n = 4, minDocs = 2)
      .as[(Long, Int, Int)].collect().toSet
    // docs 0 and 1 share the 9-word run "alpha..iota": positions 0..8 in
    // doc 0, 1..9 in doc 1 — six 4-gram windows sessionize to ONE maximal
    // span each; doc 2 shares nothing.
    assert(spans == Set((0L, 0, 9), (1L, 1, 10)))
  }

  test("duplicatedSpans: within-doc repetition alone does not flag (minDocs=2)") {
    val d = Seq(
      (0L, "rep rep rep rep rep rep one two three four"),
      (1L, "nothing shared with the other document at all whatsoever today")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(d, n = 4, minDocs = 2).count() == 0)
    // ...but the same repetition in two docs IS a duplicated span
    val d2 = d.union(Seq((2L, "rep rep rep rep rep rep five six seven eight"))
      .toDF("doc_id", "text"))
    val spans = Dedup.duplicatedSpans(d2, n = 4, minDocs = 2)
      .as[(Long, Int, Int)].collect().toSet
    assert(spans == Set((0L, 0, 6), (2L, 0, 6)))
  }

  test("stripSpans removes covered tokens, keeps fully-cut and untouched docs") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "untouched words here today friends"),
      (2L, "gone gone gone gone")
    ).toDF("doc_id", "text")
    val spans = Seq((0L, 1, 3), (2L, 0, 4)).toDF("doc_id", "begin_tok", "end_tok")
    val r = Dedup.stripSpans(d, spans).select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(r(0) == ((0L, "alpha delta epsilon zeta", 4L)))
    assert(r(1) == ((1L, "untouched words here today friends", 5L)))
    assert(r(2) == ((2L, "", 0L))) // fully cut, still present
  }

  test("contaminatedDocs counts distinct shared n-grams against the benchmark") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "totally clean document with no overlap at all"),
      (2L, "again the quick brown fox jumps high again")
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1("benchmark says the quick brown fox jumps")).toDF("text")
    val r = Dedup.contaminatedDocs(corpus, bench, n = 4)
      .as[(Long, Long)].collect().toMap
    // doc 0 shares "the quick brown fox" and "quick brown fox jumps"
    assert(r == Map(0L -> 2L, 2L -> 2L)) // doc 1 absent = clean
  }

  test("fuzzyContaminatedDocs: LSH candidates + Jaccard verify, self-pairs excluded") {
    // docs 0/1/3 are near/exact dups of each other; benchmark = doc 0's
    // row. Docs 1 and 3 near-duplicate it (contaminated); doc 0 itself is
    // only a self-pair (excluded); docs 2/4 share nothing.
    val bench = docs.filter(col("doc_id") === 0L)
    val r = Dedup.fuzzyContaminatedDocs(docs, bench, threshold = 0.7,
        k = 8, bands = 4, shingleK = 3)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r.keySet == Set(1L, 3L))
    assert(r(3L) == ((1L, 1.0))) // exact dup: Jaccard 1 against one bench doc
    assert(r(1L)._2 >= 0.7 && r(1L)._2 < 1.0)
    // an external benchmark doc with disjoint text flags nothing
    val clean = Dedup.fuzzyContaminatedDocs(docs,
      Seq((99L, "unrelated benchmark prompt about astronomy and telescopes and planets"))
        .toDF("doc_id", "text"), threshold = 0.7, k = 8, bands = 4, shingleK = 3)
    assert(clean.count() == 0L)
  }

  test("diversitySample: per-cluster cap, rank contiguous, id-deterministic") {
    // two tight blobs; 4 members each, cap 2 → 2 survivors per cluster
    val pts = (0L until 4L).map(i => (i, Seq(1.0f, 0.01f * i))) ++
      (4L until 8L).map(i => (i, Seq(0.01f * (i - 4), 1.0f)))
    val d = pts.toDF("vec_id", "embedding")
    val out = Similarity.diversitySample(d, k = 2, iters = 2, cap = 2)
      .as[(Long, Int, Int)].collect()
    assert(out.length == 4)
    assert(out.groupBy(_._2).forall { case (_, m) =>
      m.map(_._3).sorted.toSeq == Seq(1, 2) })
    // blob membership respected: ids 0-3 never share a cluster with 4-7
    val byCluster = out.groupBy(_._2).values.map(_.map(_._1).toSet)
    assert(byCluster.forall(s => s.forall(_ < 4) || s.forall(_ >= 4)))
    val again = Similarity.diversitySample(d, k = 2, iters = 2, cap = 2)
      .as[(Long, Int, Int)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("dedupLines: corpus-wide keep-first, blanks structural, docs reassemble") {
    val d = Seq(
      (0L, "unique alpha\nshared boilerplate line\n\nunique beta"),
      (1L, "shared boilerplate line\nown content here"),
      (2L, "shared boilerplate line"), // nothing but the duplicate
      (3L, "never duplicated at all")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupLines(d).as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // doc 0 owns the first occurrence (smallest (doc, idx)) and keeps
    // everything, including the blank structural line
    assert(r(0L) == (("unique alpha\nshared boilerplate line\n\nunique beta", 3L)))
    assert(r(1L) == (("own content here", 1L)))
    assert(r(2L) == (("", 0L))) // emptied, still present
    assert(r(3L) == (("never duplicated at all", 1L)))
  }

  test("calibratedQuality: per-stratum percentile, singleton kept, ties share pct") {
    // srcA: four docs of clearly increasing quality (longer, clean prose
    // with stopwords); srcB: a singleton that would fail any global cut.
    val longGood = ("the quick brown fox and the lazy dog " * 30).trim
    val d = Seq(
      (0L, "srcA", "!!! ### $$$ %%%"),                      // punct-heavy
      (1L, "srcA", "tiny"),                                  // short
      (2L, "srcA", longGood),                                // strong
      (3L, "srcA", longGood + " with more of the words"),    // strong too
      (4L, "srcB", "??!")                                    // singleton stratum
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.calibratedQuality(d, minPercentile = 0.5)
      .as[(Long, String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // top half of srcA kept, bottom half dropped
    assert(!out(0L)._5 && !out(1L)._5 && out(2L)._5 && out(3L)._5)
    // singleton stratum: pct 1.0, always kept (its own best half)
    assert(out(4L)._4 == 1.0 && out(4L)._5)
    // pct is cume_dist: the stratum max has pct 1.0
    assert(out(2L)._4 <= out(3L)._4 || out(2L)._3 == out(3L)._3)
  }

  test("bigramLogProb: MLE conditionals, deterministic transitions score 0") {
    val d = Seq(
      (0L, "a b a b"), // histories split between b and c across the corpus
      (1L, "a c a c"),
      (2L, "d e d e"), // vocabulary disjoint: every transition deterministic
      (3L, "solo")     // no bigram at all
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogProb(d).collect()
      .map(x => (x.getLong(0), x.getLong(1),
        Option(x.get(2)).map(_.asInstanceOf[Double]))).sortBy(_._1)
    // docs 0/1: c(a)=4, c(a,b)=c(a,c)=2, c(b,a)=c(c,a)=1, c(b)=c(c)=2 —
    // every position is ln(1/2); round(ln(0.5), 4) = -0.6931
    assert(r(0) == ((0L, 3L, Some(-0.6931))))
    assert(r(1) == ((1L, 3L, Some(-0.6931))))
    // doc 2: ln(2/2), ln(1/2), ln(2/2) — the final 'e' has no successor,
    // so c(e,d)=1 against c(e)=2; avg = ln(0.5)/3
    assert(r(2) == ((2L, 3L, Some(-0.231))))
    assert(r(3) == ((3L, 0L, None)))        // short doc: NULL score, present
  }

  test("importanceSample is deterministic and quality-weighted") {
    val junk = "!!! ### $$$ %%%"
    val good = ("the quick brown fox jumps over the lazy dog and it was fine " * 8).trim
    val d = (0L until 50L).map(i => (i, s"$good variant$i")) :+ (99L, junk)
    val df = d.toDF("doc_id", "text")
    val k1 = TextAnalysis.importanceSample(df, rate = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val k2 = TextAnalysis.importanceSample(df.repartition(7), rate = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(k1 == k2 && k1.nonEmpty)      // stable across partitionings
    assert(!k1.contains(99L))            // low quality ⇒ low keep odds (u ≥ rate×q here)
    val all = TextAnalysis.importanceSample(df, rate = 1000.0)
      .select("doc_id").as[Long].collect().toSet
    assert(all == d.map(_._1).toSet)     // rate ≫ 1 keeps everything
  }

  test("Pii.scan: counts per type and masks all occurrences") {
    val d = Seq(
      (0L, "mail a@b.co and c.d+x@e.org, ip 10.0.0.1, call 555-123-4567, ssn 123-45-6789"),
      (1L, "clean text with a version number 1.2 and the year 2024 only")
    ).toDF("doc_id", "text")
    val r = Pii.scan(d).collect().sortBy(_.getLong(0))
    assert(r(0).getAs[Int]("n_email") == 2)
    assert(r(0).getAs[Int]("n_ipv4") == 1)
    assert(r(0).getAs[Int]("n_phone") == 1)
    assert(r(0).getAs[Int]("n_ssn") == 1)
    val red = r(0).getAs[String]("redacted")
    assert(red == "mail <EMAIL> and <EMAIL>, ip <IP4>, call <PHONE>, ssn <SSN>")
    assert(r(1).toSeq.drop(1) == Seq(0, 0, 0, 0,
      "clean text with a version number 1.2 and the year 2024 only"))
  }

  test("hashSplit: deterministic, exhaustive, weight-proportional") {
    val many = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = TextAnalysis.hashSplit(many).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val s2 = TextAnalysis.hashSplit(many).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(s1 == s2) // stable across runs
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1600 && counts("train") < 1990) // ~90%
    // growing the corpus never reassigns existing docs
    val grown = (0L until 3000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s3 = TextAnalysis.hashSplit(grown).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(s1.forall { case (id, sp) => s3(id) == sp })
  }

  test("tfIdfTopTerms: corpus-wide words score 0, distinctive words rank first") {
    val out = TextAnalysis.tfIdfTopTerms(docs, k = 2)
    val rows = out.as[(Long, Int, String, Long, Long, Double)].collect()
    assert(rows.count(_._1 == 2L) == 2) // k rows per doc
    // 'the' appears in 3 of 5 docs; doc 2's top term must be one of its
    // distinctive words (df == 1 → idf = ln 5), never a shared word
    val top2 = rows.filter(r => r._1 == 2L && r._2 == 1).head
    assert(top2._5 == 1L && top2._6 > 1.6)
    // df == N ⇒ score exactly 0 (ln 1): check on a corpus where 'x' is everywhere
    val all = Seq((0L, "x alpha"), (1L, "x beta")).toDF("doc_id", "text")
    val z = TextAnalysis.tfIdfTopTerms(all, k = 2)
      .filter(col("word") === "x").select("score").as[Double].collect()
    assert(z.forall(_ == 0.0))
  }

  test("dsirWeights == driver-side likelihood-ratio recomputation; select ranks globally") {
    val corpus = Seq(
      (0L, "alpha beta alpha beta", "tgt"),
      (1L, "alpha beta gamma delta", "tgt"),
      (2L, "gamma delta gamma delta", "web"),
      (3L, "alpha beta alpha gamma", "web"),
      (4L, "epsilon zeta epsilon zeta", "web"))
      .toDF("doc_id", "text", "source")
    val target = corpus.filter(col("source") === "tgt")
    val B = 64; val a = 0.5
    val got = TextAnalysis.dsirWeights(corpus, target, n = 2, buckets = B, alpha = a)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side reference: same hash kernel, same smoothing, bucket-order fold
    def bks(t: String) = TextAnalysis.ngramHashSeq(t.split(" ").toSeq, 2).map(_ % B)
    val rows = corpus.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val tCnt = rows.filter(_._3 == "tgt").flatMap(r => bks(r._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sCnt = rows.flatMap(r => bks(r._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = tCnt.values.sum; val ns = sCnt.values.sum
    def lam(c: Long, n: Long) = math.log((c + a) / (n + a * B))
    for ((id, text, _) <- rows) {
      val w = bks(text).groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
        .map { case (b, c) =>
          c * (lam(tCnt.getOrElse(b, 0L), nt) - lam(sCnt.getOrElse(b, 0L), ns)) }
        .foldLeft(0.0)(_ + _)
      assert(got(id) == math.floor(w * 1e6 + 0.5) / 1e6, s"doc $id")
    }
    // target-looking docs must outrank the off-domain ones
    val sel = TextAnalysis.dsirSelect(corpus, target, topN = 3, n = 2,
      buckets = B, alpha = a).collect()
    assert(sel.map(_.getInt(2)).toSeq == Seq(1, 2, 3)) // dense global ranks
    assert(sel.map(_.getLong(0)).toSet.contains(0L)) // pure-target doc kept
    assert(!sel.map(_.getLong(0)).contains(4L)) // epsilon/zeta doc last
  }

  test("fused kernels propagate null input instead of throwing") {
    val withNull = (docsData :+ (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = withNull.select(col("doc_id"),
      TextAnalysis.shingleHashes(col("text"), 3).as("sh"),
      Dedup.minhashSignature(col("text"), 8, 3).as("sig"),
      Dedup.simhash(col("text")).as("fp"),
      Dedup.simhashWide(col("text"), 2).as("fps"),
      TextAnalysis.langId(col("text")).as("lang"))
      .filter(col("doc_id") === 9L).head
    assert((1 to 4).forall(r.isNullAt))
    // langId yields "und" for null text — the oracle's CASE falls through
    // to ELSE 'und' on null ratios, and the kernel must agree
    assert(r.getString(5) == "und")
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "embedding")
    val b = vecs.select(Dedup.signBucket(col("embedding"), 4).as("b")).collect()
    assert(b.count(_.isNullAt(0)) == 1)
  }

  test("signBucketHashed: distinct planes, and nPlanes scales the bucket count") {
    // no plane equals or negates another, so every plane is its own bit
    for (dim <- Seq(8, 32, 128)) {
      val planes = (0 until 16).map(p => (0 until dim).map(j => Dedup.hashedPlanePositive(p, j)))
      for (a <- planes.indices; b <- a + 1 until planes.size)
        assert(planes(a) != planes(b) && planes(a) != planes(b).map(!_),
          s"dim $dim: planes $a and $b are equal or negated")
    }
    // 2,000 seeded Gaussian vectors fill at least 1,000 of 12 planes' 4,096
    // buckets (a family with fewer distinct planes fills at most 2^planes)
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 2000L).map(i => (i, Seq.fill(32)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val filled = vecs.select(Dedup.signBucketHashed(col("embedding"), 12).as("b"))
      .distinct().count()
    assert(filled >= 1000, s"12 planes fill only $filled buckets")
  }

  test("stratifiedSample: caps each stratum, keep set is id-deterministic") {
    val d = (0L until 20L).map(i => (i, s"doc $i", if (i % 2 == 0) "web" else "book"))
      .toDF("doc_id", "text", "source")
    val kept = TextAnalysis.stratifiedSample(d, n = 3)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
    assert(kept.length == 6)
    assert(kept.count(_._2 == "web") == 3 && kept.count(_._2 == "book") == 3)
    assert(kept.filter(_._2 == "web").map(_._3).sorted.toSeq == Seq(1, 2, 3))
    // deterministic: a second evaluation keeps the same ids
    val again = TextAnalysis.stratifiedSample(d, n = 3).collect().map(_.getLong(0))
    assert(kept.map(_._1).sorted.toSeq == again.sorted.toSeq)
  }

  test("pmiCollocations: repeated phrases rank, rare pairs filtered") {
    val d = Seq((0L, "new york is big"), (1L, "new york is old"), (2L, "big old city"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(d, minCount = 2, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    // only the bigrams seen twice survive minCount
    assert(out.map(_._1).toSet == Set(("new", "york"), ("york", "is")))
    // identical count profiles → identical PMI; tie broken by word order
    assert(out(0)._3 == out(1)._3 && out(0)._1 == ("new", "york"))
    assert(out.forall(_._2 == 2L))
  }

  test("kmeans: two blobs converge to blob means, assignment deterministic") {
    // blob A around (0, 0), blob B around (10, 10); init = 2 smallest ids,
    // one drawn from each blob (ids interleave the blobs)
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)),
      (2L, Seq(0.2f, 0.0f)), (3L, Seq(10.2f, 10.0f)),
      (4L, Seq(0.0f, 0.2f)), (5L, Seq(10.0f, 10.2f))
    ).toDF("vec_id", "embedding")
    val cents = operators.Similarity.kmeansFitCentroids(pts, k = 2, iters = 2)
    assert(cents.map(_._1) == Seq(0, 1))
    // centroid 0 = mean of blob A, centroid 1 = mean of blob B (6dp)
    assert(cents(0)._2.toSeq == Seq(0.066667, 0.066667))
    assert(cents(1)._2.toSeq == Seq(10.066667, 10.066667))
    val asg = operators.Similarity.kmeansAssign(pts, cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(asg == Map(0L -> 0, 2L -> 0, 4L -> 0, 1L -> 1, 3L -> 1, 5L -> 1))
  }

  test("kmeans: a cluster that loses every point drops out") {
    // init c0 = c1 = (0,0): every point ties to cid 0, cluster 1 empties
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val cents = operators.Similarity.kmeansFitCentroids(pts, k = 2, iters = 1)
    assert(cents.map(_._1) == Seq(0))
    assert(cents(0)._2.toSeq == Seq(round6(5.0 / 3), round6(5.0 / 3)))
  }

  test("semanticDedup: within-cluster high-cosine marks higher id as dup") {
    // init c0=(1,0), c1=(0,1); ids 2/3 are near-copies of 0/1, id 4 is
    // antipodal to 0 (lands in 1's cluster but cosine ~0 with its mates)
    val pts = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.05f)), (3L, Seq(0.05f, 1.0f)),
      (4L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(pts, k = 2, iters = 2, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(0L -> false, 1L -> false, 2L -> true, 3L -> true, 4L -> false))
  }

  test("kmeansAssignTwoLevel: full probe reproduces exact assignment; " +
      "separated cells stay exact at nprobe=1") {
    // 9 fine centroids in 3 far-apart blobs; 90 points jittered around them
    val cents = Seq(
      0 -> Array(0.0, 0.0), 1 -> Array(1.0, 0.0), 2 -> Array(0.0, 1.0),
      3 -> Array(100.0, 0.0), 4 -> Array(101.0, 0.0), 5 -> Array(100.0, 1.0),
      6 -> Array(0.0, 100.0), 7 -> Array(1.0, 100.0), 8 -> Array(0.0, 101.0))
    val pts = (0 until 90).map { i =>
      val c = cents(i % 9)._2
      (i.toLong, Seq((c(0) + (i % 7) * 0.05).toFloat,
        (c(1) + (i % 5) * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    def rel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val exact = rel(Similarity.kmeansAssign(pts, cents))
    // probing every coarse cell is EXACTLY the single-level argmin
    assert(rel(Similarity.kmeansAssignTwoLevel(pts, cents,
      nprobe = cents.size, coarseK = 3)) == exact)
    // blob separation >> jitter: the nearest fine centroid lives in the
    // nearest coarse cell, so even nprobe=1 reproduces the exact relation
    assert(rel(Similarity.kmeansAssignTwoLevel(pts, cents,
      nprobe = 1, coarseK = 3)) == exact)
    // the semanticDedup scale knob rides the same assignment: with the
    // same fitted quantizer the two-level path must match the exact path
    // on separated data
    val a = Dedup.semanticDedup(pts, k = 9, iters = 2, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    val b = Dedup.semanticDedup(pts, k = 9, iters = 2, tau = 0.95,
        twoLevelAssign = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(a == b)
  }

  test("packSequences: sharded concat-and-chunk matches a direct mirror") {
    val d = (0L until 30L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(d, budget = 10, nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 30)
    // mirror the packing sequentially with the same portable hash
    val expected = (0L until 30L).map { i =>
      (i, (i % 7 + 1), TextAnalysis.hashString(s"$i:pack"))
    }.groupBy(_._3 % 2).flatMap { case (shard, ds) =>
      var cum = 0L
      ds.sortBy(t => (t._3, t._1)).map { case (id, n, _) =>
        val before = cum; cum += n
        (id, n.toLong, shard.toInt, before / 10, before % 10)
      }
    }.toSet
    assert(out.toSet == expected)
    // every offset sits inside the budget
    assert(out.forall(r => r._5 >= 0 && r._5 < 10))
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits, degrades to hashSplit") {
    // docs 0/1/3 form one near-dup cluster; 2 and 4 are singletons
    val pairs = Dedup.minhashDupPairs(docs, threshold = 0.5)
    val out = Dedup.leakageSafeSplit(docs, pairs,
        weights = Seq("train" -> 0.5, "test" -> 0.5))
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 5)
    // whole cluster shares the min member's id AND one split
    val cluster = out.filter(t => Set(0L, 1L, 3L)(t._1))
    assert(cluster.forall(_._2 == 0L))
    assert(cluster.map(_._3).distinct.length == 1)
    // singletons cluster to themselves and split exactly as hashSplit would
    val hs = TextAnalysis.hashSplit(docs,
        weights = Seq("train" -> 0.5, "test" -> 0.5))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    for (t <- out if Set(2L, 4L)(t._1)) {
      assert(t._2 == t._1)
      assert(t._3 == hs(t._1))
    }
    // the shared split is what the cluster MIN id would get alone
    assert(cluster.head._3 == hs(0L))
  }

  test("splitLeakage: per-split leaked docs and shared-gram counts, clean split reports zero") {
    // train doc 0; val doc 1 repeats train's exact text (leaks many
    // 3-grams), val doc 2 is clean; test doc 3 shares one 3-gram window
    // with train, test doc 4 clean
    val s = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "train"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "val"),
      (2L, "totally fresh words nothing shared here at all", "val"),
      (3L, "prefix words then alpha beta gamma suffix tail", "test"),
      (4L, "another clean document with original content only", "test"))
      .toDF("doc_id", "text", "split")
    val r = Dedup.splitLeakage(s, n = 3)
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r.keySet == Set("val", "test"))
    // val: 2 docs, 1 leaked; doc 1 shares all 6 of train's distinct 3-grams
    assert(r("val") == ((2L, 1L, 6L)))
    // test: 2 docs, 1 leaked, exactly one shared 3-gram (alpha beta gamma)
    assert(r("test") == ((2L, 1L, 1L)))
    // fully clean corpus: zero rows' counts, splits still reported
    val clean = Seq((0L, "one two three four five", "train"),
      (1L, "six seven eight nine ten", "val"))
      .toDF("doc_id", "text", "split")
    val rc = Dedup.splitLeakage(clean, n = 3)
      .as[(String, Long, Long, Long)].collect()
    assert(rc.toSeq == Seq(("val", 1L, 0L, 0L)))
  }

  test("incrementalDupPairs: batch checked vs corpus and itself, corpus never self-paired") {
    // corpus: docs 0 (template) and 2, 4 (unrelated). batch: 10 = exact
    // copy of 0, 11 = near-copy of 0, 12 = exact copy of 11 (intra-batch
    // dup), 13 = novel.
    val corpus = docs.filter(col("doc_id").isin(0L, 2L, 4L))
    val batch = Seq(
      (10L, docsData(0)._2),
      (11L, docsData(1)._2),
      (12L, docsData(1)._2),
      (13L, "a genuinely novel document about glaciers carving deep mountain valleys slowly")
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalDupPairs(corpus, batch, threshold = 0.5,
        k = 8, bands = 4, shingleK = 3)
      .as[(Long, Long, Double, String)].collect()
    // batch ids only on the left; corpus ids never appear as batch_id
    assert(r.forall(p => Set(10L, 11L, 12L).contains(p._1)))
    assert(r.exists(p => p._1 == 10L && p._2 == 0L && p._3 == 1.0 && p._4 == "corpus"))
    assert(r.exists(p => p._1 == 11L && p._2 == 0L && p._4 == "corpus"))
    // intra-batch: 12 duplicates 11 (lower id wins), jaccard exactly 1
    assert(r.exists(p => p._1 == 12L && p._2 == 11L && p._3 == 1.0 && p._4 == "batch"))
    assert(!r.exists(p => p._1 == 13L)) // novel doc admitted
    // dropping flagged batch docs admits only the novel one
    val admitted = batch.join(
      Dedup.incrementalDupPairs(corpus, batch, threshold = 0.5,
        k = 8, bands = 4, shingleK = 3)
        .select(col("batch_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(13L))
  }

  test("mixCorpus: exact floor+fractional copies, determinism, zero weight drops") {
    val d = Seq(
      (0L, "alpha", "x"), (1L, "alpha", "x"), (2L, "beta", "x"),
      (3L, "gamma", "x"), (4L, "alpha", "x"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.mixCorpus(d,
        Map("alpha" -> 2.0, "beta" -> 0.0, "gamma" -> 1.5),
        defaultWeight = 1.0, sourceCol = "source")
      .as[(Long, String, Long, Long)].collect()
    // alpha w=2.0: exactly 2 copies each, epochs 0 and 1
    for (id <- Seq(0L, 1L, 4L)) {
      val copies = out.filter(_._1 == id)
      assert(copies.length == 2 && copies.map(_._3).sorted.toSeq == Seq(0L, 1L))
      assert(copies.forall(_._4 == 2L))
    }
    // beta w=0: vanishes entirely
    assert(!out.exists(_._1 == 2L))
    // gamma w=1.5: 1 or 2 copies, dense epochs from 0
    val g = out.filter(_._1 == 3L)
    assert(g.length == 1 || g.length == 2)
    assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq)
    // deterministic under repartition
    val again = TextAnalysis.mixCorpus(d.repartition(7),
        Map("alpha" -> 2.0, "beta" -> 0.0, "gamma" -> 1.5),
        defaultWeight = 1.0, sourceCol = "source")
      .as[(Long, String, Long, Long)].collect()
    assert(out.sortBy(t => (t._1, t._3)).toSeq == again.sortBy(t => (t._1, t._3)).toSeq)
    // expectation check at modest scale: fractional accept is hash-uniform,
    // so 1000 docs at w=1.5 emit ~1500 copies (binomial, ±5 sigma ≈ 79)
    val big = (0L until 1000L).map(i => (i, "s", "t")).toDF("doc_id", "source", "text")
    val n = TextAnalysis.mixCorpus(big, Map("s" -> 1.5)).count()
    assert(n > 1400 && n < 1600, s"expected ~1500 copies, got $n")
  }

  test("shardCorpus: dense per-shard positions, exact permutation, layout-invariant") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = TextAnalysis.shardCorpus(d, nShards = 8)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 200 && out.map(_._1).toSet.size == 200) // permutation
    assert(out.forall(t => t._2 >= 0 && t._2 < 8))
    for ((_, members) <- out.groupBy(_._2))
      assert(members.map(_._3).sorted.toSeq == (0L until members.length).toSeq)
    // layout-invariant: same (shard, pos) for every doc after repartition
    val again = TextAnalysis.shardCorpus(d.repartition(13), nShards = 8)
      .as[(Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // the permutation actually scrambles: in-shard neighbors are not
    // consecutive ids (a sorted-by-id order would have ~all gaps = 1)
    val gapsOne = out.groupBy(_._2).values.map { m =>
      m.sortBy(_._3).map(_._1).sliding(2).count(w => w.length == 2 && w(1) - w(0) == 1)
    }.sum
    assert(gapsOne < 50, s"shard order looks id-sorted: $gapsOne consecutive-id adjacencies")
  }

  test("pq: codebooks are independent per-subspace kmeans over sliced vectors") {
    // dim=4, m=2: subspace 0 carries the kmeans-test blobs, subspace 1
    // carries the SAME blobs with ids swapped between blobs — so the two
    // subspaces must converge to the same centroid set but assign
    // opposite codes, which a cross-subspace mixup cannot fake.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 10.0f, 10.0f)), (1L, Seq(10.0f, 10.0f, 0.0f, 0.0f)),
      (2L, Seq(0.2f, 0.0f, 10.2f, 10.0f)), (3L, Seq(10.2f, 10.0f, 0.2f, 0.0f)),
      (4L, Seq(0.0f, 0.2f, 10.0f, 10.2f)), (5L, Seq(10.0f, 10.2f, 0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqFitCodebooks(pts, m = 2, ksub = 2, iters = 2)
    assert(books.size == 2)
    assert(books(0).map(_._1) == Seq(0, 1))
    assert(books(0)(0)._2.toSeq == Seq(0.066667, 0.066667))
    assert(books(0)(1)._2.toSeq == Seq(10.066667, 10.066667))
    // subspace 1: id 0 (the init for code 0) carries the FAR blob there
    assert(books(1)(0)._2.toSeq == Seq(10.066667, 10.066667))
    assert(books(1)(1)._2.toSeq == Seq(0.066667, 0.066667))
    val enc = Similarity.pqEncode(pts, books).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(enc == Map(
      (0L, 0) -> 0, (0L, 1) -> 0, (1L, 0) -> 1, (1L, 1) -> 1,
      (2L, 0) -> 0, (2L, 1) -> 0, (3L, 0) -> 1, (3L, 1) -> 1,
      (4L, 0) -> 0, (4L, 1) -> 0, (5L, 0) -> 1, (5L, 1) -> 1))
  }

  test("pq: empty code drops out of its subspace's book only") {
    // subspace 0: both init sub-vectors identical → code 1 empties there;
    // subspace 1: distinct blobs → both codes survive
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f, 5.0f, 5.0f)),
      (2L, Seq(1.0f, 1.0f, 5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqFitCodebooks(pts, m = 2, ksub = 2, iters = 1)
    assert(books(0).map(_._1) == Seq(0))
    assert(books(1).map(_._1) == Seq(0, 1))
  }

  test("pqTopK: ADC matches a driver-side recomputation from the books, " +
      "and ranks exactly when quantization error is zero") {
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 10.0f, 10.0f)), (1L, Seq(10.0f, 10.0f, 0.0f, 0.0f)),
      (2L, Seq(0.2f, 0.0f, 10.2f, 10.0f)), (3L, Seq(10.2f, 10.0f, 0.2f, 0.0f)),
      (4L, Seq(0.0f, 0.2f, 10.0f, 10.2f)), (5L, Seq(10.0f, 10.2f, 0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqFitCodebooks(pts, m = 2, ksub = 2, iters = 2)
    val q = pts.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.pqTopK(pts, q, books, k = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    // driver-side reference: encode each corpus vector per subspace,
    // ADC = sum over subspaces of ||q_sub - codeword||^2 in subspace order
    val vecs = pts.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def code(v: Seq[Double], s: Int) =
      books(s).minBy { case (c, cw) => (sq(v.slice(s * 2, s * 2 + 2), cw.toSeq), c) }._2
    for (qi <- Seq(0L, 1L); ci <- vecs.keys) {
      val expect = round6((0 until 2).map(s =>
        sq(vecs(qi).slice(s * 2, s * 2 + 2), code(vecs(ci), s).toSeq)).reduceLeft(_ + _))
      assert(out((qi, ci))._1 == expect, s"adc mismatch q=$qi c=$ci")
    }
    // every same-blob pair beats every cross-blob pair (blob separation
    // >> jitter + quantization error), so top-3 of each query = its blob
    assert(out.collect { case ((0L, c), (_, r)) if r <= 3 => c }.toSet == Set(0L, 2L, 4L))
    assert(out.collect { case ((1L, c), (_, r)) if r <= 3 => c }.toSet == Set(1L, 3L, 5L))
  }

  test("ivfPqTopKRerank: exact-metric output — equals bruteForceTopK when " +
      "routing covers all cells, and beats raw ADC ordering under " +
      "quantization error") {
    val rng = new scala.util.Random(11)
    val pts = (0L until 60L).map(i =>
      (i, Array.fill(8)(rng.nextDouble().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val q = pts.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val cents = Similarity.kmeansFit(pts, k = 4, iters = 2)
    val books = Similarity.pqFitCodebooks(pts, m = 4, ksub = 4, iters = 2)
    // nprobe = all 4 cells (no routing loss) + R = corpus size: the
    // rerank IS an exact scan — row-identical to brute force, including
    // the cosine values and tie-breaks
    val full = Similarity.ivfPqTopKRerank(pts, q, cents, books,
      nprobe = 4, k = 10, r = 60).collect().map(_.toString).sorted.toSeq
    val brute = Similarity.bruteForceTopK(pts, q, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(full == brute)
    // default knobs: the reranked top-k is ordered by EXACT cosine
    // (desc, ties to smaller id) and recall@10 is at least the raw ADC
    // ordering's — the shortlist contains ADC's top-k by construction,
    // so re-scoring can only promote true neighbors into the top-k
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (g, rs) => g -> rs.map(_.getLong(1)).toSet }
      val exact = Similarity.bruteForceTopK(pts, q, k = 10).collect()
        .groupBy(_.getLong(0)).map { case (g, rs) => g -> rs.map(_.getLong(1)).toSet }
      exact.map { case (g, ex) => (got.getOrElse(g, Set.empty[Long]) & ex).size.toDouble / ex.size }
        .sum / exact.size
    }
    val rer = Similarity.ivfPqTopKRerank(pts, q, cents, books, nprobe = 2, k = 10, r = 30)
    val adc = Similarity.ivfPqTopK(pts, q, cents, books, nprobe = 2, k = 10)
    assert(recall(rer) >= recall(adc))
    val rows = rer.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to g.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      })
    }
    // r < k is a contract violation, not a silent truncation
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRerank(pts, q, cents, books, k = 10, r = 5)
    }
  }

  test("hardNegatives maxBucket valve is label-aware: rare-label negatives " +
      "survive the cap") {
    // one bucket: 40 label-0 vectors + one label-1, all identical vectors
    // (same bucket at any plane count). A label-BLIND cap of 8 would keep
    // only ids 0..7 (all label 0) and leave every label-0 anchor with no
    // negatives; the per-(bucket, label) cap must keep id 1000.
    val pts = ((0L until 40L).map(i => (i, Seq(1.0f, 0.0f), 0)) :+
      ((1000L, Seq(1.0f, 0.0f), 1))).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(pts, k = 1, maxBucket = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 40L).forall(a => out.contains((a, 1000L))))
    assert(out.contains((1000L, 0L)))
  }

  test("bm25TopK matches the hand formula; multi-term sums fold per term") {
    val docs = Seq(
      (0L, "cat dog"), (1L, "cat cat fish"), (2L, "bird")
    ).toDF("doc_id", "text")
    val qs = Seq((0, "cat"), (1, "cat"), (1, "fish")).toDF("query_id", "term")
    val out = TextAnalysis.bm25TopK(docs, qs, k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val n = 3.0; val avgdl = 2.0
    def s(tf: Long, df: Long, dl: Double) =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    // query 0 = {cat}: doc 1 (tf=2) outranks doc 0 (tf=1); doc 2 absent
    assert(out((0, 1L)) == (r4(s(2, 2, 3)), 1))
    assert(out((0, 0L)) == (r4(s(1, 2, 2)), 2))
    assert(!out.contains((0, 2L)))
    // query 1 = {cat, fish}: doc 1 sums both terms in term order
    assert(out((1, 1L)) == (r4(s(2, 2, 3) + s(1, 1, 3)), 1))
    assert(out((1, 0L)) == (r4(s(1, 2, 2)), 2))
    // topKByScore directly: ties break to the smaller id, k bounds output
    import org.apache.spark.sql.functions.{col => c}
    val pairs = Seq((0, 1.0, 5L), (0, 1.0, 3L), (0, 2.0, 9L), (0, 0.5, 1L))
      .toDF("g", "score", "id")
    val tk = TextAnalysis.topKByScore(2)
    val top = pairs.repartition(4).groupBy("g")
      .agg(tk(c("score"), c("id")).as("t")).head.getSeq[org.apache.spark.sql.Row](1)
    assert(top.map(r => (r.getDouble(0), r.getLong(1))) == Seq((2.0, 9L), (1.0, 3L)))
  }

  test("ccnetBuckets: per-language percentile buckets; scoreless docs pinned to tail") {
    val texts = Seq("alpha beta alpha beta alpha beta", "alpha beta alpha beta gamma",
      "alpha beta gamma delta", "gamma delta epsilon zeta", "epsilon zeta eta theta",
      "one two three four", "two three four five", "three four five six",
      "four five six seven", "five six seven eight")
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
      texts.zipWithIndex.map { case (t, i) => ((i + 100).toLong, t + " nine ten", "fr") } ++
      Seq((200L, "solo", "fr")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBuckets(docs).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4), r.getString(5)))
    // one-word doc: no bigrams → null score, explicit tail
    val solo = out.find(_._1 == 200L).get
    assert(solo._3 == 0L && solo._4.isEmpty && solo._6 == "tail")
    // buckets must equal a driver-side recomputation from the scores:
    // rank by (avg_lp desc nulls last, doc_id), pct = rank/N rounded 6dp
    for (lang <- Seq("en", "fr")) {
      val g = out.filter(_._2 == lang)
        .sortBy(x => (x._4.isEmpty, -x._4.getOrElse(0.0), x._1))
      g.zipWithIndex.foreach { case (x, i) =>
        val pct = round6((i + 1).toDouble / g.size)
        val want = if (x._4.isEmpty) "tail"
          else if (pct <= 0.3) "head"
          else if (pct <= 1.0 - 0.3) "middle" else "tail"
        assert(x._5 == pct && x._6 == want, s"$lang doc ${x._1}: got $x want ($pct, $want)")
      }
      // 10 scored docs per language → 3 head; en has 3 tail, fr 3+solo
      assert(g.count(_._6 == "head") == 3)
    }
  }

  test("nbQualityClassifier: matches a driver-side NB recomputation; " +
      "tokenless doc scores the prior; partition-invariant") {
    val data = Seq(
      (0L, "good clean prose with facts and citations", "wiki"),
      (1L, "more good prose with careful facts and notes", "wiki"),
      (2L, "buy now cheap pills click here buy now", "spam"),
      (3L, "click here cheap deals buy cheap now", "spam"),
      (4L, "prose with facts but also cheap deals", "web"),
      (5L, "", "web"))
    val docsDf = data.toDF("doc_id", "text", "source")
    val seed = col("source") === "wiki"
    val b = 64
    val out = TextAnalysis.nbQualityClassifier(docsDf, seed, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    // driver-side recomputation of the exact NB formula
    val toks = data.map { case (id, t, src) =>
      (id, src == "wiki",
        "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
          .map(w => (TextAnalysis.hashString(w) % b).toInt))
    }
    val cPos = new scala.collection.mutable.HashMap[Int, Long].withDefaultValue(0L)
    val cNeg = new scala.collection.mutable.HashMap[Int, Long].withDefaultValue(0L)
    toks.foreach { case (_, pos, bs) =>
      bs.foreach(k => if (pos) cPos(k) += 1 else cNeg(k) += 1) }
    val (ntp, ntn) = (cPos.values.sum, cNeg.values.sum)
    val prior = math.log(2.0 / 4.0) // 2 wiki docs, 4 others
    def llr(k: Int) = math.log((cPos(k) + 1).toDouble / (ntp + b)) -
      math.log((cNeg(k) + 1).toDouble / (ntn + b))
    toks.foreach { case (id, _, bs) =>
      val want = BigDecimal(prior + bs.map(llr).sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = out(id.toInt)
      assert(got._2 == bs.size, s"doc $id n_tokens")
      assert(got._3 == want, s"doc $id score: got ${got._3} want $want")
      assert(got._4 == (if (want > 0) 1 else 0), s"doc $id label")
    }
    // seed docs positive, spam negative; empty doc = prior only (negative)
    assert(out(0)._4 == 1 && out(1)._4 == 1 && out(2)._4 == 0 && out(3)._4 == 0)
    assert(out(5)._2 == 0L && out(5)._4 == 0)
    // fold determinism: same result under a different partitioning
    val out2 = TextAnalysis.nbQualityClassifier(docsDf.repartition(7), seed, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    assert(out2.toSeq == out.toSeq)
  }

  test("hllDistinctTokens: estimate within 5% of exact at 30k cardinality; " +
      "linear-counting branch near-exact; n_tokens exact; partition-invariant") {
    // WideHash kernel vs driver recomputation
    def wide(s: String): Long = {
      var h1 = 0L; var h2 = 0L
      s.foreach { c =>
        h1 = (h1 * 31 + c) % 2147483647L
        h2 = (h2 * 131 + c) % 2147483647L
      }
      h1 * 2147483647L + h2
    }
    val wh = spark.range(1).select(
      org.apache.spark.sql.graft.WideHash(lit("hello")).as("h"))
      .collect().head.getLong(0)
    assert(wh == wide("hello"))

    // HLL regime: two groups, 30k and 8k distinct words, each word
    // repeated (dups must not move the estimate), 500 words per doc
    val docs = spark.range(100).select(
      when(col("id") < 60, "big").otherwise("small").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(499)),
        i => when(col("id") < 60,
            concat(lit("w"), ((col("id") * 500 + i) % 30000).cast("string")))
          .otherwise(concat(lit("v"), ((col("id") * 500 + i) % 8000).cast("string")))))
        .as("text"))
    val out = TextAnalysis.hllDistinctTokens(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("big")._1 == 30000L && out("small")._1 == 20000L, "exact token counts")
    assert(math.abs(out("big")._3 / 30000.0 - 1) < 0.05,
      s"big est ${out("big")._3} not within 5% of 30000")
    assert(math.abs(out("small")._3 / 8000.0 - 1) < 0.05,
      s"small est ${out("small")._3} not within 5% of 8000")
    // 30k distinct over 4096 registers is far past the 2.5m linear-counting
    // cutoff — the raw-estimate branch must be the one that fired
    assert(out("big")._2 > 4096 * 0.9, "big should nearly saturate registers")

    // linear-counting branch: 40 distinct words -> near-exact
    val small = spark.range(40).select(lit("s").as("source"),
      concat(lit("u"), col("id").cast("string")).as("text"))
    val est = TextAnalysis.hllDistinctTokens(small).collect().head.getDouble(3)
    assert(math.abs(est - 40.0) < 1.0, s"linear-counting est $est vs 40")

    // partition invariance (register MAX + bucket-ordered fold)
    val out2 = TextAnalysis.hllDistinctTokens(docs.repartition(13)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out2 == out)

    // MERGEABLE sketch: registers of arbitrary corpus slices MAX/SUM-
    // merge into exactly the full-corpus registers — associative,
    // commutative, and estimate-identical to the one-shot computation
    // (the incremental corpus-datasheet property behind q161)
    val Seq(sa, sb, sc) = Seq(0, 1, 2).map(k =>
      docs.filter(pmod(hash(col("text")), lit(3)) === k))
    def regs(d: org.apache.spark.sql.DataFrame) = TextAnalysis.hllRegisters(d)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val full = regs(docs)
    val leftAssoc = TextAnalysis.hllMergeRegisters(
      TextAnalysis.hllMergeRegisters(regs(sa), regs(sb)), regs(sc))
    val rightAssoc = TextAnalysis.hllMergeRegisters(
      regs(sc), TextAnalysis.hllMergeRegisters(regs(sb), regs(sa)))
    assert(key(leftAssoc) == key(full))
    assert(key(rightAssoc) == key(full))
    val estMerged = TextAnalysis.hllEstimate(leftAssoc).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(estMerged == out)
  }

  test("add-only sketch takedown policy: rebuilding ONLY the affected " +
      "source's registers and re-merging equals a full recompute on the " +
      "survivors (all five register families)") {
    // Registers are add-only (MAX/SUM/MIN cannot subtract a deleted
    // doc); the deletion policy is rebuild-affected-sources: a takedown
    // in src0 invalidates exactly src0's register rows — recompute them
    // from src0's SURVIVING docs (cost ∝ |source|, never the corpus) and
    // union with every untouched group's stored rows. Mergeability per
    // group makes the patch exactly a full rebuild on (corpus − deleted).
    val docs = spark.range(90).select(col("id").as("doc_id"),
      when(col("id") % 3 === 0, "src0").when(col("id") % 3 === 1, "src1")
        .otherwise("src2").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("t"), ((col("id") * 37 + i) % 700).cast("string"))))
        .as("text"))
    val deleted = docs.filter(col("source") === "src0" && col("doc_id") % 2 === 0)
    val survivors = docs.join(deleted.select("doc_id"), Seq("doc_id"), "left_anti")
    val src0Alive = survivors.filter(col("source") === "src0")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    def patched(stored: org.apache.spark.sql.DataFrame,
        rebuilt: org.apache.spark.sql.DataFrame) =
      stored.filter(col("grp") =!= "src0").unionByName(rebuilt)
    assert(key(patched(TextAnalysis.hllRegisters(docs),
        TextAnalysis.hllRegisters(src0Alive))) ==
      key(TextAnalysis.hllRegisters(survivors)), "hll")
    assert(key(patched(TextAnalysis.cmsRegisters(docs),
        TextAnalysis.cmsRegisters(src0Alive))) ==
      key(TextAnalysis.cmsRegisters(survivors)), "cms")
    assert(key(patched(TextAnalysis.lenHistRegisters(docs),
        TextAnalysis.lenHistRegisters(src0Alive))) ==
      key(TextAnalysis.lenHistRegisters(survivors)), "len-hist")
    assert(key(patched(TextAnalysis.minhashSignatures(docs),
        TextAnalysis.minhashSignatures(src0Alive))) ==
      key(TextAnalysis.minhashSignatures(survivors)), "minhash")
    assert(key(patched(TextAnalysis.bloomRegisters(docs, n = 3),
        TextAnalysis.bloomRegisters(src0Alive, n = 3))) ==
      key(TextAnalysis.bloomRegisters(survivors, n = 3)), "bloom")
  }

  test("bloom membership sketch: merge laws (OR associative, commutative, " +
      "idempotent), no false negatives, and keep verdicts match exact " +
      "decontamination when the filter is sized honestly") {
    val eval0 = Seq(
      (0L, "ev0", "alpha beta gamma delta epsilon zeta eta theta iota"),
      (1L, "ev0", "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "source", "text")
    val corpus = Seq(
      (10L, "web", "alpha beta gamma delta epsilon zeta eta theta iota extra"),
      (11L, "web", "totally unrelated words about mountain glaciers and valleys carving"),
      (12L, "web", "short"))
      .toDF("doc_id", "source", "text")
    val n = 3
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    // merge laws: build(A ∪ B) == merge(build(A), build(B)); idempotent
    val a = eval0.filter($"doc_id" === 0L)
    val b = eval0.filter($"doc_id" === 1L)
    val merged = TextAnalysis.bloomMergeRegisters(
      TextAnalysis.bloomRegisters(a, n = n), TextAnalysis.bloomRegisters(b, n = n))
    assert(key(merged) == key(TextAnalysis.bloomRegisters(eval0, n = n)))
    assert(key(TextAnalysis.bloomMergeRegisters(merged, merged)) == key(merged),
      "OR-merge must be idempotent")
    // no false negatives: an eval doc probed against its own filter hits
    // on EVERY one of its distinct grams
    val selfProbe = TextAnalysis.bloomContaminatedDocs(eval0, merged, n = n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfProbe(0L) == 7L && selfProbe(1L) == 8L, // 9/10 words → 7/8 trigrams
      s"inserted grams must always report present, got $selfProbe")
    // verdicts: doc 10 shares grams with eval (flagged), doc 11 is clean,
    // doc 12 has no grams at all (trivially clean, still in the output)
    val out = TextAnalysis.bloomContaminatedDocs(corpus, merged, n = n)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(10L)._1 == 7L && !out(10L)._2)
    assert(out(11L) == (0L, true) && out(12L) == (0L, true))
  }

  test("cmsTokenCounts: never underestimates; exact when sparse; " +
      "partition-invariant; counters merge associatively (q164 property)") {
    // two groups with known token frequencies at several magnitudes
    val docs = spark.range(60).select(col("id"),
      when(col("id") < 40, "a").otherwise("b").as("source"),
      concat_ws(" ",
        lit("alpha"), lit("alpha"), lit("beta"),
        when(col("id") % 2 === 0, "gamma").otherwise("delta")).as("text"))
    val exact = Map( // per (source, token) true counts
      ("a", "alpha") -> 80L, ("a", "beta") -> 40L,
      ("a", "gamma") -> 20L, ("a", "delta") -> 20L,
      ("b", "alpha") -> 40L, ("b", "beta") -> 20L,
      ("b", "gamma") -> 10L, ("b", "delta") -> 10L)
    val probes = Seq("alpha", "beta", "gamma", "delta", "zqxabsent")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.cmsTokenCounts(d, probes).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val out = run(docs)
    // CMS guarantee: min-of-counters never underestimates
    exact.foreach { case (k, c) =>
      assert(out(k) >= c, s"$k underestimated: ${out(k)} < $c") }
    // 4 distinct tokens over 4x1024 counters: collisions implausible and
    // deterministic — the estimates are exact here (verified at authoring;
    // any change to the hash family must re-justify this corpus)
    exact.foreach { case (k, c) =>
      assert(out(k) == c, s"$k inexact on sparse corpus: ${out(k)} vs $c") }
    assert(out(("a", "zqxabsent")) == 0L && out(("b", "zqxabsent")) == 0L)
    // partition invariance (counter SUM + min fold over integer counters)
    assert(run(docs.repartition(13)) == out)
    // MERGEABLE counters: SUM-merge of arbitrary slices == the one-shot
    // relation, associatively and commutatively (the q164 property)
    val Seq(sa, sb, sc) = Seq(0, 1, 2).map(k =>
      docs.filter(pmod(col("id"), lit(3)) === k))
    def regs(d: org.apache.spark.sql.DataFrame) = TextAnalysis.cmsRegisters(d)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val full = regs(docs)
    val leftAssoc = TextAnalysis.cmsMergeRegisters(
      TextAnalysis.cmsMergeRegisters(regs(sa), regs(sb)), regs(sc))
    val rightAssoc = TextAnalysis.cmsMergeRegisters(
      regs(sc), TextAnalysis.cmsMergeRegisters(regs(sb), regs(sa)))
    assert(key(leftAssoc) == key(full))
    assert(key(rightAssoc) == key(full))
    val estMerged = TextAnalysis.cmsEstimate(leftAssoc, probes).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(estMerged == out)
  }

  test("lenHistQuantiles: estimates within a quarter-octave below the exact " +
      "order statistic; partition-invariant; bins merge associatively (q166)") {
    // group a: lengths 1..100 (p50 exact = 50, p95 = 95); group b:
    // lengths 10·(1..40) (p50 = 200, p95 = 380)
    val docs = spark.range(140).select(col("id"),
      when(col("id") < 100, "a").otherwise("b").as("source"),
      concat_ws(" ", transform(
        sequence(lit(1), when(col("id") < 100, col("id") + 1)
          .otherwise((col("id") - 99) * 10)),
        _ => lit("w"))).as("text"))
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.lenHistQuantiles(d).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    val out = run(docs)
    assert(out("a")._1 == 100L && out("b")._1 == 40L)
    // the estimate is the lower bound of the bin holding the exact order
    // statistic: lower-bounded by exact/1.19 (quarter-octave width), never
    // above the exact value's bin upper edge
    for ((g, exact50, exact95) <- Seq(("a", 50.0, 95.0), ("b", 200.0, 380.0))) {
      val (_, p50, p95) = out(g)
      assert(p50 <= exact50 && p50 >= exact50 / 1.26,
        s"$g p50 est $p50 vs exact $exact50")
      assert(p95 <= exact95 && p95 >= exact95 / 1.26,
        s"$g p95 est $p95 vs exact $exact95")
    }
    // partition invariance (bin SUM + bin-ordered fold)
    assert(run(docs.repartition(13)) == out)
    // MERGEABLE bins: SUM-merge of arbitrary slices == the one-shot
    // relation, associatively and commutatively (the q166 property)
    val Seq(sa, sb, sc) = Seq(0, 1, 2).map(k =>
      docs.filter(pmod(col("id"), lit(3)) === k))
    def regs(d: org.apache.spark.sql.DataFrame) = TextAnalysis.lenHistRegisters(d)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val full = regs(docs)
    val leftAssoc = TextAnalysis.lenHistMerge(
      TextAnalysis.lenHistMerge(regs(sa), regs(sb)), regs(sc))
    val rightAssoc = TextAnalysis.lenHistMerge(
      regs(sc), TextAnalysis.lenHistMerge(regs(sb), regs(sa)))
    assert(key(leftAssoc) == key(full))
    assert(key(rightAssoc) == key(full))
    val estMerged = TextAnalysis.lenHistEstimate(leftAssoc).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(estMerged == out)
  }

  test("sourceJaccardSketch: estimates within 5 sigma of true vocabulary " +
      "Jaccard; identical sources hit 1.0; disjoint near 0; bounded; " +
      "partition-invariant; signatures MIN-merge associatively (q168)") {
    // four sources with controlled vocabulary overlap: a = w0..w9999,
    // b = w5000..w14999 (J(a,b) = 5000/15000 = 1/3), c = v0..v9999
    // (disjoint from a/b), d = c's vocabulary exactly (J(c,d) = 1)
    val docs = spark.range(80).select(col("id"),
      when(col("id") < 20, "a").when(col("id") < 40, "b")
        .when(col("id") < 60, "c").otherwise("d").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(499)), i =>
        when(col("id") < 20,
            concat(lit("w"), (col("id") * 500 + i).cast("string")))
          .when(col("id") < 40,
            concat(lit("w"), (lit(5000) + (col("id") - 20) * 500 + i).cast("string")))
          .when(col("id") < 60,
            concat(lit("v"), ((col("id") - 40) * 500 + i).cast("string")))
          .otherwise(
            concat(lit("v"), ((col("id") - 60) * 500 + i).cast("string")))))
        .as("text"))
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.sourceJaccardSketch(d).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val out = run(docs)
    // one-perm MinHash stderr = sqrt(J(1-J)/m); 5 sigma at m=4096
    val j = 1.0 / 3.0
    val tol = 5 * math.sqrt(j * (1 - j) / 4096.0)
    assert(math.abs(out(("a", "b"))._3 - j) < tol,
      s"J(a,b) est ${out(("a", "b"))._3} vs $j (tol $tol)")
    // identical vocabularies: every co-occupied bucket agrees, exactly 1
    assert(out(("c", "d"))._3 == 1.0 && out(("c", "d"))._1 == out(("c", "d"))._2)
    // disjoint vocabularies: agreement only via 62-bit rank collision
    assert(out(("a", "c"))._3 < 0.005, s"J(a,c) est ${out(("a", "c"))._3}")
    assert(out(("b", "c"))._3 < 0.005)
    // bounded sketch: at most 2^logM signature rows per group
    val sig = TextAnalysis.minhashSignatures(docs)
    val maxRows = sig.groupBy("grp").count().agg(max("count")).collect().head.getLong(0)
    assert(maxRows <= 4096, s"signature rows per group $maxRows > 4096")
    // partition invariance (bucket MIN + integer join/count fold)
    assert(run(docs.repartition(13)) == out)
    // MERGEABLE signatures: MIN-merge of arbitrary slices == the
    // one-shot relation, associatively and commutatively (q168), and
    // the estimate off the merged sketch is identical
    val Seq(sa, sb, sc) = Seq(0, 1, 2).map(k =>
      docs.filter(pmod(hash(col("text")), lit(3)) === k))
    def regs(d: org.apache.spark.sql.DataFrame) = TextAnalysis.minhashSignatures(d)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val full = regs(docs)
    val leftAssoc = TextAnalysis.minhashMergeSignatures(
      TextAnalysis.minhashMergeSignatures(regs(sa), regs(sb)), regs(sc))
    val rightAssoc = TextAnalysis.minhashMergeSignatures(
      regs(sc), TextAnalysis.minhashMergeSignatures(regs(sb), regs(sa)))
    assert(key(leftAssoc) == key(full))
    assert(key(rightAssoc) == key(full))
    val estMerged = TextAnalysis.minhashJaccardEstimate(leftAssoc).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(estMerged == out)
  }

  test("hardNegatives: nearest different-label vectors; same label excluded; " +
      "partition-invariant") {
    val pts = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 1),
      (2L, Seq(1.0f, 0.05f), 0), (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(0.0f, 1.0f), 0), (5L, Seq(0.0f, 1.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val lbl = Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.hardNegatives(df, k = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val out = run(pts)
    assert(out.nonEmpty)
    assert(out.forall { case (a, n, _, _) => lbl(a) != lbl(n) })
    // an identical-vector opposite-label mate shares the anchor's exact
    // bucket, so it is always found and always rank 1 (cos = 1.0)
    assert(out.filter(x => x._1 == 0L && x._4 == 1).map(_._2).toSeq == Seq(1L))
    assert(out.filter(x => x._1 == 1L && x._4 == 1).map(_._2).toSeq == Seq(0L))
    assert(out.filter(x => x._1 == 3L && x._4 == 1).map(_._2).toSeq == Seq(4L))
    assert(out.filter(x => x._1 == 0L && x._4 == 1).map(_._3).toSeq == Seq(1.0))
    // deterministic under repartitioning
    assert(run(pts.repartition(7)).sortBy(x => (x._1, x._4)).toSeq ==
      out.sortBy(x => (x._1, x._4)).toSeq)
  }

  test("hardNegatives on degenerate (zero-norm) vectors: scored 0.0 like the " +
      "oracle, never NaN, window and aggregate forms identical") {
    // id 9 is the all-zero vector with the opposite label of everything
    // else — every pair involving it has a 0/0 cosine shape. CosineSim's
    // contract maps that to 0.0 (matching the oracle's CASE ... ELSE 0.0),
    // so the pairs must be RANKED (at 0.0), not dropped, and a rank
    // window over every scored candidate must agree exactly with the
    // bounded aggregate's top-k (the q129 oracle ranks with a window).
    // three all-zero vectors share sign-LSH bucket 0 at any plane count,
    // so opposite-label zero-norm pairs are guaranteed candidates; two
    // normal vectors keep the query non-degenerate.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f), 0), (1L, Seq(0.0f, 0.0f), 1),
      (2L, Seq(0.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.1f), 1), (4L, Seq(1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val w = Similarity.hardNegatives(pts, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // 5 vectors: k = 100 keeps every candidate, so the window re-ranks all
    val byWindow = Similarity.hardNegatives(pts, k = 100)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("anchor_id").orderBy(col("cos").desc, col("neg_id"))))
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(w.sortBy(x => (x._1, x._4)).toSeq == byWindow.sortBy(x => (x._1, x._4)).toSeq)
    assert(w.forall(x => !x._3.isNaN))
    // zero-norm pairs present, RANKED, and scored exactly 0.0
    val zeroPairs = w.filter(x => Set(x._1, x._2).subsetOf(Set(0L, 1L, 2L)))
    assert(zeroPairs.nonEmpty && zeroPairs.forall(_._3 == 0.0))
    assert(w.toSet.contains((0L, 1L, 0.0, 1)))
    assert(w.filter(_._1 == 1L).map(_._2).toSet == Set(0L, 2L))
  }

  test("tokenizerFertility: exact integer sums and hand-computed ratios per language") {
    val docs = Seq(
      (0L, "hello world", "en"),        // words 2, bpe: hell+o+worl+d = 4, chars 11
      (1L, "internationalization", "en"), // words 1, bpe: 5 chunks of <=4, chars 20
      (2L, "ab", "de")                  // words 1, bpe 1, chars 2
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.tokenizerFertility(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out("en") == ((2L, 3L, 9L, 31L,
      math.floor(9.0 / 3 * 1e4 + 0.5) / 1e4, math.floor(31.0 / 9 * 1e4 + 0.5) / 1e4)))
    assert(out("de") == ((1L, 1L, 1L, 2L, 1.0, 2.0)))
  }

  test("ngramNovelty: duplicated docs score 0, unique docs score 1, mixtures in between") {
    val docs = Seq(
      (0L, "one two three four five"),
      (1L, "one two three four five"),        // exact duplicate of 0
      (2L, "alpha beta gamma delta epsilon"), // fully unique grams
      (3L, "one two three unique tail here")  // shares the "one two three" gram only
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((3L, 3L, 0.0)) && out(1L) == ((3L, 3L, 0.0)))
    assert(out(2L) == ((3L, 0L, 1.0)))
    assert(out(3L) == ((4L, 1L, 0.75)))
  }

  test("winnowFingerprints == brute-force winnowing on random tiny-vocab corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val out = TextAnalysis.winnowFingerprints(docs.toDF("doc_id", "text"), k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = docs.flatMap { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      val hs = TextAnalysis.ngramHashSeq(ws, 3)
      if (hs.isEmpty) Seq.empty
      else {
        val hp = hs.zipWithIndex
        val raw = if (hs.length >= 4)
          (0 to hs.length - 4).map(i =>
            hp.slice(i, i + 4).reduceLeft((a, x) => if (x._1 <= a._1) x else a))
        else Seq(hp.reduceLeft((a, x) => if (x._1 <= a._1) x else a))
        raw.zipWithIndex
          .filter { case (f, j) => j == 0 || f != raw(j - 1) }
          .map { case ((h, p), _) => (id, p, h) }
      }
    }.toSet
    assert(out == want && out.nonEmpty)
    // MOSS guarantee on a constructed pair: two docs sharing a run of
    // w+k-1 = 6 words must share at least one fingerprint HASH
    val pair = Seq((0L, "x y z shared run of six words here p q"),
      (1L, "m n shared run of six words here r s t")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(pair, k = 3, w = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val shared = fps.filter(_._1 == 0L).map(_._2).toSet
      .intersect(fps.filter(_._1 == 1L).map(_._2).toSet)
    assert(shared.nonEmpty)
  }

  test("winnowOverlapPairs: counts match a recomputation from the fingerprint " +
      "relation; maxFpDocs valve drops ubiquitous fingerprints") {
    val docs = (Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta unique0 x0"),
      (1L, "pre alpha beta gamma delta epsilon zeta eta unique1"),
      (2L, "one two three four five six seven eight nine")) ++
      (3L to 8L).map(i => (i, s"common boiler plate phrase here body tail$i end$i")))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).distinct
    def pairsFrom(rel: Seq[(Long, Long)], min: Int) = rel.groupBy(_._2).values
      .flatMap { g => val ids = g.map(_._1).distinct.sorted
        for (a <- ids; b <- ids if a < b) yield (a, b) }
      .groupBy(identity).map { case (p, o) => (p._1, p._2, o.size.toLong) }
      .filter(_._3 >= min).toSet
    val got2 = TextAnalysis.winnowOverlapPairs(docs, minShared = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == pairsFrom(fps, 2))
    // w+k-1 = 6 <= the 7-word shared run guarantees >= 1 shared fp:
    // (0, 1) is a pair at minShared=1; doc 2 pairs with nobody
    val got1 = TextAnalysis.winnowOverlapPairs(docs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got1 == pairsFrom(fps, 1))
    assert(got1.exists(p => p._1 == 0L && p._2 == 1L))
    assert(!got1.exists(p => p._1 == 2L || p._2 == 2L))
    // valve: boilerplate fps live in 6 docs > maxFpDocs=2 → those pairs
    // vanish, the (0, 1) pair (fps in exactly 2 docs) survives
    val valved = TextAnalysis.winnowOverlapPairs(docs, minShared = 1, maxFpDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(valved.contains((0L, 1L)))
    assert(valved.forall { case (a, b) => a < 3L && b < 3L })
  }

  test("blocklistFilter: case-insensitive hit counts and keep verdicts") {
    val docs = Seq(
      (0L, "clean text body here"),
      (1L, "some BAD text with bad words"),
      (2L, "Words on the edge")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(docs, Seq("Bad", "WORDS")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(0L -> ((0L, true)), 1L -> ((3L, false)), 2L -> ((1L, false))))
  }

  test("sourceOverlapMatrix: shared-gram counts and fractions; disjoint pairs absent") {
    val docs = Seq(
      (0L, "one two three four", "A"), (1L, "one two three four", "A"),
      (2L, "one two three four", "B"), (3L, "p q r s", "C")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // A and B carry identical gram sets (2 grams); C is disjoint
    assert(out(("A", "A")) == ((2L, 2L, 1.0)))
    assert(out(("A", "B")) == ((2L, 2L, 1.0)))
    assert(out(("B", "A")) == ((2L, 2L, 1.0)))
    assert(out(("C", "C")) == ((2L, 2L, 1.0)))
    // zero-overlap pairs produce no row (inner join on shared hash)
    assert(!out.contains(("A", "C")) && !out.contains(("C", "B")))
  }

  test("pqTopK on random vectors == driver-side PQ reimplementation") {
    val rnd = new scala.util.Random(11)
    val pts = (0L until 60L).map(i =>
      (i, Seq.fill(6)((rnd.nextInt(200) - 100) / 50.0f))).toDF("vec_id", "embedding")
    val books = Similarity.pqFitCodebooks(pts, m = 3, ksub = 5, iters = 2)
    val q = pts.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.pqTopK(pts, q, books, k = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val vecs = pts.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def code(v: Seq[Double], s: Int) =
      books(s).minBy { case (c, cw) => (sq(v.slice(s * 2, s * 2 + 2), cw.toSeq), c) }._2
    val adcs = for (qi <- 0L until 4L; ci <- vecs.keys) yield {
      val expect = round6((0 until 3).map(s =>
        sq(vecs(qi).slice(s * 2, s * 2 + 2), code(vecs(ci), s).toSeq)).reduceLeft(_ + _))
      (qi, ci) -> expect
    }
    adcs.foreach { case ((qi, ci), expect) =>
      assert(out((qi, ci))._1 == expect, s"adc mismatch q=$qi c=$ci") }
    // ranks: ascending adc, ties to smaller corpus id
    for (qi <- 0L until 4L) {
      val sorted = adcs.filter(_._1._1 == qi).map { case ((_, ci), a) => (a, ci) }
        .toSeq.sorted.zipWithIndex
      sorted.foreach { case ((a, ci), i) =>
        assert(out((qi, ci))._2 == i + 1, s"rank mismatch q=$qi c=$ci") }
    }
  }

  test("rrfFuse: hand-computed reciprocal-rank sums, overlap beats single-system, " +
      "ties break by doc id") {
    // sys0: docs 10,11,12 at ranks 1,2,3; sys1: docs 11,13 at ranks 1,2.
    // doc 11 is retrieved by BOTH (1/62 + 1/61) and must outrank doc 10's
    // single best-rank hit (1/61).
    val sys0 = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val sys1 = Seq((0L, 11L, 1), (0L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(sys0, sys1), k = 10).collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getInt(3))).toMap
    def f6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out(11L)._1 == f6(1.0 / 62 + 1.0 / 61))
    assert(out(10L)._1 == f6(1.0 / 61))
    assert(out(12L)._1 == f6(1.0 / 63))
    assert(out(13L)._1 == f6(1.0 / 62))
    // rank order: 11 (two systems) > 10 > then 12 vs 13 tie at 1/63 vs
    // 1/62 — 13's 1/62 beats 12's 1/63
    assert(out(11L)._2 == 1 && out(10L)._2 == 2 &&
      out(13L)._2 == 3 && out(12L)._2 == 4)
    // exact-tie determinism: two docs with identical contributions rank
    // by doc id
    val tied = Similarity.rrfFuse(Seq(
      Seq((0L, 21L, 1), (0L, 20L, 1)).toDF("query_id", "doc_id", "rank")), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    assert(tied == Set((20L, 1), (21L, 2)))
  }

  test("residual IVFADC: residuals reconstruct exactly, quantization error " +
      "strictly below raw PQ, full-probe rerank equals brute force") {
    // four well-separated clusters — the regime Jégou 2011 §III targets:
    // raw PQ spends its codebook spread across cluster centers, residual
    // PQ spends it on within-cluster variation
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(5.0, 5, 5, 5, 0, 0, 0, 0), Array(-5.0, -5, -5, -5, 0, 0, 0, 0),
      Array(0.0, 0, 0, 0, 5, 5, 5, 5), Array(0.0, 0, 0, 0, -5, -5, -5, -5))
    val pts = (0L until 60L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + (rnd.nextInt(100) - 50) / 100.0).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(pts, k = 4, iters = 2)
    val rawBooks = Similarity.pqFitCodebooks(pts, m = 4, ksub = 4, iters = 2)
    val resBooks = Similarity.pqFitCodebooksResidual(pts, cents, m = 4,
      ksub = 4, iters = 2)
    // the residual is EXACTLY x − centroid(assigned cell), the same IEEE
    // subtraction the oracle's list_transform performs (NOT a round-trip
    // check — (x−c)+c is lossy in floats, x−c itself is the contract)
    val cmap = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val orig = pts.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    Similarity.ivfResiduals(pts, cents).collect().foreach { r =>
      val (id, cell, res) = (r.getLong(0), r.getInt(1), r.getSeq[Double](2))
      val want = orig(id).zip(cmap(cell)).map { case (x, c) => x - c }
      assert(res == want, s"residual is not x - centroid for vec $id")
    }
    // total quantization error: residual codes must beat raw codes on
    // clustered data (the measured mechanism behind the recall lift)
    def totalErr(rel: org.apache.spark.sql.DataFrame, books: IndexedSeq[
        IndexedSeq[(Int, Array[Double])]], vc: String) =
      Similarity.pqEncode(rel, books, vecCol = vc)
        .agg(sum($"dist")).collect()(0).getDouble(0)
    val rawErr = totalErr(pts, rawBooks, "embedding")
    val resErr = totalErr(Similarity.ivfResiduals(pts, cents)
      .select($"vec_id", $"res"), resBooks, "res")
    assert(resErr < rawErr,
      s"residual encoding did not reduce quantization error: $resErr vs $rawErr")
    // with every cell probed and a corpus-wide shortlist, the exact
    // rerank reproduces brute force bit-for-bit
    val q = pts.filter($"vec_id" < 4).select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.ivfPqTopKRerankFromIndex(
      Similarity.ivfPqIndexResidual(pts, cents, resBooks),
      Similarity.ivfPqResidualProbes(q, cents, nprobe = 4),
      q, pts, resBooks, k = 10, r = 60)
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.bruteForceTopK(pts, q, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "full-probe residual rerank diverged from brute force")
    // and the ADC-only residual ranking at equal knobs is at least as
    // good a shortlist as raw ADC (recall@10 vs brute force)
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val top = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gold = Similarity.bruteForceTopK(pts, q, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (top intersect gold).size.toDouble / gold.size
    }
    val rawRec = recall(Similarity.ivfPqTopK(pts, q, cents, rawBooks,
      nprobe = 4, k = 10))
    val resRec = recall(Similarity.ivfPqResidualTopK(pts, q, cents, resBooks,
      nprobe = 4, k = 10))
    assert(resRec >= rawRec,
      s"residual ADC recall $resRec below raw ADC recall $rawRec at equal knobs")
  }

  test("OPQ (Ge 2013): rotation is orthogonal, quantization error never " +
      "above the identity-rotation fit and decreases with sweeps, " +
      "full-probe rerank equals brute force") {
    // clustered data with CROSS-SUBSPACE correlation (pairs of
    // coordinates spanning a subspace boundary move together) — the
    // structure a learned rotation exists to exploit: it can align the
    // correlated directions into single subspaces, which no
    // dimension-independent codebook budget can do
    val rnd = new scala.util.Random(7)
    val pts = (0L until 80L).map { i =>
      val t = Array.fill(4)((rnd.nextInt(200) - 100) / 20.0)
      // v spans 4 subspaces of 2 dims; each latent t(j) feeds dims
      // (2j+1, 2j+2) — straddling the subspace boundaries at dims 2|3,
      // 4|5, 6|7
      val v = Array(t(0), t(0) + t(1), t(1), t(1) + t(2), t(2),
        t(2) + t(3), t(3), t(3) - t(0))
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(pts, k = 2, iters = 2)
    val res = Similarity.ivfResiduals(pts, cents)
    def err(rel: org.apache.spark.sql.DataFrame, bks: IndexedSeq[
        IndexedSeq[(Int, Array[Double])]], vc: String) =
      Similarity.pqEncode(rel, bks, vecCol = vc)
        .agg(sum($"dist")).collect()(0).getDouble(0)
    // identity baseline = the residual family's fit
    val resBooks = Similarity.pqFitCodebooksResidual(pts, cents, m = 4,
      ksub = 4, iters = 2)
    val idErr = err(res.select($"vec_id", $"res"), resBooks, "res")
    var prevErr = idErr
    for (sw <- 2 to 3) {
      val (r, books) = Similarity.opqFitRotation(res, m = 4, ksub = 4,
        iters = 2, sweeps = sw)
      // orthogonality: R·Rᵀ = I within the 6dp rounding of R's entries
      // (worst deviation ≈ dim·1e-6)
      val dim = r.length
      for (i <- 0 until dim; j <- 0 until dim) {
        val d = (0 until dim).map(k2 => r(i)(k2) * r(j)(k2)).sum
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(d - want) < 1e-4,
          s"R not orthogonal at ($i,$j): $d, sweeps=$sw")
      }
      // the OPQ objective: error on the rotation's OWN rotated residuals
      // never above the identity fit, and monotone in sweeps (exact in
      // exact arithmetic; the 6dp rounds leave it far from these gaps)
      val rot = res.select($"vec_id", Similarity.rotate($"res", r).as("rv"))
      val e2 = err(rot, books, "rv")
      assert(e2 <= prevErr + 1e-6,
        s"OPQ error $e2 above previous $prevErr at sweeps=$sw")
      prevErr = e2
      // the rotation must actually be learned (not identity) on this
      // correlated data
      assert((0 until dim).exists(i => math.abs(r(i)(i) - 1.0) > 1e-3),
        "rotation stayed at identity on cross-subspace-correlated data")
    }
    // with every cell probed and a corpus-wide shortlist, the exact
    // rerank reproduces brute force bit-for-bit (ADC is only a shortlist)
    val (r, books) = Similarity.opqFitRotation(res, m = 4, ksub = 4,
      iters = 2, sweeps = 2)
    val q = pts.filter($"vec_id" < 4).select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.ivfPqTopKRerankFromIndex(
      Similarity.ivfPqIndexOpq(pts, cents, r, books),
      Similarity.ivfPqOpqProbes(q, cents, r, nprobe = 2),
      q, pts, books, k = 10, r = 80)
      .collect().map(_.toString).sorted.toSeq
    val want = Similarity.bruteForceTopK(pts, q, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "full-probe OPQ rerank diverged from brute force")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
