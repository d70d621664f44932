package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.Test.{check, Parameters}
import graft.operators.{Dedup, SpanJoin}

/** Property-based checks for the algorithmically subtle pieces: randomized
  * inputs compared against brute-force references. Fixed seeds via
  * scalacheck's deterministic default; failures print the shrunken case. */
class PropertySpec extends GraftSuite {
  import spark.implicits._

  private def passed(p: Prop): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(30), p)
    assert(r.passed, r.status.toString)
  }

  test("blocked overlap join == brute-force overlap filter on random spans") {
    // containJoin and adjacentJoin run on the same inputs; each span's
    // token offsets equal its char offsets, so one brute force serves all
    val genSpans = Gen.listOfN(25, for {
      doc <- Gen.choose(0L, 3L)
      b <- Gen.choose(0, 120)
      len <- Gen.choose(0, 40)
    } yield (doc, b, b + len))
    val genBand = for { lo <- Gen.choose(0, 3); hi <- Gen.choose(lo, 3) } yield (lo, hi)
    passed(Prop.forAll(genSpans, genSpans, genBand) { (ls, rs, band) =>
      def spanDf(xs: List[(Long, Int, Int)]) = xs.toDF("doc_id", "b", "e")
        .select(col("doc_id"),
          spans.tokenSpan(col("b"), col("e"), col("b"), col("e")).as("span"))
      val (l, r) = (spanDf(ls), spanDf(rs))
      def got(pairs: DataFrame) = pairs
        .select(col("doc_id"), col("first")("begin"), col("first")("end"),
          col("second")("begin"), col("second")("end"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      // brute force on the driver: every row pair, reference rules
      type S = (Long, Int, Int)
      def overlaps(a: S, c: S): Boolean =
        a._1 == c._1 && ((a._2 == c._2 && a._3 == c._3) || !(c._2 >= a._3 || c._3 <= a._2))
      def contains(a: S, c: S): Boolean = c._2 >= a._2 && c._3 <= a._3
      def adjacent(a: S, c: S): Boolean =
        a._1 == c._1 && c._2 - a._3 >= band._1 && c._2 - a._3 <= band._2
      def want(rule: (S, S) => Boolean) = (for {
        a <- ls; c <- rs if rule(a, c)
      } yield Seq[Any](a._1, a._2, a._3, c._2, c._3))
        .groupBy(identity).view.mapValues(_.length).toMap
      (got(SpanJoin.overlapJoin(l, r)) == want(overlaps)) :| "overlapJoin" &&
        (got(SpanJoin.containJoin(l, r)) ==
          want((a, c) => overlaps(a, c) && contains(a, c))) :| "containJoin" &&
        (got(SpanJoin.adjacentJoin(l, r, band._1, band._2)) == want(adjacent)) :|
          s"adjacentJoin $band"
    })
  }

  test("dupClusters == brute-force union-find on random pair graphs") {
    val genEdges = Gen.listOfN(20, for {
      a <- Gen.choose(0L, 14L); b <- Gen.choose(0L, 14L) if a != b
    } yield (a, b))
    passed(Prop.forAll(genEdges) { es =>
      {
        val got = Dedup.dupClusters(es.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        // driver-side union-find
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        // canonical root = min member of the component
        val comp = nodes.groupBy(find)
        val want = comp.values.flatMap { ms => val m = ms.min; ms.map(_ -> m) }.toMap
        got == want
      }
    })
  }

  test("duplicatedSpans == brute-force gram marking on random tiny-vocab corpora") {
    val vocab = Vector("aa", "bb", "cc", "dd")
    val genDocs = Gen.listOfN(4, Gen.listOfN(10, Gen.choose(0, vocab.size - 1)))
    val n = 3
    passed(Prop.forAll(genDocs) { wordIdx =>
      val docs = wordIdx.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.map(vocab).mkString(" "))
      }
      val got = Dedup.duplicatedSpans(docs.toDF("doc_id", "text"), n = n)
        .as[(Long, Int, Int)].collect().toSet
      // brute force: gram strings, distinct-doc counts, consecutive runs
      val grams = docs.flatMap { case (id, t) =>
        val ws = t.split(" ").toVector
        (0 to ws.length - n).map(i => (id, i, ws.slice(i, i + n).mkString(" ")))
      }
      val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
      val want = grams.filter(g => dup(g._3)).groupBy(_._1).flatMap { case (id, gs) =>
        val ps = gs.map(_._2).sorted
        val runs = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        runs.map { case (s, e) => (id, s, e + n) }
      }.toSet
      got == want
    })
  }

  test("Pii.redact is idempotent and importanceSample is monotone in rate") {
    val genText = Gen.listOfN(6, Gen.oneOf(
      "word", "a@b.co", "10.1.2.3", "555-123-4567", "123-45-6789", "the", "!"))
    passed(Prop.forAll(Gen.listOfN(4, genText)) { docs =>
      val d = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val once = d.select(col("doc_id"),
        graft.operators.Pii.redact(col("text")).as("r1"))
      val twice = once.select(col("doc_id"),
        graft.operators.Pii.redact(col("r1")).as("r2"))
      val idem = once.join(twice, "doc_id")
        .filter(col("r1") =!= col("r2")).count() == 0
      val keepLo = graft.operators.TextAnalysis.importanceSample(d, 0.3)
        .select("doc_id").as[Long].collect().toSet
      val keepHi = graft.operators.TextAnalysis.importanceSample(d, 0.9)
        .select("doc_id").as[Long].collect().toSet
      idem && keepLo.subsetOf(keepHi)
    })
  }

  test("spanToString == independent greedy-shorten reimplementation on " +
      "random slices") {
    // The expression side compiles textwrap.shorten's drop-words-from-the-
    // end loop into one substring+strip-last-word regexp; this drives it
    // against a literal greedy-accumulate implementation over random word
    // mixes (incl. >74-char words and double spaces), with random slice
    // windows so covered text starts/ends mid-word and mid-whitespace.
    // CPython parity of BOTH is pinned by CleaningSpec's shorten goldens.
    val genText = Gen.listOfN(25, for {
      n <- Gen.frequency((6, Gen.choose(1, 12)), (1, Gen.choose(60, 90)))
      c <- Gen.alphaLowerChar
      sep <- Gen.oneOf(" ", "  ")
    } yield (c.toString * n) + sep).map(_.mkString)
    val genCase = for {
      text <- genText
      b <- Gen.choose(0, 40)
      len <- Gen.choose(0, 220)
    } yield (text, b, len)
    passed(Prop.forAll(Gen.listOfN(6, genCase)) { cs =>
      val got = cs.toDF("text", "b", "len")
        .select(graft.spans.spanToString(col("text"),
          spans.span(col("b"), col("b") + col("len"))).as("s"))
        .collect().map(_.getString(0)).toSeq
      val want = cs.map { case (text, b, len) =>
        val covered = text.slice(b, math.min(b + len, text.length))
        val collapsed = covered.split("\\s+").filter(_.nonEmpty).mkString(" ")
        val short =
          if (collapsed.length <= 80) collapsed
          else {
            val sb = new StringBuilder
            var done = false
            for (w <- collapsed.split(" ") if !done) {
              val extra = if (sb.isEmpty) w.length else w.length + 1
              if (sb.length + extra <= 74) {
                if (sb.nonEmpty) sb += ' '; sb ++= w
              } else done = true
            }
            if (sb.isEmpty) "[...]" else sb.result() + " [...]"
          }
        s"[$b, ${b + len}): '$short'"
      }
      got == want
    })
  }

  test("round-10 samplers are partition-invariant (the r9 sampling bug class)") {
    // The r9 importance-sample bug was exactly this: a keep set that
    // depended on input partitioning. Every sampler/filter added since
    // must produce identical rows under different partition layouts.
    val docs = (0L until 60L).map(i =>
      (i, s"src${i % 3}", ("the quick brown fox jumps " * (1 + (i % 7).toInt)) + s"tail$i"))
      .toDF("doc_id", "source", "text")
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d) % 13).toFloat / 13f).toSeq))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for ((a, b) <- Seq((1, 7), (3, 13))) {
      assert(rows(operators.TextAnalysis.calibratedQuality(docs.repartition(a))) ==
        rows(operators.TextAnalysis.calibratedQuality(docs.repartition(b))))
      assert(rows(operators.Similarity.diversitySample(emb.repartition(a), k = 3, iters = 2, cap = 5)) ==
        rows(operators.Similarity.diversitySample(emb.repartition(b), k = 3, iters = 2, cap = 5)))
      val bench = docs.filter(col("doc_id") < 4)
      assert(rows(operators.Dedup.fuzzyContaminatedDocs(docs.repartition(a), bench, threshold = 0.5)) ==
        rows(operators.Dedup.fuzzyContaminatedDocs(docs.repartition(b), bench, threshold = 0.5)))
      val lined = docs.withColumn("text",
        concat_ws("\n", col("text"), lit("shared tail line"), col("source")))
      assert(rows(operators.Dedup.dedupLines(lined.repartition(a))) ==
        rows(operators.Dedup.dedupLines(lined.repartition(b))))
      // late-round scorers: double folds must be partition-order-free
      // (BM25 term sums, CCNet percentiles, novelty ratios, PQ/ADC)
      val qs = Seq((0, "quick"), (0, "fox"), (1, "tail7")).toDF("query_id", "term")
      assert(rows(operators.TextAnalysis.bm25TopK(docs.repartition(a), qs, k = 5)) ==
        rows(operators.TextAnalysis.bm25TopK(docs.repartition(b), qs, k = 5)))
      val langed = docs.withColumn("lang", concat(lit("l"), col("doc_id") % 2))
      assert(rows(operators.TextAnalysis.ccnetBuckets(langed.repartition(a))) ==
        rows(operators.TextAnalysis.ccnetBuckets(langed.repartition(b))))
      assert(rows(operators.TextAnalysis.ngramNovelty(docs.repartition(a))) ==
        rows(operators.TextAnalysis.ngramNovelty(docs.repartition(b))))
      val books = operators.Similarity.pqFitCodebooks(emb, m = 2, ksub = 4, iters = 2)
      val q5 = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      assert(rows(operators.Similarity.pqTopK(emb.repartition(a), q5, books, k = 5)) ==
        rows(operators.Similarity.pqTopK(emb.repartition(b), q5, books, k = 5)))
    }
  }

  test("incrementalDupPairs == full-corpus minhashDupPairs restricted to batch rows") {
    // The incremental (batch-vs-corpus + batch-internal) path must find
    // exactly the pairs the full self-join finds that involve a batch doc
    // — no candidate lost to the asymmetric probe, none invented. Tiny
    // vocabulary so random corpora actually contain near-duplicates.
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val genDocs = Gen.listOfN(8, Gen.listOfN(9, Gen.choose(0, vocab.size - 1)))
    passed(Prop.forAll(genDocs) { wordIdx =>
      val docs = wordIdx.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.map(vocab).mkString(" "))
      }.toDF("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val got = Dedup.incrementalDupPairs(corpus, batch, threshold = 0.5,
          k = 8, bands = 4, shingleK = 3)
        .select("batch_id", "dup_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val full = Dedup.minhashDupPairs(docs, threshold = 0.5,
          k = 8, bands = 4, shingleK = 3)
        .as[(Long, Long, Double)].collect()
      val want = full.flatMap { case (a, b, j) =>
        (a % 2, b % 2) match {
          case (0, 0) => None                 // corpus-internal: out of scope
          case (1, 1) => Some((b, a, j))      // batch-internal: later doc flagged
          case (0, 1) => Some((b, a, j))      // batch doc on the left
          case _      => Some((a, b, j))
        }
      }.toSet
      got == want
    })
  }

  test("splitLeakage == brute-force gram intersection on random split corpora") {
    val vocab = Vector("aa", "bb", "cc", "dd")
    val genDocs = Gen.listOfN(8, for {
      ws <- Gen.listOfN(7, Gen.choose(0, vocab.size - 1))
      split <- Gen.oneOf("train", "val", "test")
    } yield (ws, split))
    val n = 3
    passed(Prop.forAll(genDocs) { cases =>
      val docs = cases.zipWithIndex.map { case ((ws, s), i) =>
        (i.toLong, ws.map(vocab).mkString(" "), s)
      }
      val got = Dedup.splitLeakage(docs.toDF("doc_id", "text", "split"), n = n)
        .as[(String, Long, Long, Long)].collect().toSet
      def grams(t: String): Set[String] = {
        val ws = t.split(" ").toVector
        (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).toSet
      }
      val trainGrams = docs.filter(_._3 == "train").flatMap(d => grams(d._2)).toSet
      val want = docs.filter(_._3 != "train").groupBy(_._3).map { case (s, ds) =>
        val shared = ds.map(d => grams(d._2).count(trainGrams)) // per-doc distinct
        (s, ds.size.toLong, shared.count(_ > 0).toLong, shared.map(_.toLong).sum)
      }.toSet
      got == want
    })
  }

  test("rrfFuse == brute-force reciprocal-rank recomputation on random rankings") {
    import graft.operators.Similarity
    // random per-system rankings: each system ranks a random subset of a
    // tiny doc universe for each of 2 queries (ranks dense from 1, the
    // shape every upstream top-k produces)
    val genSys = Gen.listOfN(2, for {
      docs0 <- Gen.someOf(0L to 6L)
      docs1 <- Gen.someOf(0L to 6L)
    } yield Seq(0L -> docs0.toSeq, 1L -> docs1.toSeq))
    passed(Prop.forAll(genSys) { systems =>
      val dfs = systems.map(qs =>
        qs.flatMap { case (q, ds) =>
          ds.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
        }.toDF("query_id", "doc_id", "rank"))
      val k = 5
      val got = Similarity.rrfFuse(dfs, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
        .toMap
      // brute force: sum 1/(60+rank) over systems (system order), floor 6dp
      val contribs = systems.zipWithIndex.flatMap { case (qs, _) =>
        qs.flatMap { case (q, ds) =>
          ds.zipWithIndex.map { case (d, i) => (q, d) -> (1.0 / (60 + i + 1)) }
        }
      }.groupBy(_._1).map { case (key, xs) =>
        key -> math.floor(xs.map(_._2).sum * 1e6 + 0.5) / 1e6
      }
      val want = contribs.groupBy(_._1._1).flatMap { case (q, m) =>
        m.toSeq.map { case ((_, d), s) => (d, s) }
          .sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex
          .map { case ((d, s), i) => (q, d) -> (s, i + 1) }
      }
      got == want
    })
  }

  test("rrfFuseWeighted == brute-force weighted recomputation; weight 1.0 is " +
      "rrfFuse; duplicate rows fold to the best rank") {
    import graft.operators.Similarity
    val genSys = Gen.listOfN(2, for {
      docs0 <- Gen.someOf(0L to 6L)
      docs1 <- Gen.someOf(0L to 6L)
      w <- Gen.oneOf(0.0, 0.5, 1.0, 1.25, 2.0)
    } yield (Seq(0L -> docs0.toSeq, 1L -> docs1.toSeq), w))
    passed(Prop.forAll(genSys) { systems =>
      val dfs = systems.map { case (qs, w) =>
        (qs.flatMap { case (q, ds) =>
          ds.zipWithIndex.map { case (d, i) => (q, d, i + 1) }
        }.toDF("query_id", "doc_id", "rank"), w)
      }
      val k = 5
      val got = Similarity.rrfFuseWeighted(dfs, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
        .toMap
      val contribs = systems.flatMap { case (qs, w) =>
        qs.flatMap { case (q, ds) =>
          ds.zipWithIndex.map { case (d, i) => (q, d) -> (w / (60 + i + 1)) }
        }
      }.groupBy(_._1).map { case (key, xs) =>
        key -> math.floor(xs.map(_._2).sum * 1e6 + 0.5) / 1e6
      }
      val want = contribs.groupBy(_._1._1).flatMap { case (q, m) =>
        m.toSeq.map { case ((_, d), s) => (d, s) }
          .sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex
          .map { case ((d, s), i) => (q, d) -> (s, i + 1) }
      }
      got == want
    })
    import graft.operators.Similarity
    // all-ones weights reproduce rrfFuse exactly (bit-identical division)
    val sys0 = Seq((0L, 3L, 1), (0L, 5L, 2)).toDF("query_id", "doc_id", "rank")
    val sys1 = Seq((0L, 5L, 1), (0L, 2L, 2)).toDF("query_id", "doc_id", "rank")
    assert(Similarity.rrfFuseWeighted(Seq((sys0, 1.0), (sys1, 1.0)))
      .collect().map(_.toString).sorted.toSeq ==
      Similarity.rrfFuse(Seq(sys0, sys1))
        .collect().map(_.toString).sorted.toSeq)
    // a buggy upstream emitting (query, doc) twice folds to min rank
    // instead of double-counting
    val dup = Seq((0L, 3L, 1), (0L, 3L, 4), (0L, 5L, 2))
      .toDF("query_id", "doc_id", "rank")
    val clean = Seq((0L, 3L, 1), (0L, 5L, 2)).toDF("query_id", "doc_id", "rank")
    assert(Similarity.rrfFuseWeighted(Seq((dup, 2.0)))
      .collect().map(_.toString).sorted.toSeq ==
      Similarity.rrfFuseWeighted(Seq((clean, 2.0)))
        .collect().map(_.toString).sorted.toSeq)
    // contract violations fail loudly
    intercept[IllegalArgumentException] {
      Similarity.rrfFuseWeighted(Seq((clean, -1.0)))
    }
    intercept[IllegalArgumentException] {
      Similarity.rrfFuseWeighted(Seq.empty)
    }
  }

  test("hashSplit covers every row with exactly one label for random weights") {
    val genW = Gen.listOfN(3, Gen.choose(1, 10))
    passed(Prop.forAll(genW) { ws =>
      val weights = ws.zipWithIndex.map { case (w, i) => (s"s$i", w.toDouble) }
      val d = (0L until 300L).map(i => (i, "x")).toDF("doc_id", "text")
      val out = graft.operators.TextAnalysis.hashSplit(d, weights)
        .groupBy("split").count().as[(String, Long)].collect().toMap
      out.values.sum == 300L && out.keySet.subsetOf(weights.map(_._1).toSet)
    })
  }
}
