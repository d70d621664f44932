package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._
import graft.sources.{Conll, Storage}
import graft.streaming.DocumentStreams

/** What one timed operation did: documents processed, the seconds it
  * took (checks excluded), named part timings, and its failed checks. */
final case class OpResult(docs: Long, seconds: Double, parts: Map[String, Double],
    failures: Seq[String])

/**
 * A benchmark workload. `setup` generates the inputs (and anything the
 * loop starts from) in a fresh directory, replacing an earlier setup;
 * `op` runs one timed operation, then checks its outputs against the
 * generator's ground truth outside the timed window. `corruptions` hands
 * the last operation's outputs, each damaged in one planted way, back to
 * the same checks, which must then fail.
 */
trait Workload {
  def name: String
  def spark: SparkSession
  def setup(dir: String): Unit
  def op(t: Tracer): OpResult
  /** Operations that make one traced iteration. */
  def cycle: Int = 1
  /** Input sizes and planted shares, recorded with each run. */
  def facts: Map[String, Any]
  /** (name of the damage, failures the checks report on it). */
  def corruptions(): Seq[(String, Seq[String])]
  /** Kernel `Column` functions timed as noop projections in a traced run. */
  def kernels: Seq[(String, DataFrame => DataFrame)] = Nil
  def kernelInput(): DataFrame = throw new UnsupportedOperationException
  /** Per-layer figures the workload derives itself from a traced cycle. */
  def layerMetrics(probe: SparkProbe): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures for the run report. */
  def report(ops: Seq[OpResult]): Map[String, Any] = Map.empty
  def close(): Unit

  protected def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Forced in both modes: a relation several later steps read. */
  protected def materialize(t: Tracer, span: String)(df: => DataFrame): DataFrame =
    if (t.enabled) t.call(span)(df) else df.localCheckpoint(true)
}

object Workloads {
  val Names: Seq[String] = Seq("span_pipeline", "corpus_clean", "ingest_loop")

  /** The workload at its benchmark size, or (`small`) a tenth of it with
    * another seed: the warm-up, which compiles and JIT-warms the same code
    * paths without paying for the full inputs. */
  def make(name: String, spark: SparkSession, seed: Long, small: Boolean = false): Workload = {
    val (s, div) = if (small) (seed + 7919, 10) else (seed, 1)
    name match {
      case "span_pipeline" => new SpanPipeline(spark, s, 150 / div)
      case "corpus_clean" => new CorpusClean(spark, s, 2500 / div)
      case "ingest_loop" => new IngestLoop(spark, s, 2000 / div, 100 / div)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }
  }

  /** Warms a fresh JVM up for `name`: one traced-length cycle of the small
    * variant. Returns its operations, whose checks count like any other. */
  def warmup(name: String, spark: SparkSession, seed: Long, dir: String): Seq[OpResult] = {
    val w = make(name, spark, seed, small = true)
    try {
      w.setup(dir)
      (1 to w.cycle).map(_ => w.op(Tracer.off(spark)))
    } finally w.close()
  }

  private val instances = new java.util.concurrent.atomic.AtomicInteger()
  /** A catalog-name prefix unique within the JVM. */
  def tablePrefix(): String = s"w${instances.incrementAndGet()}_"

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).fold(0)(_.map(dataFiles).sum)
    else if (f.getName.startsWith("part-")) 1 else 0
}

// ------------------------------------------------------------ span_pipeline

/**
 * The paper's core flow over one CoNLL-2003 file: parse, IOB to spans,
 * dictionary and regex extraction, span joins (explicit and through the
 * SpanJoinRewrite rule), consolidation, BERT features, the F1 report and a
 * CoNLL write.
 */
final class SpanPipeline(val spark: SparkSession, seed: Long, nDocs: Int) extends Workload {
  val name = "span_pipeline"
  private var dir: String = _
  private var data: Gen.ConllData = _
  private var dict: DataFrame = _
  private var opNo = 0

  import SpanPipeline._
  private var last: Out = _
  private var bytesWritten = 0L // by write2003, in traced operations
  private var original: Map[String, Int] = _ // the input file's documents

  def setup(d: String): Unit = {
    close()
    dir = d
    new File(dir).mkdirs()
    data = Gen.conll(seed, nDocs)
    original = null
    Files.write(Paths.get(s"$dir/eng.train"), data.text.getBytes("UTF-8"))
    import spark.implicits._
    dict = Extract.createDict(data.dictEntries.toDF("entry")).localCheckpoint(true)
  }

  def facts: Map[String, Any] = Map("docs" -> nDocs, "tokens" -> data.tokens,
    "entities" -> data.entities.size, "entity_tokens" -> data.entityTokens,
    "dict_entries" -> data.dictEntries.size, "dict_mentions" -> data.mentions.size,
    "conll_bytes" -> data.text.length,
    "input_sha256" -> Gen.sha256(data.text.getBytes("UTF-8")))

  def op(t: Tracer): OpResult = {
    opNo += 1
    val out = s"$dir/out$opNo"
    val (res, secs) = time {
      val toks = materialize(t, "sources.Conll.conll2003")(
        Conll.conll2003(spark, s"$dir/eng.train")
          .withColumn("normalized_text", lower(col("text"))))
      val docs = materialize(t, "sources.Conll.documents")(Conll.documents(toks))
      val ents = materialize(t, "operators.Iob.iobToSpans")(Iob.iobToSpans(toks))
      val dictM = materialize(t, "operators.Extract.extractDict")(
        Extract.extractDict(docs, toks, dict, maxLen = 3))
      val capM = materialize(t, "operators.Extract.extractRegexTok")(
        Extract.extractRegexTok(docs, toks, "[A-Z][a-z]+"))
      val adj = t.call("operators.SpanJoin.adjacentJoin")(
        SpanJoin.adjacentJoin(capM, dictM, 0, 1))
      val ov = t.call("operators.SpanJoin.overlapJoin")(SpanJoin.overlapJoin(ents, capM))
      // the declarative overlap join, which the SpanJoinRewrite rule blocks
      val rule = t.call("plans.SpanJoinRewrite.overlapJoin") {
        val f = ents.select(col("doc_id"), col("span").as("first"))
        val s = toks.select(col("doc_id").as("d2"), col("span").as("second"))
        f.join(s, col("doc_id") === col("d2") &&
          graft.spans.overlaps(col("first"), col("second")))
      }
      val cons = t.call("operators.Consolidate.consolidate")(Consolidate.consolidate(
        ents.select("doc_id", "span").unionByName(capM.select("doc_id", "span"))))
      val bert = t.call("operators.Bert.conllToBert")(
        Bert.conllToBert(toks, docs, Gen.EntityTypes))
      val f1 = t.call("operators.Cleaning.f1ScoreReportIob")(
        Cleaning.f1ScoreReportIob(ents, ents, spanIdCols = Seq("doc_id", "span")))
      // the relation already holds each -DOCSTART- row, so no extra headers
      t.span("sources.Conll.write2003")(Conll.write2003(toks, out, docstart = false))
      if (t.enabled) bytesWritten += Workloads.dirBytes(new File(out))
      val docNum = toks.select("doc_id", "doc_num").distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      def spansOf(df: DataFrame, typed: Boolean): Spans = df.select(col("doc_id"),
          col("span")("begin_tok"), col("span")("end_tok"),
          if (typed) col("ent_type") else lit(""))
        .collect().toSeq
        .map(r => (docNum.getOrElse(r.getLong(0), -1), r.getInt(1), r.getInt(2), r.getString(3)))
      adj.count()
      (spansOf(ents, typed = true), spansOf(dictM, typed = false), capM.count(),
        ov.count(), rule.count(), spansOf(cons, typed = false), bert.count(),
        f1.filter(col("label") === "Micro-avg").select("f1_score").collect().toSeq
          .map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0)))
    }
    if (original == null) original = docStrings(Conll.conll2003(spark, s"$dir/eng.train"))
    last = Out(res._1, res._2, res._3, res._4, res._5, res._6, res._7, res._8,
      original, docStrings(Conll.conll2003(spark, Conll.writtenFilesGlob(out))))
    Workloads.deleteTree(new File(out))
    OpResult(nDocs, secs, Map.empty, check(last))
  }

  private def check(o: Out): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) fails += what
    val gold = data.entities.map(e => (e.doc, e.beginTok, e.endTok, e.etype))
    expect(o.ents.sorted == gold.sorted,
      s"iobToSpans: ${o.ents.size} spans, ${gold.diff(o.ents).size} gold spans missing, " +
        s"e.g. ${gold.diff(o.ents).sorted.take(2)}; extra e.g. ${o.ents.diff(gold).sorted.take(2)}")
    val goldM = data.mentions.map(m => (m.doc, m.beginTok, m.endTok, ""))
    expect(o.mentions.sorted == goldM.sorted,
      s"extractDict: ${o.mentions.size} matches, ${goldM.diff(o.mentions).size} planted missing")
    val n = data.entityTokens
    expect(o.capN == n, s"extractRegexTok: ${o.capN} matches, want $n")
    expect(o.ovN == n, s"overlapJoin: ${o.ovN} pairs, want $n")
    expect(o.ruleN == n, s"rewritten overlap join: ${o.ruleN} pairs, want $n")
    expect(o.cons.sorted == gold.map(g => (g._1, g._2, g._3, "")).sorted,
      s"consolidate: ${o.cons.size} spans, want the ${gold.size} entity spans")
    expect(o.bertN > data.tokens, s"conllToBert: ${o.bertN} rows for ${data.tokens} tokens")
    expect(o.f1 == Seq(1.0), s"gold-vs-gold micro F1 ${o.f1.mkString(",")}")
    expect(o.written == o.reread, s"write2003 output does not re-read to the same relation: " +
      s"${(o.written.keySet -- o.reread.keySet).size} documents differ, e.g. " +
      s"${(o.written.keySet -- o.reread.keySet).headOption.map(_.take(80).replace('\n', '|'))} vs " +
      s"${(o.reread.keySet -- o.written.keySet).headOption.map(_.take(80).replace('\n', '|'))}")
    fails.toSeq
  }

  def corruptions(): Seq[(String, Seq[String])] = Seq(
    "entity span dropped" -> check(last.copy(ents = last.ents.tail)),
    "dictionary match dropped" -> check(last.copy(mentions = last.mentions.tail)),
    "F1 below 1" -> check(last.copy(f1 = Seq(0.99))),
    "written document lost" -> check(last.copy(reread = last.reread - last.reread.keys.head)))

  override def layerMetrics(probe: SparkProbe): Map[String, Double] = {
    val blocked = probe.joinsIn("plans.SpanJoinRewrite.overlapJoin")
      .filter(_.keys.exists(_.startsWith("__graft_blk")))
    Map("sources.Conll.conll2003.tasks" -> probe.sumIn("sources.Conll.conll2003")(_.tasks).toDouble,
      "sources.Conll.write2003.bytes" -> bytesWritten.toDouble,
      "plans.SpanJoinRewrite.block_yield" ->
        blocked.map(_.rowsOut).sum.toDouble / math.max(1L, blocked.map(_.rowsIn).sum))
  }

  /** Each document as one string of its tokens and tags (a multiset). */
  private def docStrings(toks: DataFrame): Map[String, Int] =
    toks.groupBy("fold", "doc_num")
      .agg(sort_array(collect_list(struct(col("token_id"), concat_ws(" ", col("text"),
        col("pos"), col("phrase_iob"), coalesce(col("phrase_type"), lit("")),
        col("ent_iob"), coalesce(col("ent_type"), lit("")))))).as("t"))
      .select(concat_ws("\n", col("t.col2")).as("s"))
      .collect().map(_.getString(0)).groupBy(identity).map { case (k, v) => k -> v.length }

  def close(): Unit = if (dir != null) Workloads.deleteTree(new File(dir))
}

object SpanPipeline {
  type Spans = Seq[(Int, Int, Int, String)] // doc_num, begin_tok, end_tok, type
  /** What one operation produced, as the checks see it. */
  final case class Out(ents: Spans, mentions: Spans, capN: Long, ovN: Long,
      ruleN: Long, cons: Spans, bertN: Long, f1: Seq[Double],
      written: Map[String, Int], reread: Map[String, Int])
}

// ------------------------------------------------------------- corpus_clean

/**
 * The training-data cleaning pipeline over a sharded corpus: language and
 * quality gate, eval decontamination, MinHash near-duplicate pairs and
 * their removal, SimHash pairs, the winnowing overlap report and the
 * stable hash split; the cleaned corpus is written out.
 */
final class CorpusClean(val spark: SparkSession, seed: Long, nDocs: Int) extends Workload {
  val name = "corpus_clean"
  val threshold = 0.8
  val minQuality = 0.3
  private var dir: String = _
  private var data: Gen.CorpusData = _
  private var texts: Map[Long, String] = _
  private var evalDf: DataFrame = _
  private var opNo = 0
  private var last: (Seq[(Long, Long)], Set[Long]) = _ // (pairs, kept ids)
  private var pairsOut = 0L

  def setup(d: String): Unit = {
    close()
    dir = d
    new File(dir).mkdirs()
    data = Gen.corpus(seed, nDocs)
    texts = data.docs.map(x => x.id -> x.text).toMap
    import spark.implicits._
    val shards = math.max(4, spark.sparkContext.defaultParallelism)
    spark.createDataset(data.docs.map(x => (x.id, x.text))).toDF("doc_id", "text")
      .repartition(shards).write.parquet(s"$dir/corpus")
    spark.createDataset(data.eval.map(x => (x.id, x.text))).toDF("doc_id", "text")
      .write.parquet(s"$dir/eval")
    evalDf = spark.read.parquet(s"$dir/eval")
  }

  def facts: Map[String, Any] = Map("docs" -> nDocs, "text_bytes" -> data.textBytes,
    "shards" -> new File(s"$dir/corpus").list().count(_.startsWith("part-")),
    "near_dup_pairs" -> data.nearDupPairs.size, "contaminated" -> data.contaminated.size,
    "low_quality" -> data.lowQuality.size, "eval_docs" -> data.eval.size,
    "input_sha256" -> Gen.digestDocs(data.docs ++ data.eval))

  private def gate(df: DataFrame): DataFrame =
    df.withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("lang") =!= "und" && col("quality") >= minQuality)

  def op(t: Tracer): OpResult = {
    opNo += 1
    val out = s"$dir/clean$opNo"
    val ((pairs, _, _), secs) = time {
      val corpus = spark.read.parquet(s"$dir/corpus")
      val gated = t.call("operators.TextAnalysis.qualityGate")(gate(corpus))
      val contam = t.call("operators.Dedup.contaminatedDocs")(
        Dedup.contaminatedDocs(gated, evalDf, 8))
      val clean = gated.join(contam.select("doc_id"), Seq("doc_id"), "left_anti")
      val pairs = materialize(t, "operators.Dedup.minhashDupPairs")(
        Dedup.minhashDupPairs(clean, threshold, k = 32, bands = 16))
      val dedup = materialize(t, "operators.Dedup.dropNearDuplicates")(
        Dedup.dropNearDuplicates(clean, pairs))
      val sim = t.call("operators.Dedup.simhashDupPairs")(Dedup.simhashDupPairs(dedup, 3))
      val win = t.call("operators.TextAnalysis.winnowOverlapPairs")(
        TextAnalysis.winnowOverlapPairs(dedup))
      val split = t.call("operators.TextAnalysis.hashSplit")(TextAnalysis.hashSplit(dedup))
      split.select("doc_id", "split", "lang").write.parquet(out)
      (pairs.select("id_a", "id_b").collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
        sim.count(), win.count())
    }
    pairsOut = pairs.size
    last = (pairs, spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet)
    Workloads.deleteTree(new File(out))
    OpResult(nDocs, secs, Map.empty, check(last._1, last._2))
  }

  private def check(pairs: Seq[(Long, Long)], kept: Set[Long]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val found = pairs.toSet
    val missed = data.nearDupPairs.filter(p => p._3 >= threshold &&
      !found((math.min(p._1, p._2), math.max(p._1, p._2))))
    if (missed.nonEmpty) fails += s"minhashDupPairs missed ${missed.size} planted " +
      s"near-duplicates, e.g. ${missed.head} (kept: ${kept(missed.head._1)}, ${kept(missed.head._2)})"
    val below = pairs.filter(p => Gen.jaccard(texts(p._1), texts(p._2)) < threshold)
    if (below.nonEmpty) fails += s"${below.size} emitted pairs below Jaccard $threshold"
    val leaked = data.contaminated.intersect(kept)
    if (leaked.nonEmpty) fails += s"${leaked.size} eval-contaminated docs survived"
    val low = data.lowQuality.intersect(kept)
    if (low.nonEmpty) fails += s"${low.size} low-quality docs survived the gate"
    fails.toSeq
  }

  def corruptions(): Seq[(String, Seq[String])] = {
    val (pairs, kept) = last
    val planted = data.nearDupPairs.head
    val unrelated = {
      val ids = texts.keys.toSeq.sorted
      (ids.head, ids.find(i => Gen.jaccard(texts(ids.head), texts(i)) < threshold).get)
    }
    Seq(
      "planted duplicate removed" -> check(pairs.filterNot(_ ==
        ((math.min(planted._1, planted._2), math.max(planted._1, planted._2)))), kept),
      "pair below threshold emitted" -> check(pairs :+ unrelated, kept),
      "eval-slice doc kept" -> check(pairs, kept + data.contaminated.head))
  }

  override def kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "langId" -> (_.select(TextAnalysis.langId(col("text")))),
    "qualityScore" -> (_.select(TextAnalysis.qualityScore(col("text")))),
    "minhashBandKeys" -> (_.select(Dedup.lshBandKeys(
      Dedup.minhashSignature(col("text"), 32, 3), 32, 16))),
    "simhash" -> (_.select(Dedup.simhash(col("text")))),
    "wideNgramHashes" -> (_.select(TextAnalysis.wideNgramHashes(col("text"), 5))))

  override def kernelInput(): DataFrame = spark.read.parquet(s"$dir/corpus")

  override def layerMetrics(probe: SparkProbe): Map[String, Double] = {
    val cands = probe.joinsIn("operators.Dedup.minhashDupPairs")
      .filter(_.keys.contains("band_b")).map(_.rowsOut).sum
    Map("operators.Dedup.minhashDupPairs.pair_yield" -> pairsOut.toDouble / math.max(1L, cands))
  }

  def close(): Unit = if (dir != null) Workloads.deleteTree(new File(dir))
}

// -------------------------------------------------------------- ingest_loop

/**
 * The 24/7 self-updating loop over stored indexes: each batch is probed
 * against the stored MinHash band index and sign-LSH index (the duplicate
 * verdict), then absorbed into both. Takedowns are recorded after the
 * second batch of every three, and a maintenance cycle compacts every
 * table after the third. One operation is one batch plus whatever
 * takedown or maintenance falls due after it.
 */
final class IngestLoop(val spark: SparkSession, seed: Long, seedDocs: Int, batchDocs: Int)
    extends Workload {
  val name = "ingest_loop"
  val dim = 32
  val nPlanes = 12
  override def cycle: Int = 3
  private val gen = new Gen.Ingest(seed, seedDocs, batchDocs, dim)
  private val roles = Seq("idx", "cor", "sidx", "scor")
  private var dir: String = _
  private var prefix: String = _
  private var tables: Map[String, String] = Map.empty // role -> table name
  private var batchNo = 0
  private var takedownsDone = 0
  private var absorbed = 0L
  private var inputBytes = 0L
  private val gone = mutable.Set.empty[Long]
  private var cloneSeconds = 0.0
  // traced-cycle counters, keyed by span name
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var last: (Gen.Batch, Seq[(Long, Long)], Seq[(Long, Long)], Set[Long]) = _

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("embedding", ArrayType(DoubleType, false))))

  private def frame(docs: Seq[Gen.VDoc]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.vec.toSeq)): _*), schema)

  private def t(role: String) = tables(role)

  private def tableDir(role: String): Option[File] =
    if (!spark.catalog.tableExists(t(role))) None
    else Some(new File(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(t(role))).location))

  private def files(role: String): Int = tableDir(role).fold(0)(Workloads.dataFiles)

  def setup(d: String): Unit = {
    close()
    dir = d
    new File(dir).mkdirs()
    val p = Workloads.tablePrefix()
    prefix = p
    val seedDf = frame(gen.seedCorpus).localCheckpoint(true)
    Storage.writeBucketed(Dedup.lshBandIndex(seedDf, 16, 4, 3), p + "base_idx",
      s"$dir/base_idx", bucketCol = "key", buckets = 8)
    Storage.writeBucketed(seedDf.select("doc_id", "text"), p + "base_cor",
      s"$dir/base_cor", bucketCol = "doc_id", buckets = 8)
    Storage.writeBucketed(Dedup.signBucketIndex(seedDf, nPlanes, "doc_id", "embedding"),
      p + "base_sidx", s"$dir/base_sidx", bucketCol = "pb", buckets = 8)
    Storage.writeBucketed(seedDf.select("doc_id", "embedding"), p + "base_scor",
      s"$dir/base_scor", bucketCol = "doc_id", buckets = 8)
    // the loop mutates clones; the stored baseline stays as it was
    cloneSeconds = roles.map { r =>
      time(Storage.cloneTable(spark, p + "base_" + r, p + r, s"$dir/$r"))._2
    }.sum
    tables = (roles.map(r => r -> (p + r)) :+ ("ts" -> (p + "ts"))).toMap
    batchNo = 0
    takedownsDone = 0
    absorbed = 0L
    gone.clear()
    inputBytes = Gen.inputBytes(gen.seedCorpus)
  }

  def facts: Map[String, Any] = Map("seed_docs" -> seedDocs, "batch_docs" -> batchDocs,
    "dim" -> dim, "reingest_share" -> 0.1, "takedown_every_batches" -> cycle,
    "takedown_ids" -> gen.takedownSize, "maintenance_every_batches" -> cycle,
    "input_sha256" -> Gen.digest(gen.seedCorpus ++
      (0 until 4).flatMap(b => gen.batch(b, (b + 1) / cycle).docs)))

  def op(tr: Tracer): OpResult = {
    val b = gen.batch(batchNo, takedownsDone)
    val df = frame(b.docs)
    val ts = Some(t("ts"))
    val textProbe = "streaming.DocumentStreams.probeStoredIndex"
    val semProbe = "streaming.DocumentStreams.probeStoredSemanticIndex"
    if (tr.enabled) {
      counters(textProbe + ".stored") += files("idx")
      counters(semProbe + ".stored") += files("sidx")
    }
    val ((tp, sp), probeS) = time {
      val tp = tr.call(textProbe)(
        DocumentStreams.probeStoredIndex(df, t("idx"), t("cor"), 0.8, 16, 4, 3,
          pruneCorpusByCandidates = true, tombstoneTable = ts))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      val sp = tr.call(semProbe)(
        DocumentStreams.probeStoredSemanticIndex(df, t("sidx"), t("scor"), 0.95, nPlanes,
          "doc_id", "embedding", tombstoneTable = ts))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      (tp, sp)
    }
    val textUpdate = "streaming.DocumentStreams.updateStoredIndex"
    val semUpdate = "streaming.DocumentStreams.updateStoredSemanticIndex"
    val before = if (tr.enabled) roles.map(r => r -> files(r)).toMap else Map.empty[String, Int]
    val (_, absorbS) = time {
      tr.span(textUpdate)(DocumentStreams.updateStoredIndex(df, t("idx"), t("cor"), 16, 4, 3))
      tr.span(semUpdate)(DocumentStreams.updateStoredSemanticIndex(df, t("sidx"), t("scor"),
        nPlanes, "doc_id", "embedding"))
    }
    if (tr.enabled) {
      counters(textProbe + ".pairs") += tp.size
      counters(semProbe + ".pairs") += sp.size
      counters(textUpdate + ".files") += Seq("idx", "cor").map(r => files(r) - before(r)).sum
      counters(semUpdate + ".files") += Seq("sidx", "scor").map(r => files(r) - before(r)).sum
    }
    absorbed += b.docs.size
    inputBytes += Gen.inputBytes(b.docs)
    var parts = Map("probe_s" -> probeS, "absorb_s" -> absorbS)
    val goneBefore = gone.toSet
    if (batchNo % cycle == 1) {
      val ids = gen.takedowns(takedownsDone)
      import spark.implicits._
      val (_, s) = time(tr.span("streaming.DocumentStreams.recordDeletions")(
        DocumentStreams.recordDeletions(ids.toDF("doc_id"), t("ts"), s"$dir/ts")))
      takedownsDone += 1
      gone ++= ids
      parts += "takedown_s" -> s
    }
    var counts = Map.empty[String, Long]
    if (batchNo % cycle == 2) {
      val (_, s) = time(tr.span("streaming.DocumentStreams.runMaintenance")(
        DocumentStreams.runMaintenance(spark, ts, Seq(
          (t("idx"), "key", 8, "dup_id"), (t("cor"), "doc_id", 8, "doc_id"),
          (t("sidx"), "pb", 8, "dup_id"), (t("scor"), "doc_id", 8, "doc_id")),
          "doc_id", 8)))
      parts += "maintenance_s" -> s
      counts = (roles :+ "ts").map { r =>
        spark.catalog.refreshTable(t(r))
        r -> spark.table(t(r)).count()
      }.toMap
    }
    batchNo += 1
    last = (b, tp, sp, goneBefore)
    OpResult(b.docs.size, parts.values.sum, parts, check(b, tp, sp, goneBefore, counts))
  }

  /** The verdict holds every planted re-ingest and no taken-down id; after
    * maintenance every table holds exactly inserted minus deleted rows and
    * the ledger holds no applied takedown. */
  private def check(b: Gen.Batch, tp: Seq[(Long, Long)], sp: Seq[(Long, Long)],
      goneBefore: Set[Long], counts: Map[String, Long]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    Seq("text" -> tp, "semantic" -> sp).foreach { case (kind, pairs) =>
      val set = pairs.toSet
      val missed = b.reingests.filterNot(set)
      if (missed.nonEmpty) fails += s"batch ${b.index}: $kind probe missed ${missed.size} re-ingests"
      val leaked = pairs.filter(p => goneBefore(p._2))
      if (leaked.nonEmpty) fails += s"batch ${b.index}: $kind probe paired ${leaked.size} taken-down ids"
    }
    if (counts.nonEmpty) {
      val docs = seedDocs + absorbed - gone.size
      Map("idx" -> 4 * docs, "cor" -> docs, "sidx" -> docs, "scor" -> docs, "ts" -> 0L)
        .foreach { case (r, n) =>
          if (counts(r) != n) fails += s"after maintenance ${t(r)} has ${counts(r)} rows, want $n"
        }
    }
    fails.toSeq
  }

  def corruptions(): Seq[(String, Seq[String])] = {
    val (b, tp, sp, goneBefore) = last
    val taken = gen.takedowns(0).head
    val docs = seedDocs + absorbed - gone.size
    val exact = Map("idx" -> 4 * docs, "cor" -> docs, "sidx" -> docs, "scor" -> docs, "ts" -> 0L)
    Seq(
      "re-ingest verdict dropped" -> check(b, tp.filterNot(_ == b.reingests.head), sp, goneBefore, Map.empty),
      "taken-down id paired" -> check(b, tp :+ (b.docs.head.id -> taken), sp, goneBefore + taken, Map.empty),
      "row left after maintenance" -> check(b, tp, sp, goneBefore,
        exact.updated("cor", docs + 1)))
  }

  override def report(ops: Seq[OpResult]): Map[String, Any] = {
    def of(k: String) = ops.flatMap(_.parts.get(k))
    def sum(k: String): Any = if (of(k).isEmpty) Map("n" -> 0) else Stats.summary(of(k))
    Map("probe_s" -> sum("probe_s"), "absorb_s" -> sum("absorb_s"),
      "maintenance_s" -> sum("maintenance_s"), "takedown_s" -> sum("takedown_s"),
      "stored_bytes_per_input_byte" -> storedBytes.toDouble / inputBytes)
  }

  def storedBytes: Long = (roles :+ "ts").flatMap(tableDir).map(Workloads.dirBytes).sum

  override def kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "signBucketHashed" -> (_.select(Dedup.signBucketHashed(col("embedding"), nPlanes))))

  override def kernelInput(): DataFrame = {
    spark.catalog.refreshTable(t("scor"))
    spark.table(t("scor"))
  }

  override def layerMetrics(probe: SparkProbe): Map[String, Double] = {
    val stored = roles.map(files)
    def yieldOf(span: String, key: String): Double = counters(span + ".pairs") /
      math.max(1L, probe.joinsIn(span).filter(_.keys.contains(key)).map(_.rowsOut).sum)
    def readOf(span: String, role: String): Double =
      probe.scansIn(span).filter(_._1 == t(role)).map(_._2).sum /
        math.max(1.0, counters(span + ".stored"))
    val p1 = "streaming.DocumentStreams.probeStoredIndex"
    val p2 = "streaming.DocumentStreams.probeStoredSemanticIndex"
    val u1 = "streaming.DocumentStreams.updateStoredIndex"
    val u2 = "streaming.DocumentStreams.updateStoredSemanticIndex"
    Map(
      s"$p1.pair_yield" -> yieldOf(p1, "key_c"),
      s"$p2.pair_yield" -> yieldOf(p2, "pb"),
      s"$p1.files_read" -> readOf(p1, "idx"),
      s"$p2.files_read" -> readOf(p2, "sidx"),
      s"$u1.files" -> counters(u1 + ".files"),
      s"$u2.files" -> counters(u2 + ".files"),
      s"$u1.bytes" -> probe.sumIn(u1)(_.bytesWritten).toDouble,
      s"$u2.bytes" -> probe.sumIn(u2)(_.bytesWritten).toDouble,
      "streaming.DocumentStreams.runMaintenance.bytes" ->
        probe.sumIn("streaming.DocumentStreams.runMaintenance")(_.bytesWritten).toDouble,
      "sources.Storage.files_per_table" -> stored.sum.toDouble / stored.size,
      "sources.Storage.cloneTable.self_s" -> cloneSeconds)
  }

  def close(): Unit = {
    tables.values.foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    if (prefix != null) roles.foreach(r => spark.sql(s"DROP TABLE IF EXISTS `${prefix}base_$r`"))
    tables = Map.empty
    counters.clear()
    if (dir != null) Workloads.deleteTree(new File(dir))
  }
}
