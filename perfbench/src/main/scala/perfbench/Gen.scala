package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/**
 * Seeded input generators with planted ground truth. Every generator is a
 * pure function of (seed, sizes): the same seed yields byte-identical
 * inputs, which `digest` makes checkable. The program under test only ever
 * sees the generated inputs; the truth stays on the benchmark side.
 */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL)

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n",
    "p", "r", "s", "t", "v", "w", "z", "br", "cr", "dr", "gr", "kl", "pl", "st", "tr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ou", "ei")

  /** `n` distinct pseudo-words of 2..4 syllables, none of them a stopword
    * of any language below. */
  def words(r: SplittableRandom, n: Int, avoid: Set[String] = Set.empty): Array[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val w = (0 until 2 + r.nextInt(3)).map(_ =>
        Onsets(r.nextInt(Onsets.length)) + Nuclei(r.nextInt(Nuclei.length))).mkString
      if (!AllStops(w) && !avoid(w)) out += w
    }
    out.toArray
  }

  val Stops: Map[String, Array[String]] = Map(
    "en" -> Array("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
      "was", "on", "with", "he", "as", "by", "at", "from"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine",
      "zu", "den", "von", "sie", "auf", "des", "im"),
    "fr" -> Array("le", "la", "les", "et", "est", "un", "une", "des", "du", "que",
      "qui", "dans", "pour", "pas", "sur", "au"))
  private val AllStops: Set[String] = Stops.values.flatten.toSet

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  // ---------------------------------------------------------------- CoNLL

  final case class Entity(doc: Int, beginTok: Int, endTok: Int, etype: String)
  final case class Mention(doc: Int, beginTok: Int, endTok: Int)
  final case class ConllData(text: String, dictEntries: Seq[String],
      entities: Seq[Entity], mentions: Seq[Mention], docs: Int, tokens: Int,
      entityTokens: Int)

  val EntityTypes: Seq[String] = Seq("PER", "LOC", "ORG", "MISC")

  /**
   * One CoNLL-2003 file (tokens, POS, chunk, IOB1 entity tags, like
   * `eng.train`). Planted: about one entity per sentence (capitalised
   * tokens, which nothing else is), and dictionary mentions whose tokens
   * occur nowhere else in the corpus, so the gold entity spans and the
   * gold dictionary matches are known exactly.
   */
  def conll(seed: Long, docs: Int): ConllData = {
    val r = rng(seed, 1)
    val filler = words(r, 4000)
    val entityWords = words(r, 1200, filler.toSet).map(_.capitalize)
    val dictTokens = words(r, 600, filler.toSet ++ entityWords.map(_.toLowerCase))
    // 200 entries of 1..3 tokens; no token is shared between entries
    val entries = {
      var i = 0
      (0 until 200).map { _ =>
        val n = 1 + r.nextInt(3)
        val e = dictTokens.slice(i, i + n).toSeq
        i += n
        e
      }
    }
    val pos = Array("NN", "VB", "DT", "JJ", "IN", "RB")
    val sb = new StringBuilder
    val entities = mutable.ArrayBuffer.empty[Entity]
    val mentions = mutable.ArrayBuffer.empty[Mention]
    var tokens = 0
    var entityTokens = 0
    (0 until docs).foreach { d =>
      sb.append("-DOCSTART- -X- -X- O\n\n")
      var tok = 1 // the reader keeps -DOCSTART- as token 0 of each document
      var prevType = "" // entity type of the previous token, "" if none
      (0 until 6 + r.nextInt(5)).foreach { _ =>
        val len = 10 + r.nextInt(11)
        // (token, pos, chunk, entity type or "", starts an entity)
        val row = Array.fill(len - 1)((filler(r.nextInt(filler.length)),
          pos(r.nextInt(pos.length)), if (r.nextBoolean()) "I-NP" else "O", "", false))
        val taken = new Array[Boolean](len - 1)
        if (r.nextInt(10) < 8) {
          val n = 1 + r.nextInt(3)
          val at = r.nextInt(len - 1 - n + 1)
          val t = EntityTypes(r.nextInt(EntityTypes.size))
          (0 until n).foreach { k =>
            row(at + k) = (entityWords(r.nextInt(entityWords.length)), "NNP", "I-NP", t, k == 0)
            taken(at + k) = true
          }
          entities += Entity(d, tok + at, tok + at + n, t)
          entityTokens += n
        }
        if (r.nextInt(4) == 0) {
          val e = entries(r.nextInt(entries.size))
          val free = (0 to len - 1 - e.size).filter(a => e.indices.forall(k => !taken(a + k)))
          if (free.nonEmpty) {
            val at = free(r.nextInt(free.size))
            e.indices.foreach { k =>
              row(at + k) = (e(k), "NN", "I-NP", "", false)
              taken(at + k) = true
            }
            mentions += Mention(d, tok + at, tok + at + e.size)
          }
        }
        row.foreach { case (w, p, c, t, starts) =>
          // IOB1: I- inside an entity; B- only where an entity directly
          // follows another of the same type
          val tag =
            if (t.isEmpty) "O"
            else if (starts && prevType == t) s"B-$t"
            else s"I-$t"
          sb.append(w).append(' ').append(p).append(' ').append(c).append(' ')
            .append(tag).append('\n')
          prevType = t
        }
        sb.append(". . O O\n\n")
        prevType = ""
        tok += len
      }
      tokens += tok
    }
    ConllData(sb.toString, entries.map(_.mkString(" ")), entities.toSeq,
      mentions.toSeq, docs, tokens, entityTokens)
  }

  // --------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String)
  final case class CorpusData(docs: Seq[Doc], eval: Seq[Doc],
      nearDupPairs: Seq[(Long, Long, Double)], contaminated: Set[Long],
      lowQuality: Set[Long]) {
    def textBytes: Long = docs.map(_.text.length.toLong).sum
  }

  /** Word 3-gram shingle Jaccard over lowercase alphanumeric words — the
    * definition the program's minhash verify uses. */
  def jaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(s: String) = {
      val ws = "[a-z0-9]+".r.findAllIn(s.toLowerCase).toIndexedSeq
      if (ws.length < k) Set(ws.mkString(" ")) else ws.sliding(k).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def sentenceText(r: SplittableRandom, vocab: Array[String], stops: Array[String],
      nWords: Int): String = {
    val sb = new StringBuilder
    (0 until nWords).foreach { i =>
      if (i > 0) sb.append(' ')
      sb.append(if (stops.nonEmpty && r.nextInt(10) < 3) stops(r.nextInt(stops.length))
        else vocab(r.nextInt(vocab.length)))
      if (i % 12 == 11 && i + 1 < nWords) sb.append('.')
    }
    sb.append('.').toString
  }

  /**
   * A web-like training corpus. Planted, by share of documents: 6% near
   * duplicates (one word of an earlier original replaced, so shingle
   * Jaccard is about 0.95), 1% eval-contaminated documents (a 12-word run
   * copied from an eval-slice document), 3% low-quality documents
   * (symbol soup) and 3% documents with no stopwords (undetermined
   * language); the rest are 70% English, 15% German, 15% French.
   */
  def corpus(seed: Long, n: Int, nEval: Int = 40): CorpusData = {
    val r = rng(seed, 2)
    val vocab = words(r, 20000)
    val eval = (0 until nEval).map(i =>
      Doc(1000000000L + i, sentenceText(r, vocab, Stops("en"), 60)))
    val docs = mutable.ArrayBuffer.empty[Doc]
    val originals = mutable.ArrayBuffer.empty[Int] // indexes usable as dup sources
    val pairs = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val contaminated = mutable.Set.empty[Long]
    val low = mutable.Set.empty[Long]
    (0 until n).foreach { i =>
      val id = i.toLong
      val roll = r.nextInt(100)
      if (roll < 6 && originals.nonEmpty) {
        val src = docs(originals(r.nextInt(originals.size)))
        val ws = src.text.split(' ')
        val at = r.nextInt(ws.length - 1) // never the final "word."
        ws(at) = vocab(r.nextInt(vocab.length)) + (if (ws(at).endsWith(".")) "." else "")
        val text = ws.mkString(" ")
        docs += Doc(id, text)
        pairs += ((src.id, id, jaccard(src.text, text)))
      } else if (roll < 7) {
        val e = eval(r.nextInt(eval.size)).text.split(' ')
        val at = r.nextInt(e.length - 12)
        val own = sentenceText(r, vocab, Stops("en"), 80 + r.nextInt(40))
        docs += Doc(id, own + " " + e.slice(at, at + 12).mkString(" ") + " " +
          sentenceText(r, vocab, Stops("en"), 20))
        contaminated += id
      } else if (roll < 10) {
        val junk = Array("#", "$$", "%%", "@@", "!!", "&&", "**", "||", "~~", "^^")
        docs += Doc(id, (0 until 120).map(_ =>
          if (r.nextInt(5) == 0) vocab(r.nextInt(vocab.length))
          else junk(r.nextInt(junk.length))).mkString(" "))
        low += id
      } else if (roll < 13) {
        docs += Doc(id, sentenceText(r, vocab, Array.empty, 90 + r.nextInt(60)))
      } else {
        val l = r.nextInt(100) match { case x if x < 70 => "en"; case x if x < 85 => "de"; case _ => "fr" }
        docs += Doc(id, sentenceText(r, vocab, Stops(l), 90 + r.nextInt(60)))
        originals += docs.length - 1
      }
    }
    CorpusData(docs.toSeq, eval, pairs.toSeq, contaminated.toSet, low.toSet)
  }

  // --------------------------------------------------------------- ingest

  final case class VDoc(id: Long, text: String, vec: Array[Double])
  /** A batch and its planted re-ingests, as (new id, source id). */
  final case class Batch(index: Int, docs: Seq[VDoc], reingests: Seq[(Long, Long)])

  /**
   * The self-updating ingest stream: a seed corpus and an endless sequence
   * of small batches, each a pure function of (seed, batch index). Seed
   * documents with id % 7 == 0 form the takedown pool: `takedowns(step)`
   * lists the ids removed at takedown `step`, and they are never re-ingest
   * sources. Each batch re-ingests earlier seed documents (10%; same text,
   * the vector plus 1e-4 noise) and, once takedowns have happened, copies
   * two already-taken-down documents, which must then match nothing.
   */
  final class Ingest(seed: Long, val seedDocs: Int, val batchDocs: Int, val dim: Int) {
    private val vocab = words(rng(seed, 3), 20000)
    private def textOf(id: Long): String =
      sentenceText(rng(seed, 1000003L + id), vocab, Stops("en"), 40 + (id % 41).toInt)
    private def vecOf(id: Long): Array[Double] = {
      val r = rng(seed, 7000001L + id)
      Array.fill(dim)(gauss(r))
    }
    private def gauss(r: SplittableRandom): Double = {
      // Box-Muller, one value
      val u = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def seedCorpus: Seq[VDoc] = (0L until seedDocs).map(i => VDoc(i, textOf(i), vecOf(i)))

    val takedownSize = 10
    /** Seed ids removed at takedown step `step` (0-based). */
    def takedowns(step: Int): Seq[Long] = {
      val pool = (0L until seedDocs by 7).toIndexedSeq
      (0 until takedownSize).map(k => pool((step * takedownSize + k) % pool.size))
    }

    /** Batch `b`; `takedownsBefore` is how many takedown steps have run. */
    def batch(b: Int, takedownsBefore: Int): Batch = {
      val r = rng(seed, 5000011L + b)
      val base = seedDocs.toLong + b.toLong * batchDocs
      val re = mutable.ArrayBuffer.empty[(Long, Long)]
      val gone = (0 until takedownsBefore).flatMap(takedowns)
      val docs = (0 until batchDocs).map { j =>
        val id = base + j
        if (j < 2 && gone.nonEmpty) {
          val src = gone(r.nextInt(gone.size))
          VDoc(id, textOf(src), vecOf(src).map(_ + 1e-4 * gauss(r)))
        } else if (r.nextInt(10) == 0) {
          var src = r.nextLong(seedDocs.toLong)
          while (src % 7 == 0) src = r.nextLong(seedDocs.toLong)
          re += ((id, src))
          VDoc(id, textOf(src), vecOf(src).map(_ + 1e-4 * gauss(r)))
        } else VDoc(id, textOf(id), vecOf(id))
      }
      Batch(b, docs, re.toSeq)
    }
  }

  /** Bytes of user text and vectors (8 bytes per double). */
  def inputBytes(docs: Seq[VDoc]): Long =
    docs.map(d => d.text.getBytes("UTF-8").length.toLong + 8L * d.vec.length).sum

  def digest(docs: Seq[VDoc]): String = {
    val bo = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bo)
    docs.foreach { d => out.writeLong(d.id); out.writeUTF(d.text); d.vec.foreach(out.writeDouble) }
    sha256(bo.toByteArray)
  }

  def digestDocs(docs: Seq[Doc]): String = {
    val bo = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bo)
    docs.foreach { d => out.writeLong(d.id); out.writeUTF(d.text) }
    sha256(bo.toByteArray)
  }
}
